package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.operators.{Ecommerce, PairGraph}
import graft.sinks.JdbcUpsert.ConnConfig
import graft.streaming.EcommerceStreamJob
import graft.streaming.EcommerceStreamJob.JobConfig

/** The JVM side of the benchmark. It drives the program only through its
  * public entry points (`GraftSession.local`, `EcommerceStreamJob.startAll`
  * / `fileSource` / `parse`, `SparkEntry.queries`), observes it from
  * outside, and writes what it saw to `<work>/observations.json`.
  * `run.py` turns that file into metrics and checks.
  *
  * Usage: `Main --workload W --work DIR --cores N --trace 0|1
  *   --launch-ms EPOCH_MS [--max-files-per-trigger M]`
  */
object Main {
  /** Job property naming the batch query that submitted a job. */
  val QueryProperty = "perfbench.query"
  /** Key of the span covering the measured window; triggers hang off it. */
  @volatile var measureKey = ""

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  def toJson(v: Any): String = json.writeValueAsString(v)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = opts("cores")
    Trace.enabled = opts("trace") == "1"
    val out = mutable.LinkedHashMap[String, Any](
      "boot_s" -> (System.currentTimeMillis() - opts("launch-ms").toLong) / 1e3)
    RecordingDb.register()
    opts("workload") match {
      case "stream_live" | "stream_backfill" => Stream.run(opts, work, cores, out)
      case "batch_session" => Batch.run(opts, work, cores, out)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    out("trace") = Trace.all.map(s => Map("key" -> s.key, "parent" -> s.parent,
      "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    val tmp = work.resolve("observations.json.tmp")
    Files.writeString(tmp, toJson(out))
    Files.move(tmp, work.resolve("observations.json"), StandardCopyOption.ATOMIC_MOVE)
    SparkSession.getDefaultSession.foreach(_.stop())
  }

  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One fresh session with both listeners attached. */
  def session(cores: String): (SparkSession, ExecListener, ProgressListener) = {
    val spark = GraftSession.local("perfbench", cores)
    val exec = new ExecListener
    val progress = new ProgressListener
    spark.sparkContext.addSparkListener(exec)
    spark.streams.addListener(progress)
    (spark, exec, progress)
  }

  /** Heap still in use after a forced full collection. */
  def retainedHeapMb(): Double = {
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    // collect until a full collection frees less than 1% more
    var last = Long.MaxValue
    var now = { System.gc(); used }
    var rounds = 1
    while (rounds < 6 && now < last * 0.99) {
      last = now
      Thread.sleep(50)
      System.gc()
      now = used
      rounds += 1
    }
    now / 1048576.0
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** `graft.Bench`'s all-core calibration (`calib_par_s`) over a quarter of
    * its range, so multiply by 4 to compare with Bench's figure. */
  def calibParS(spark: SparkSession): Double = secondsOf {
    spark.range(0, 1L << 28, 1, 64).select(max(xxhash64(col("id")))).collect()
  }._2

  def host(spark: SparkSession, cores: String): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "cores" -> cores.toInt,
    "jvm" -> System.getProperty("java.vm.version"),
    "spark" -> spark.version,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
    "calib_par_s" -> calibParS(spark))

  /** Task and job totals, in the shape run.py reads as `exec.*`. */
  def execTotals(tasks: Seq[TaskRec], jobs: Seq[JobRec]): Map[String, Any] = Map(
    "jobs" -> jobs.size, "stages" -> jobs.map(_.stages).sum, "tasks" -> tasks.size,
    "run_ms" -> tasks.map(_.runMs).sum, "cpu_ms" -> tasks.map(_.cpuNs).sum / 1e6,
    "gc_ms" -> tasks.map(_.gcMs).sum,
    "shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum,
    "shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum,
    "fetch_wait_ms" -> tasks.map(_.fetchWaitMs).sum,
    "spill_disk_bytes" -> tasks.map(_.spillDisk).sum,
    "scan_bytes" -> tasks.map(_.scanBytes).sum,
    "scan_records" -> tasks.map(_.scanRecords).sum,
    "sink_task_ms" -> tasks.filter(_.sinkStage).map(_.runMs).sum)

  /** Full evaluation of every output column, as `graft.Bench` does it. */
  def exhaust(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** stream_live and stream_backfill: the reference topology via `startAll`. */
object Stream {
  import Main._

  def run(opts: Map[String, String], work: Path, cores: String,
      out: mutable.Map[String, Any]): Unit = {
    val live = opts("workload") == "stream_live"
    val sourceOptions =
      opts.get("max-files-per-trigger").map(m => Map("maxFilesPerTrigger" -> m)).getOrElse(Map.empty)

    // Set-up, once, in this fresh JVM: session, `startAll` (DDL included)
    // and every query committing the warm-up slice.
    val ((spark, exec, progress), sessionS) = secondsOf(Trace.around("setup", "session")(session(cores)))
    val src = Files.createDirectories(work.resolve("src"))
    val ckpt = work.resolve("ckpt")
    Files.copy(work.resolve("warmup.jsonl"), src.resolve("warmup.jsonl"))
    val cfg = JobConfig(checkpointRoot = ckpt.toString,
      db = ConnConfig(s"${RecordingDb.UrlPrefix}bench", "bench", "bench",
        driver = classOf[RecordingDriver].getName))
    val (queries, startS) = secondsOf(Trace.around("setup", "startAll") {
      EcommerceStreamJob.startAll(spark, cfg,
        Some(EcommerceStreamJob.fileSource(spark, src.toString, sourceOptions)))
    })
    val (_, warmS) = secondsOf(Trace.around("setup", "warmup")(queries.foreach(_.processAllAvailable())))
    out("setup") = Map("session_s" -> sessionS, "ddl_s" -> RecordingDb.driverSideNanos.get / 1e9,
      "start_s" -> startS, "warmup_s" -> warmS, "total_s" -> (sessionS + startS + warmS))
    out("src_dir") = src.toString
    out("ckpt_dir") = ckpt.toString
    out("query_ids") = queries.map(q => q.name -> q.id.toString).toMap

    val gc0 = gcMs()
    resetHeapPeak()
    val startCounters = RecordingDb.counters
    val windowStart = System.currentTimeMillis()
    val measure = Trace.around("streaming", "measure") {
      measureKey = Trace.currentKey
      if (live) {
        Files.writeString(work.resolve("ready.tmp"), src.toString)
        Files.move(work.resolve("ready.tmp"), work.resolve("ready"), StandardCopyOption.ATOMIC_MOVE)
        val done = work.resolve("gen.json")
        val deadline = System.currentTimeMillis() + 150000
        while (!Files.exists(done)) {
          require(System.currentTimeMillis() < deadline, "generator did not finish")
          queries.foreach(q => q.exception.foreach(e => throw e))
          Thread.sleep(20)
        }
        Map("land_ms" -> 0L)
      } else {
        // land the backfill at once: stamp each staged file with the
        // landing time, then rename it into the watched directory
        val staged = Files.list(work.resolve("staged")).iterator().asScala.toVector
          .sortBy(_.getFileName.toString)
        val landMs = System.currentTimeMillis()
        staged.foreach { p =>
          Files.setLastModifiedTime(p, FileTime.fromMillis(landMs))
          Files.move(p, src.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
        }
        Map("land_ms" -> landMs, "landed_ms" -> System.currentTimeMillis())
      }
    }
    queries.foreach(_.processAllAvailable())
    out("measure") = measure
    out("retained_heap_mb") = retainedHeapMb()
    out("jvm") = Map("gc_ms" -> (gcMs() - gc0), "heap_peak_mb" -> heapPeakMb())
    queries.foreach(_.stop())
    exec.settle()
    queries.foreach(q => q.exception.foreach(e => throw e))

    val end = RecordingDb.counters
    out("sinks") = end.map { case (k, v) => k -> (v - startCounters(k)) }
    val windowTasks = exec.tasks.asScala.toSeq.filter(_.finishMs >= windowStart)
    val windowJobs = exec.jobs.asScala.toSeq.filter(_.endMs >= windowStart)
    out("exec") = execTotals(windowTasks, windowJobs)
    out("triggers") = progress.triggers.asScala.toSeq.map(t => Map(
      "query" -> t.query, "query_id" -> t.queryId, "batch_id" -> t.batchId,
      "start_ms" -> t.startMs, "durations" -> t.durations, "input_rows" -> t.inputRows,
      "state_rows_total" -> t.stateRowsTotal, "state_rows_updated" -> t.stateRowsUpdated,
      "state_commit_ms" -> t.stateCommitMs, "state_memory_bytes" -> t.stateMemoryBytes))
    out("sink_state") = sinkState()
    out("expected") = expected(spark, src)
    out("host") = host(spark, cores)
  }

  private def num(v: Any): Double = v.asInstanceOf[Number].doubleValue

  /** The committed end-state of the four tables, as the check reads it. */
  def sinkState(): Map[String, Any] = {
    val raw = RecordingDb.rowsOf("transactions")
    Map(
      "transactions" -> Map("rows" -> raw.size,
        "total_amount" -> raw.map(r => num(r("total_amount"))).sum,
        "distinct_ids" -> raw.map(_("transaction_id")).distinct.size),
      "sales_per_category" -> RecordingDb.rowsOf("sales_per_category")
        .map(r => r("category").toString -> num(r("total_sales"))).toMap,
      "sales_per_day" -> RecordingDb.rowsOf("sales_per_day")
        .map(r => r("transaction_date").toString -> num(r("total_sales"))).toMap,
      "sales_per_month" -> RecordingDb.rowsOf("sales_per_month")
        .map(r => r("month").toString -> num(r("total_sales"))).toMap)
  }

  /** `graft.operators.Ecommerce` batch aggregates of every line the stream
    * read, plus the parse layer timed on those lines as one batch frame. */
  def expected(spark: SparkSession, src: Path): Map[String, Any] = {
    val lines = spark.read.text(src.toString).select(col("value"))
    val (_, parseS) =
      if (!Trace.enabled) ((), 0.0)
      else secondsOf(Trace.around("ingest", "parse")(exhaust(EcommerceStreamJob.parse(lines))))
    val tx = EcommerceStreamJob.parse(lines).cache()
    def byKey(df: DataFrame, key: String): Map[String, Double] =
      df.collect().map(r => String.valueOf(r.getAs[Any](key)) -> r.getAs[Double]("total_sales")).toMap
    val raw = tx.agg(count(lit(1)), sum(col("totalAmount")), countDistinct(col("transactionId"))).head()
    val res = Map(
      "parse_s" -> parseS,
      "records_in" -> lines.count(),
      "valid" -> raw.getLong(0),
      "transactions" -> Map("rows" -> raw.getLong(0), "total_amount" -> raw.getDouble(1),
        "distinct_ids" -> raw.getLong(2)),
      "sales_per_category" -> byKey(Ecommerce.salesPerCategory(tx, "productCategory", "totalAmount"), "category"),
      "sales_per_day" -> byKey(Ecommerce.salesPerDay(tx, "transactionDate", "totalAmount"), "transaction_date"),
      "sales_per_month" -> byKey(Ecommerce.salesPerMonthOfYear(tx, "transactionDate", "totalAmount"), "month"))
    tx.unpersist()
    res
  }
}

/** batch_session: one fresh JVM, empty registry, each listed query once. */
object Batch {
  import Main._

  def run(opts: Map[String, String], work: Path, cores: String,
      out: mutable.Map[String, Any]): Unit = {
    val names = Files.readAllLines(work.resolve("queries.txt")).asScala.toVector.filter(_.nonEmpty)
    val dir = work.resolve("tables").toString
    // set-up, once, in this fresh JVM: the session is up
    val ((spark, exec, _), setupS) = secondsOf(Trace.around("setup", "session")(session(cores)))
    out("setup") = Map("session_s" -> setupS, "ddl_s" -> 0.0, "warmup_s" -> 0.0, "total_s" -> setupS)
    require(PairGraph.size == 0, "the registry must start empty")

    val sc = spark.sparkContext
    val gc0 = gcMs()
    resetHeapPeak()
    val frames = mutable.LinkedHashMap[String, DataFrame]()
    val records = mutable.ArrayBuffer[Map[String, Any]]()
    val (_, sessionS) = secondsOf(Trace.around("catalog", "session") {
      measureKey = Trace.currentKey
      names.foreach { n =>
        sc.setLocalProperty(QueryProperty, n)
        val size0 = PairGraph.size
        val t0 = System.nanoTime()
        try {
          // a build that grew the registry derived an artifact there
          val df = Trace.around(if (PairGraph.size > size0) "registry" else "catalog",
            s"build $n")(SparkEntry.queries(n)(spark, dir))
          val t1 = System.nanoTime()
          val size1 = PairGraph.size
          Trace.around("exec", s"exhaust $n")(exhaust(df))
          val t2 = System.nanoTime()
          frames(n) = df
          records += Map("name" -> n, "ok" -> true, "build_s" -> (t1 - t0) / 1e9,
            "exec_s" -> (t2 - t1) / 1e9, "derives_build" -> (size1 - size0),
            "derives" -> (PairGraph.size - size0))
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $n failed: $e")
            records += Map("name" -> n, "ok" -> false, "error" -> e.toString,
              "build_s" -> 0.0, "exec_s" -> (System.nanoTime() - t0) / 1e9,
              "derives_build" -> 0, "derives" -> (PairGraph.size - size0))
        }
        sc.setLocalProperty(QueryProperty, null)
      }
    })
    out("session_s") = sessionS
    out("queries") = records.toSeq
    out("retained_heap_mb") = retainedHeapMb()
    out("jvm") = Map("gc_ms" -> (gcMs() - gc0), "heap_peak_mb" -> heapPeakMb())
    out("registry") = Map("entries_end" -> PairGraph.size)
    exec.settle()
    val tasks = exec.tasks.asScala.toSeq.filter(t => names.contains(t.owner))
    val jobs = exec.jobs.asScala.toSeq.filter(j => names.contains(j.owner))
    out("exec") = execTotals(tasks, jobs)

    // outputs for the oracle check, outside the timed window: the frames
    // that were timed, written out, and the oracle SQL of each
    val outDir = work.resolve("out")
    frames.foreach { case (n, df) => df.coalesce(1).write.parquet(outDir.resolve(n).toString) }
    Files.writeString(outDir.resolve("oracle_sql.json"),
      toJson(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    out("host") = host(spark, cores)
  }
}
