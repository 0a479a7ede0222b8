package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.sinks.{FakeDb, JdbcUpsert}
import graft.streaming.EcommerceStreamJob
import graft.streaming.EcommerceStreamJob.JobConfig

/** Streaming DURABILITY evidence — the half of the streaming story the
  * in-memory state provider cannot show: the job under the RocksDB
  * state store, STOPPED MID-RUN and restarted from its checkpoint.
  * Asserts (1) the restarted run resumes the running sums (state
  * restored, not recomputed from zero), (2) the final sink
  * end-state is EXACTLY the batch aggregates over all events — the
  * at-least-once + idempotent-upsert convergence contract the
  * reference relies on (`DataStreamJob.java:100-104`'s retries +
  * `ON CONFLICT` upserts) — and prints one `STREAMDURABILITY {...}`
  * line with events/s and the recovery time, recorded in BASELINE.md.
  *
  * Mid-run means mid-stream, not between-phases: the stop fires as
  * soon as the query has committed a first main batch, so the restart
  * exercises offset recovery, state reload, and replay of a
  * possibly-half-applied foreachBatch (idempotent by key, so replay
  * converges rather than double-counts). A second case makes that
  * half-applied batch certain with a sink outage, and a third pins the
  * refusal of a checkpoint the one-query-per-table job wrote.
  *
  * Volume: smoke default 50k; BASELINE recording runs use
  * `-Dgraft.streamBench.events=1000000` (the throughput spec's knob).
  */
class StreamDurabilitySpec extends SparkSpec {

  private val Events: Int =
    sys.props.get("graft.streamBench.events").map(_.toInt).getOrElse(50000)
  private val FilesN = 40

  test(s"RocksDB $Events-event topology: mid-run restart resumes state, end-state == batch") {
    val dir = Files.createTempDirectory("graft-streamdur-src")
    val ckpt = Files.createTempDirectory("graft-streamdur-ckpt")
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    val prevMpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.conf.set("spark.sql.files.maxPartitionBytes", 1024 * 1024)
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      FakeDb.register()
      val db = FakeDb.fresh("streamdur")
      val cfg = JobConfig(checkpointRoot = ckpt.toString, triggerMs = 50L,
        db = FakeDb.cfg("streamdur"))
      def source() = EcommerceStreamJob.fileSource(spark, dir.toString,
        Map("maxFilesPerTrigger" -> "4"))

      // all events land before the first run starts, so the stop below
      // interrupts genuine in-flight catch-up work
      StreamEventFixture.writeEvents(dir, fromId = 0, count = Events,
        files = FilesN, prefix = "events")

      // ---- run 1: start, let it get mid-stream, stop ----
      val t0 = System.nanoTime()
      val run1 = EcommerceStreamJob.startAll(spark, cfg, Some(source()))
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      def committedBatches: Int = run1.map(_.recentProgress.count(_.numInputRows > 0)).sum
      while (committedBatches < 1 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(committedBatches >= 1, "the query committed no batch before the stop")
      run1.foreach(_.stop())
      val run1S = (System.nanoTime() - t0) / 1e9
      val rowsAtStop = db.rowsOf("transactions").size
      assert(rowsAtStop < Events,
        s"stop was not mid-run: $rowsAtStop of $Events rows already landed")

      // ---- run 2: restart from the same checkpoint ----
      val t1 = System.nanoTime()
      val run2 = EcommerceStreamJob.startAll(spark, cfg, Some(source()))
      val (recoverS, catchupS, stateRows) =
        try {
          // recovery = restart until the first post-restart batch commits
          // (offset log + RocksDB state reload)
          val dl2 = System.nanoTime() + 120L * 1000 * 1000 * 1000
          def firstBatch: Boolean =
            run2.exists(_.recentProgress.exists(_.numInputRows > 0))
          while (!firstBatch && System.nanoTime() < dl2) Thread.sleep(20)
          val rec = (System.nanoTime() - t1) / 1e9
          run2.foreach(_.processAllAvailable())
          val cu = (System.nanoTime() - t1) / 1e9
          val st = run2.map(_.recentProgress.lastOption
            .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)).sum
          (rec, cu, st)
        } finally run2.foreach(_.stop())

      println(f"""STREAMDURABILITY {"events":$Events,"provider":"rocksdb",""" +
        f""""run1_s":$run1S%.1f,"rows_at_stop":$rowsAtStop,""" +
        f""""recovery_s":$recoverS%.2f,"catchup_s":$catchupS%.1f,""" +
        f""""events_per_sec":${(Events / (run1S + catchupS)).toLong},""" +
        f""""state_rows":$stateRows}""")

      // ---- exact convergence with batch aggregates over ALL events ----
      StreamEventFixture.assertEndStateIsBatch(
        spark.read.text(dir.toString).select(col("value")), db.rowsOf)
      // raw copy: every id exactly once despite the replayed batches
      assert(db.rowsOf("transactions").size === Events)
    } finally {
      prevProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevMpb)
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      StreamEventFixture.deleteRecursively(dir)
      StreamEventFixture.deleteRecursively(ckpt)
    }
  }

  test("sink outage after one table committed: restart replays the batch idempotently") {
    val dir = Files.createTempDirectory("graft-outage-src")
    val ckpt = Files.createTempDirectory("graft-outage-ckpt")
    try {
      FakeDb.register()
      val db = FakeDb.fresh("outage")
      val cfg = JobConfig(checkpointRoot = ckpt.toString, triggerMs = 50L,
        db = FakeDb.cfg("outage", maxRetries = 1))
      def source() = EcommerceStreamJob.fileSource(spark, dir.toString,
        Map("maxFilesPerTrigger" -> "1"))
      StreamEventFixture.writeEvents(dir, fromId = 0, count = 3000, files = 3,
        prefix = "events")

      // run 1: the production writer, with the database going down
      // after batch 1 committed its raw rows: every executeBatch of
      // that batch's category write fails, beyond the writer's retries
      val outage = new AtomicBoolean(false)
      val run1 = EcommerceStreamJob.startWithSink(spark, cfg, source()) {
        (table, keys) => (batch, batchId) =>
          if (table == "sales_per_category" && batchId == 1 && !outage.getAndSet(true))
            db.synchronized { db.failExecuteBatches = Int.MaxValue }
          JdbcUpsert.upsert(batch, table, keys, cfg.db)
      }
      try intercept[StreamingQueryException](run1.processAllAvailable())
      finally run1.stop()
      // the outage lasts until the last writer task of run 1 has given up
      val tracker = spark.sparkContext.statusTracker
      val drained = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (tracker.getExecutorInfos.map(_.numRunningTasks).sum > 0 &&
          System.nanoTime() < drained) Thread.sleep(20)
      db.synchronized { db.failExecuteBatches = 0 }
      assert(outage.get)
      assert(db.eventLog.contains("executeBatch:FAIL") && db.eventLog.contains("rollback"))
      // batch 1 is half-applied: its raw rows landed, its totals did not
      assert(db.rowsOf("transactions").size === 2000)
      val catSum = db.rowsOf("sales_per_category").map(_("total_sales").asInstanceOf[Double]).sum
      val rawSum = db.rowsOf("transactions").map(_("total_amount").asInstanceOf[Double]).sum
      assert(catSum < rawSum - 1.0, s"category totals $catSum already include batch 1")

      // run 2: the database is back; startAll resumes from the checkpoint,
      // replays batch 1 and goes on
      val run2 = EcommerceStreamJob.startAll(spark, cfg, Some(source()))
      try run2.foreach(_.processAllAvailable())
      finally run2.foreach(_.stop())
      StreamEventFixture.assertEndStateIsBatch(
        spark.read.text(dir.toString).select(col("value")), db.rowsOf)
      assert(db.rowsOf("transactions").size === 3000)
    } finally {
      StreamEventFixture.deleteRecursively(dir)
      StreamEventFixture.deleteRecursively(ckpt)
    }
  }

  test("startAll refuses a checkpoint root of the one-query-per-table job") {
    val ckpt = Files.createTempDirectory("graft-oldckpt")
    val dir = Files.createTempDirectory("graft-oldckpt-src")
    try {
      Seq("raw_transactions", "sales_per_category", "sales_per_day", "sales_per_month")
        .foreach(n => Files.createDirectories(ckpt.resolve(n).resolve("offsets")))
      FakeDb.register()
      FakeDb.fresh("oldckpt")
      val cfg = JobConfig(checkpointRoot = ckpt.toString, db = FakeDb.cfg("oldckpt"))
      val active = spark.streams.active.length
      val e = intercept[IllegalArgumentException] {
        EcommerceStreamJob.startAll(spark, cfg,
          Some(EcommerceStreamJob.fileSource(spark, dir.toString)))
      }
      assert(e.getMessage.contains("raw_transactions, sales_per_category"), e.getMessage)
      assert(e.getMessage.contains("startingOffsets=earliest"), e.getMessage)
      assert(spark.streams.active.length === active, "a query was started")
      assert(!Files.exists(ckpt.resolve("shared_source")))
    } finally {
      StreamEventFixture.deleteRecursively(dir)
      StreamEventFixture.deleteRecursively(ckpt)
    }
  }
}
