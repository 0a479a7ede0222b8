package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** In-memory spans, written out when the run ends. Times are epoch
  * milliseconds so harness, listener and JDBC spans share one clock.
  *
  * Every span has a key and the key of the span that caused it:
  *  - `span:N` — a call the benchmark makes into a layer;
  *  - `job:N` / `stage:N` — reported by the SparkListener; a job's parent
  *    is the `perfbench.span` job property, or for a streaming job the
  *    trigger named by Spark's query-id and batch-id properties;
  *  - `trigger:<queryId>:<batchId>` — from the StreamingQueryListener;
  *  - `jdbc:N` — a driver call; its parent is the stage of the task that
  *    made it (`TaskContext`), else the benchmark span on that thread.
  */
object Trace {
  @volatile var enabled = false
  val SpanProperty = "perfbench.span"

  private val baseEpochMs = System.currentTimeMillis()
  private val baseNano = System.nanoTime()
  def epochMs(nano: Long): Double = baseEpochMs + (nano - baseNano) / 1e6
  def nowMs: Double = epochMs(System.nanoTime())

  final case class Span(key: String, parent: String, layer: String, name: String,
      startMs: Double, endMs: Double)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val current = new ThreadLocal[String] { override def initialValue(): String = "" }

  def add(s: Span): Unit = if (enabled) { spans.add(s); () }

  /** Runs `body` as one benchmark-side span. Spark jobs submitted from
    * this thread carry the span key as a job property, so the listener
    * can parent them. `layer` is read when the span ends, so it may depend
    * on what the body did. */
  def around[T](layer: => String, name: String)(body: => T): T = {
    val key = s"span:${ids.incrementAndGet()}"
    val parent = current.get
    val sc = SparkSession.getDefaultSession.map(_.sparkContext)
    val prevProp = sc.map(_.getLocalProperty(SpanProperty)).orNull
    current.set(key)
    sc.foreach(_.setLocalProperty(SpanProperty, key))
    val t0 = nowMs
    try body
    finally {
      add(Span(key, parent, layer, name, t0, nowMs))
      current.set(parent)
      sc.foreach(_.setLocalProperty(SpanProperty, prevProp))
    }
  }

  def currentKey: String = current.get

  def jdbc(op: String, t0: Long, t1: Long): Unit = if (enabled) {
    val tc = TaskContext.get()
    val parent = if (tc == null) current.get else s"stage:${tc.stageId()}"
    add(Span(s"jdbc:${ids.incrementAndGet()}", parent, "sinks", op, epochMs(t0), epochMs(t1)))
  }

  def all: Vector[Span] = spans.asScala.toVector
}

/** Task metrics of one finished task, kept so that the run can sum them
  * by time window (streams) or by the query that submitted them (batch). */
final case class TaskRec(finishMs: Long, owner: String, sinkStage: Boolean,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
    fetchWaitMs: Long, spillDisk: Long, scanBytes: Long, scanRecords: Long)

final case class JobRec(endMs: Long, owner: String, stages: Int)

/** Reads what Spark reports to a SparkListener. */
final class ExecListener extends SparkListener {
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stageOwner = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val sinkStages = ConcurrentHashMap.newKeySet[Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String, String, Int)]()
  val events = new AtomicLong

  private def parentOf(props: java.util.Properties): String =
    if (props == null) ""
    else {
      val qid = props.getProperty("sql.streaming.queryId")
      val bid = props.getProperty("streaming.sql.batchId")
      if (qid != null && bid != null) s"trigger:$qid:$bid"
      else Option(props.getProperty(Trace.SpanProperty)).getOrElse("")
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val owner = Option(e.properties).flatMap(p => Option(p.getProperty(Main.QueryProperty))).getOrElse("")
    e.stageIds.foreach { s => stageOwner.put(s, owner); stageJob.putIfAbsent(s, e.jobId) }
    // in this topology every streaming job is the foreachPartition of
    // JdbcUpsert.upsert; its result stage runs the writer
    if (e.properties != null && e.properties.getProperty("sql.streaming.queryId") != null &&
        e.stageIds.nonEmpty)
      sinkStages.add(e.stageIds.max)
    jobStart.put(e.jobId, (e.time, owner, parentOf(e.properties), e.stageIds.size))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobStart.remove(e.jobId)).foreach { case (t0, owner, parent, nStages) =>
      jobs.add(JobRec(e.time, owner, nStages))
      Trace.add(Trace.Span(s"job:${e.jobId}", parent, "exec", "job", t0.toDouble, e.time.toDouble))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val si = e.stageInfo
    for (t0 <- si.submissionTime; t1 <- si.completionTime)
      Trace.add(Trace.Span(s"stage:${si.stageId}",
        Option(stageJob.get(si.stageId)).map(j => s"job:$j").getOrElse(""),
        "exec", si.name, t0.toDouble, t1.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      tasks.add(TaskRec(e.taskInfo.finishTime,
        Option(stageOwner.get(e.stageId)).getOrElse(""),
        sinkStages.contains(e.stageId),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
    }
  }

  /** Listener events arrive on Spark's bus after the call that caused
    * them returns; wait until the bus has been quiet for a moment. */
  def settle(): Unit = {
    var last = -1L
    var quiet = 0
    val deadline = System.currentTimeMillis() + 10000
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val n = events.get
      if (n == last) quiet += 1 else { quiet = 0; last = n }
    }
  }
}

/** One trigger of one streaming query, as its progress event reports it. */
final case class TriggerRec(query: String, queryId: String, batchId: Long,
    startMs: Long, durations: Map[String, Long], inputRows: Long,
    stateRowsTotal: Long, stateRowsUpdated: Long, stateCommitMs: Long,
    stateMemoryBytes: Long)

/** Reads what Spark reports to a StreamingQueryListener. */
final class ProgressListener extends StreamingQueryListener {
  val triggers = new ConcurrentLinkedQueue[TriggerRec]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val durs = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val ops = p.stateOperators.toSeq
    val rec = TriggerRec(p.name, p.id.toString, p.batchId, start, durs, p.numInputRows,
      ops.map(_.numRowsTotal).sum, ops.map(_.numRowsUpdated).sum,
      ops.map(_.commitTimeMs).sum, ops.map(_.memoryUsedBytes).sum)
    triggers.add(rec)
    // a trigger that ran no batch has no batch id of its own to parent jobs
    if (p.numInputRows > 0 || durs.contains("addBatch"))
      Trace.add(Trace.Span(s"trigger:${rec.queryId}:${rec.batchId}", Main.measureKey,
        "streaming", p.name, start.toDouble, (start + durs.getOrElse("triggerExecution", 0L)).toDouble))
  }
}
