package perfbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A JSON-ready record: insertion-ordered string keys. */
object Rec {
  def apply(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
}

/** The run's clock: every time in the output is milliseconds since the
  * run started, so spans from the harness (nanoTime) and events from
  * Spark's listener buses (epoch milliseconds) share one axis. */
final class Clock {
  private val t0Ns = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis().toDouble
  def nowMs: Double = (System.nanoTime() - t0Ns) / 1e6
  def fromEpochMs(ms: Long): Double = ms - t0EpochMs
}

/** In-memory span recorder. Spans form a tree through `parent`; the
  * trace is written once, when the run ends. A disabled recorder keeps
  * nothing, so untraced passes pay only a boolean check per call. */
final class Spans(clock: Clock) {
  @volatile var enabled = false
  private val spans = new JList[JMap[String, Any]]()
  private var nextId = 0L

  /** Time `body` as a span named `name` under `parent`; returns the
    * body's value and the span id (-1 when disabled). */
  def apply[T](name: String, parent: Long, attrs: (String, Any)*)
      (body: Long => T): T = {
    if (!enabled) return body(-1L)
    val id = synchronized { nextId += 1; nextId }
    val start = clock.nowMs
    try body(id)
    finally {
      val rec = Rec("id" -> id, "parent" -> parent, "name" -> name,
        "start_ms" -> start, "end_ms" -> clock.nowMs)
      attrs.foreach { case (k, v) => rec.put(k, v) }
      synchronized(spans.add(rec))
    }
  }

  def all: JList[JMap[String, Any]] = spans
}

/** Records Spark jobs and stages, tagged with the op that caused them
  * through the `perfbench.op` local property. Registered only on traced
  * passes. */
final class JobListener(clock: Clock) extends SparkListener {
  val jobs = new JList[JMap[String, Any]]()
  val stages = new JList[JMap[String, Any]]()
  private val openJobs = new java.util.HashMap[Int, JMap[String, Any]]()
  private val stageOp = new java.util.HashMap[Int, String]()

  private def opOf(p: java.util.Properties): String =
    if (p == null) null else p.getProperty(Harness.OpProperty)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    openJobs.put(e.jobId, Rec("job" -> e.jobId, "op" -> opOf(e.properties),
      "start_ms" -> clock.fromEpochMs(e.time)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val j = openJobs.remove(e.jobId)
    if (j != null) {
      j.put("end_ms", clock.fromEpochMs(e.time))
      jobs.add(j)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized(stageOp.put(e.stageInfo.stageId, opOf(e.properties)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      val m = s.taskMetrics
      val rec = Rec("stage" -> s.stageId, "op" -> stageOp.get(s.stageId),
        "tasks" -> s.numTasks,
        "start_ms" -> s.submissionTime.map(clock.fromEpochMs).getOrElse(0.0),
        "end_ms" -> s.completionTime.map(clock.fromEpochMs).getOrElse(0.0))
      if (m != null) {
        rec.put("run_ms", m.executorRunTime)
        rec.put("cpu_ns", m.executorCpuTime)
        rec.put("gc_ms", m.jvmGCTime)
        rec.put("result_bytes", m.resultSize)
        rec.put("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        rec.put("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        rec.put("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        rec.put("input_rows", m.inputMetrics.recordsRead)
      }
      stages.add(rec)
    }
}

/** Records micro-batch progress of every streaming query. */
final class StreamListener(clock: Clock) extends StreamingQueryListener {
  val batches = new JList[JMap[String, Any]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs
    def dur(k: String): Long =
      if (d.containsKey(k)) d.get(k).longValue else 0L
    val startMs = clock.fromEpochMs(
      java.time.Instant.parse(p.timestamp).toEpochMilli)
    batches.add(Rec("batch" -> p.batchId, "start_ms" -> startMs,
      "trigger_ms" -> dur("triggerExecution"),
      "add_batch_ms" -> dur("addBatch"),
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum))
  }
}
