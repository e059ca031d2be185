package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** In-memory tracing for one benchmark run.
  *
  * Spans nest op → layer call (→ nested layer call) → Spark job. The
  * benchmark opens a span around each call it makes into the engine and
  * tags the calling thread with the span id through a SparkContext local
  * property, so every job the call starts carries its span. A
  * [[JobListener]] records jobs, stages and tasks; a [[StreamListener]]
  * records streaming progress. Nothing is written until the run ends.
  *
  * With tracing off, [[Tracer.span]] only runs its body: no listener is
  * registered and no span is kept.
  */
final case class Span(id: Long, parent: Long, op: Int, layer: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

final case class JobRec(
    id: Int,
    span: Long,
    startMs: Double,
    var endMs: Double = Double.NaN,
    var stages: Int = 0)

final case class TaskRec(
    job: Int,
    launchWaitMs: Double,
    runMs: Double,
    cpuMs: Double,
    gcMs: Double,
    durationMs: Double,
    shuffleRead: Long,
    shuffleWrite: Long,
    spill: Long,
    failed: Boolean)

object Tracer {
  /** The SparkContext local property that carries the current span id. */
  val SpanProp = "perfbench.span"
}

final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer.SpanProp
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall clock in ms with sub-ms resolution, comparable with Spark's
    * listener timestamps (epoch ms).
    */
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var current = 0L
  private var currentOp = -1

  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); Some(l) } else None

  /** Per-op counters the benchmark notes at layer boundaries. */
  val notes = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]

  def beginOp(op: Int): Unit = {
    currentOp = op
    if (enabled) notes += mutable.Map.empty[String, Double]
  }

  /** Add `v` to counter `k` of the current timed op (no-op untraced). */
  def note(k: String, v: Double): Unit =
    if (enabled && currentOp >= 0) notes(currentOp)(k) = notes(currentOp).getOrElse(k, 0.0) + v

  /** Keep the largest `v` seen for counter `k` of the current op. */
  def noteMax(k: String, v: Double): Unit =
    if (enabled && currentOp >= 0) notes(currentOp)(k) = math.max(notes(currentOp).getOrElse(k, 0.0), v)

  /** Run `body` inside a span of `layer`; returns its result. */
  def span[T](layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = current
      current = id
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = nowMs()
      try body
      finally {
        spans += Span(id, parent, currentOp, layer, t0, nowMs())
        current = parent
        sc.setLocalProperty(SpanProp, if (parent == 0) null else parent.toString)
      }
    }

  /** Block until the listener bus has delivered every event so far (in
    * both modes, so traced and untraced runs pause alike between ops).
    */
  def drain(): Unit = org.apache.spark.graft.ListenerBus.drain(sc)

  def close(): Unit = listener.foreach(sc.removeSparkListener)
}

/** Job, stage and task records, keyed so a task maps to its job and a job
  * to the span that started it.
  */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = JobRec(e.jobId, span, e.time.toDouble, stages = e.stageIds.size)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val m = e.taskMetrics
    val submitted = stageSubmitted.getOrElse(e.stageId, info.launchTime)
    tasks += TaskRec(
      job = stageJob.getOrElse(e.stageId, -1),
      launchWaitMs = math.max(0L, info.launchTime - submitted).toDouble,
      runMs = if (m == null) 0.0 else m.executorRunTime.toDouble,
      cpuMs = if (m == null) 0.0 else m.executorCpuTime / 1e6,
      gcMs = if (m == null) 0.0 else m.jvmGCTime.toDouble,
      durationMs = (info.finishTime - info.launchTime).toDouble,
      shuffleRead = if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      shuffleWrite = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      spill = if (m == null) 0L else m.diskBytesSpilled,
      failed = !info.successful)
  }
}

/** Streaming progress, gathered from every session. Registered through
  * the static `spark.sql.streaming.streamingQueryListeners` conf, so each
  * session — including the `newSession()` clones the engine drains on —
  * builds its own instance; all of them append to one buffer.
  */
class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    StreamListener.synchronized { StreamListener.progress += e.progress }
}

object StreamListener {
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  /** Take and clear everything received so far. */
  def take(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = synchronized {
    val out = progress.toSeq
    progress.clear()
    out
  }
}
