package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The engine's one profiling listener: Bench's shuffle/spill bytes and
  * [[graft.tools.Probe]]'s job spans, stage records and micro-batch
  * progress all come from here, accumulated since the last [[reset]].
  *
  * Delivery is asynchronous: drain the bus
  * (`org.apache.spark.graft.ListenerBus.drain`) before reading, so a
  * record is complete by construction — a fixed sleep can drop the
  * heaviest stage when the bus delivers late.
  *
  * Streaming progress needs no StreamingQueryListener: every session's
  * streaming bus — the drains' scoped `newSession()`s included — re-posts
  * its events on the context-wide bus, where they arrive here as
  * `onOtherEvent`.
  */
final class QueryListener extends SparkListener {
  import QueryListener._

  private val shuffleRead = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val memSpill = new AtomicLong
  private val diskSpill = new AtomicLong
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val completedStages = new ConcurrentLinkedQueue[Stage]()
  // per-stage max single-task run time — the skew signal aggregate stage
  // metrics hide (wall ≈ maxTask on an otherwise idle box)
  private val maxTask = new ConcurrentHashMap[Int, Long]()
  private val starts = new ConcurrentLinkedQueue[QueryStartedEvent]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  def reset(): Unit = {
    Seq(shuffleRead, shuffleWrite, memSpill, diskSpill).foreach(_.set(0L))
    jobs.clear(); completedStages.clear(); maxTask.clear(); starts.clear(); progress.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      .getOrElse("?")
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L, desc))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      memSpill.addAndGet(m.memoryBytesSpilled)
      diskSpill.addAndGet(m.diskBytesSpilled)
      maxTask.merge(te.stageId, m.executorRunTime, (a, b) => math.max(a, b))
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val i = sc.stageInfo
    val m = i.taskMetrics
    completedStages.add(Stage(
      m.executorRunTime, m.executorCpuTime / 1000000,
      maxTask.getOrDefault(i.stageId, -1L), m.jvmGCTime, i.numTasks,
      m.inputMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, i.name))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: QueryStartedEvent  => starts.add(s)
    case p: QueryProgressEvent => progress.add(p.progress)
    case _                     =>
  }

  def bytes: Bytes = Bytes(shuffleRead.get, shuffleWrite.get, memSpill.get, diskSpill.get)

  /** Completed jobs, in start order. */
  def jobSpans: Seq[Job] = jobs.values.asScala.toSeq.filter(_.endMs >= 0).sortBy(_.startMs)

  /** Wall-clock ms of `[t0Ms, t1Ms]` during which no job ran: planning,
    * driver-side collects, parquet commit protocol, artifact param reads —
    * the time stage-level metrics cannot see.
    */
  def driverGapMs(t0Ms: Long, t1Ms: Long): Long = {
    var covered = 0L
    var cursor = t0Ms
    jobSpans.foreach { j =>
      val s = math.max(j.startMs, cursor)
      val end = math.min(j.endMs, t1Ms)
      if (end > s) { covered += end - s; cursor = end }
    }
    t1Ms - t0Ms - covered
  }

  /** Completed stages, in completion order. */
  def stages: Seq[Stage] = completedStages.asScala.toSeq

  /** Micro-batch progress events, in arrival order. */
  def batches: Seq[StreamingQueryProgress] = progress.asScala.toSeq

  def streamStarts: Int = starts.size

  /** Sum over streaming queries of (first trigger start − query start):
    * the stream-start overhead (source resolution, checkpoint dir setup,
    * offset log init) that precedes the first micro-batch.
    */
  def startGapMs: Long = {
    val firstTrigger = batches.groupBy(_.runId).view
      .mapValues(ps => ps.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli).min)
    starts.asScala.toSeq.flatMap { s =>
      firstTrigger.get(s.runId).map(_ - java.time.Instant.parse(s.timestamp).toEpochMilli)
    }.sum
  }
}

object QueryListener {
  final case class Job(id: Int, startMs: Long, endMs: Long, desc: String)
  final case class Stage(
      runMs: Long, cpuMs: Long, maxTaskMs: Long, gcMs: Long, tasks: Int, recordsIn: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, diskSpillBytes: Long, name: String)
  final case class Bytes(shuffleRead: Long, shuffleWrite: Long, memSpill: Long, diskSpill: Long) {
    def json: String =
      s"""{"shuffle_read":$shuffleRead,"shuffle_write":$shuffleWrite,""" +
        s""""mem_spill":$memSpill,"disk_spill":$diskSpill}"""
  }
}
