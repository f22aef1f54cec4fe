package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Executor CPU of every finished task: the one listener an untraced run
  * keeps, a counter bump per task. */
final class CpuMeter extends SparkListener {
  val cpuNs = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) cpuNs.addAndGet(m.executorCpuTime)
    ()
  }
}

/** One Spark job, attributed to a streaming batch (through the
  * `streaming.sql.batchId` job property) and to a benchmark layer (through
  * the [[Trace.LayerKey]] property set around calls into a layer). */
final case class JobRec(jobId: Int, queryId: String, batchId: Long,
    layer: String, startMs: Long, stageIds: Seq[Int])

final case class StageRec(stageId: Int, tasks: Int, cpuNs: Long, runMs: Long,
    gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    recordsOut: Long, bytesOut: Long)

/** A timed call into a layer, made by the benchmark's own code. */
final case class Span(layer: String, name: String, batch: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/**
 * In-memory trace of a run: Spark jobs, stages and task times from the
 * public `SparkListener`, query progress from `StreamingQueryListener`,
 * and spans around the benchmark's calls into each layer. Nothing is
 * written until the run ends.
 */
final class Trace(sc: SparkContext) extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]
  val stages = new ConcurrentLinkedQueue[StageRec]
  val taskMs = new ConcurrentLinkedQueue[(Int, Long)]
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
  val spans = new ConcurrentLinkedQueue[Span]

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(e.progress); ()
    }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs.add(JobRec(e.jobId, prop("sql.streaming.queryId").getOrElse(""),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      prop(Trace.LayerKey).getOrElse(""), e.time, e.stageIds))
    ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.add(StageRec(i.stageId, i.numTasks,
      m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten))
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) taskMs.add(e.stageId -> m.executorRunTime)
    ()
  }

  /** Time `f` as a span of `layer`, tagging the jobs it starts. */
  def span[A](layer: String, name: String, batch: Long = -1L)(f: => A): A = {
    val prev = sc.getLocalProperty(Trace.LayerKey)
    sc.setLocalProperty(Trace.LayerKey, layer)
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(Span(layer, name, batch, t0, System.nanoTime()))
      sc.setLocalProperty(Trace.LayerKey, prev)
    }
  }

  def jobList: Seq[JobRec] = jobs.asScala.toSeq
  def stageList: Seq[StageRec] = stages.asScala.toSeq
  def spanList: Seq[Span] = spans.asScala.toSeq
  def progressList: Seq[StreamingQueryProgress] = progress.asScala.toSeq

  /** Stages run by jobs matching `p` (skipped stages never complete). */
  def stagesOf(p: JobRec => Boolean): Seq[StageRec] = {
    val ids = jobList.filter(p).flatMap(_.stageIds).toSet
    stageList.filter(s => ids(s.stageId))
  }

  /**
   * Spark runtime totals under every layer, per round. `task_skew` is max
   * over median task time in the stage that read the most shuffle bytes.
   */
  def runtime(rounds: Int): Map[String, Double] = {
    val ss = stageList
    val r = math.max(1, rounds).toDouble
    val widest = ss.filter(_.shuffleRead > 0).sortBy(-_.shuffleRead).headOption
    val skew = widest.map { w =>
      val ts = taskMs.asScala.collect { case (id, ms) if id == w.stageId => ms }
        .toSeq.sorted
      if (ts.isEmpty) 1d else ts.last / math.max(1d, Stats.median(ts.map(_.toDouble)))
    }.getOrElse(1d)
    Map(
      "spark.exec_cpu_s" -> ss.map(_.cpuNs).sum / 1e9 / r,
      "spark.exec_run_s" -> ss.map(_.runMs).sum / 1e3 / r,
      "spark.gc_s" -> ss.map(_.gcMs).sum / 1e3 / r,
      "spark.shuffle_write_mb" -> ss.map(_.shuffleWrite).sum / 1e6 / r,
      "spark.shuffle_read_mb" -> ss.map(_.shuffleRead).sum / 1e6 / r,
      "spark.spill_mb" -> ss.map(_.spill).sum / 1e6 / r,
      "spark.tasks" -> ss.map(_.tasks).sum / r,
      "spark.task_skew" -> skew)
  }

  def toJson: String = Json.obj(
    "spans" -> spanList.map(s => Map("layer" -> s.layer, "name" -> s.name,
      "batch" -> s.batch, "start_ns" -> s.startNs, "ms" -> s.ms)),
    "jobs" -> jobList.map(j => Map("job" -> j.jobId, "query" -> j.queryId,
      "batch" -> j.batchId, "layer" -> j.layer, "start_ms" -> j.startMs,
      "stages" -> j.stageIds)),
    "stages" -> stageList.map(s => Map("stage" -> s.stageId, "tasks" -> s.tasks,
      "cpu_ns" -> s.cpuNs, "run_ms" -> s.runMs, "gc_ms" -> s.gcMs,
      "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead,
      "spill" -> s.spill, "records_out" -> s.recordsOut,
      "bytes_out" -> s.bytesOut)),
    "progress" -> progressList.map(p => Map("query" -> p.id.toString,
      "batch" -> p.batchId, "input_rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
        k -> v.longValue }.toMap)))
}

object Trace {
  /** Job property naming the benchmark layer a job was started from. */
  val LayerKey = "perfbench.layer"

  /** Flush Spark's async listener bus so every event so far is recorded. */
  def drain(sc: SparkContext): Unit = graft.BenchMetrics.drain(sc)
}
