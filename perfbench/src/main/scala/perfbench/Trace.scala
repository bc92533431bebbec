package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. `parent` is 0 for an op's
  * root span; every span of one op carries that op's id.
  */
final case class Span(id: Long, parent: Long, op: String, name: String,
    layer: String, startNs: Long, endNs: Long, attrs: Map[String, String]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are recorded only while the calling
  * thread has an active op ([[op]]) whose tracing flag is on, so one
  * run can interleave traced and untraced ops to measure the overhead.
  */
final class Tracer {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private final case class Frame(op: String, id: Long)
  private val stack = new ThreadLocal[List[Frame]] { override def initialValue = Nil }
  private val on = new ThreadLocal[Boolean] { override def initialValue = false }

  /** Runs `body` as the root span of op `op` when `traced`. */
  def op[T](op: String, name: String, traced: Boolean, attrs: Map[String, String])(body: => T): T = {
    on.set(traced)
    try record(op, name, "op", attrs)(body)
    finally { on.set(false); stack.set(Nil) }
  }

  /** A child span of the thread's current op (no-op when untraced). */
  def span[T](name: String, layer: String, attrs: Map[String, String] = Map.empty)(body: => T): T =
    stack.get match {
      case top :: _ if on.get => record(top.op, name, layer, attrs)(body)
      case _ => body
    }

  private def record[T](op: String, name: String, layer: String,
      attrs: Map[String, String])(body: => T): T = {
    if (!on.get) return body
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.map(_.id).getOrElse(0L)
    stack.set(Frame(op, id) :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, op, name, layer, t0, System.nanoTime(), attrs))
      stack.set(stack.get.tail)
    }
  }

  /** Adds an externally timed span (listener job/stage intervals) under
    * `parent`; returns its id.
    */
  def add(parent: Long, op: String, name: String, layer: String, startNs: Long,
      endNs: Long, attrs: Map[String, String]): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, op, name, layer, startNs, endNs, attrs))
    id
  }

  /** Self time per layer: each span's duration minus the union of the
    * intervals its children cover, summed per layer.
    */
  def selfTimeMs: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
            if (b <= end) (sum, end) else (sum + b - math.max(a, end), b)
          }._1
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }
}

/** Per-task execution record captured by [[ExecListener]]. */
final case class TaskRec(stage: Int, launchMs: Long, durMs: Long, runMs: Long,
    cpuMs: Double, gcMs: Long, shuffleReadB: Long, shuffleWriteB: Long,
    spillB: Long, peakMemB: Long)

/** Bench-owned SparkListener: jobs are attributed to ops through the job
  * group the client thread sets per op (`<opId>` or `<opId>/build`).
  */
final class ExecListener extends SparkListener {
  final case class JobRec(id: Int, group: Option[String], startMs: Long,
      var endMs: Long, stages: Seq[Int])
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  val stageEndMs = mutable.HashMap.empty[Int, Long]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = JobRec(e.jobId, g, e.time, -1L, e.stageIds)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitMs(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageEndMs(e.stageInfo.stageId) =
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.duration,
      m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory)
  }

  /** Op id of a job group (`op/build` and `op` both map to `op`). */
  def opOf(job: JobRec): Option[String] = job.group.map(_.takeWhile(_ != '/'))
}

/** Bench-owned StreamingQueryListener: the micro-batch phase durations. */
final class StreamListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      progress.add((p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}
