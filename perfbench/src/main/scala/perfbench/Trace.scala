package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory spans: run → workload → pass → op → {build, plan, exec},
  * plus one span per direct layer call. Recording is off until
  * [[enable]]; the untraced measurement never allocates a span.
  */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long)
}

final class Trace {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var on = false

  def enable(): Unit = on = true
  def enabled: Boolean = on

  def apply[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), name, System.nanoTime(), 0L)
      spans += s
      stack = s.id :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Spans as JSON-ready maps; self time is the duration minus the
    * part covered by children (children of one span never overlap:
    * the benchmark is a single-client closed loop).
    */
  def rows: Seq[Map[String, Any]] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.toSeq.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> (s.startNs - t0) / 1e6, "dur_ms" -> (s.endNs - s.startNs) / 1e6,
        "self_ms" -> (s.endNs - s.startNs - childNs(s.id)) / 1e6)
    }
  }
}

/** Counters for the `spark` and `streaming` layers, from a listener on
  * the shared SparkContext. Events are attributed to the op whose
  * wall-clock interval contains their own timestamp, not to a job tag:
  * micro-batch jobs run on stream threads, which carry no tags of the
  * calling thread. Streaming events arrive through `onOtherEvent`
  * because the streaming listener bus re-posts them on the context bus,
  * which also covers streams started on derived sessions.
  */
object SparkCounters {
  final case class Task(ms: Long, cpuNs: Long, runMs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)
}

final class SparkCounters extends SparkListener {
  import SparkCounters.Task

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stages = new ConcurrentLinkedQueue[Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val starts = new ConcurrentLinkedQueue[Long]()
  private val batches = new ConcurrentLinkedQueue[Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobs.add((s, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    e.stageInfo.completionTime.foreach(stages.add(_))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.finishTime, m.executorCpuTime, m.executorRunTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: StreamingQueryListener.QueryStartedEvent => starts.add(epochMs(s.timestamp))
    case p: StreamingQueryListener.QueryProgressEvent => batches.add(epochMs(p.progress.timestamp))
    case _ =>
  }
  private def epochMs(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  /** Counters for the events inside `[from, to]` (epoch ms, inclusive). */
  def window(from: Long, to: Long): Map[String, Double] = {
    def in(t: Long) = t >= from && t <= to
    val ts = tasks.asScala.filter(t => in(t.ms)).toSeq
    // job time inside the window, as a union of intervals
    val ivs = jobs.asScala.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sorted
    var covered = 0L
    var reach = Long.MinValue
    ivs.foreach { case (s, e) =>
      val s1 = math.max(s, reach)
      if (e > s1) covered += e - s1
      reach = math.max(reach, e)
    }
    Map(
      "spark.jobs" -> jobs.asScala.count { case (s, _) => in(s) }.toDouble,
      "spark.stages" -> stages.asScala.count(in).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.executor_run_s" -> ts.map(_.runMs).sum / 1e3,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "spark.job_s" -> covered / 1e3,
      "streaming.query_starts" -> starts.asScala.count(in).toDouble,
      "streaming.micro_batches" -> batches.asScala.count(in).toDouble)
  }
}
