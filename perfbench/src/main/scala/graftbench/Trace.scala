package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** One timed call into a module, named `<workload>.<module>.<call>`.
  * `group` ties together the spans of one statement or query batch. */
final case class Span(id: Int, name: String, parent: Int, group: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Spark work of one job, attributed to the span that was innermost
  * on the submitting thread when the job started (`span` = -1 when no
  * span claimed it, [[Tracer.PausedSpan]] when it ran untraced on
  * purpose). */
final class JobRec(val jobId: Int, val span: Int, val startMs: Long, val callSite: String) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Listener ledger. Events arrive on Spark's listener thread; every
  * read and write holds the ledger's lock. */
final class Ledger extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    val j = new JobRec(e.jobId, span, e.time,
      e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?"))
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  def snapshot(): Seq[JobRec] = synchronized(jobs.values.toVector)
}

/** In-memory span recorder. Disabled, `span` only runs its body: the
  * untraced runs that give the end-to-end numbers pay nothing. */
final class Tracer(sc: SparkContext, val workload: String, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var groupId = 0
  private var pausedNow = false
  /** The timed loop's window, for serve-phase figures. */
  var loopNs: (Long, Long) = (0L, Long.MaxValue)
  val ledger: Ledger = if (enabled) { val l = new Ledger; sc.addSparkListener(l); l } else null

  /** Starts a new statement or query-batch group for the spans that follow. */
  def newGroup(): Unit = groupId += 1

  /** Runs `body` untraced inside a traced run; its jobs are marked so
    * the ledger does not count them as unattributed. */
  def paused[T](body: => T): T =
    if (!enabled) body
    else {
      val prior = sc.getLocalProperty(Tracer.SpanProperty)
      sc.setLocalProperty(Tracer.SpanProperty, Tracer.PausedSpan.toString)
      pausedNow = true
      try body
      finally { pausedNow = false; sc.setLocalProperty(Tracer.SpanProperty, prior) }
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled || pausedNow) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prior = sc.getLocalProperty(Tracer.SpanProperty)
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      stack = id :: stack
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty, prior)
        spans += Span(id, s"$workload.$name", parent, groupId, t0, t1, ms0, ms1)
      }
    }

  def recorded: Seq[Span] = spans.toVector
}

object Tracer {
  val SpanProperty = "graftbench.span"
  val PausedSpan = -2
}

/** Per-span figures derived from the spans and the listener ledger. */
final case class SpanStats(span: Span, selfMs: Double, jobs: Int, stages: Int, tasks: Long,
    taskRunMs: Long, taskCpuMs: Double, gcMs: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long, driverOnlyMs: Double)

object SpanStats {

  /** Length of the union of `[a, b)` intervals, each clipped to `[lo, hi)`. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Job counters cover a span's whole subtree; self time is the span's
    * wall minus the union of its children's intervals; driver-only time
    * is its wall minus the union of its subtree's job intervals. */
  def of(spans: Seq[Span], jobs: Seq[JobRec]): Seq[SpanStats] = {
    val children = spans.groupBy(_.parent)
    val jobsBySpan = jobs.groupBy(_.span)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
      val childNs = unionLength(kids.map(k => (k.startNs, k.endNs)), s.startNs, s.endNs)
      val js = subtree(s).flatMap(x => jobsBySpan.getOrElse(x.id, Nil))
      val jobMs = unionLength(js.map(j => (j.startMs, if (j.endMs < 0) s.endMs else j.endMs)),
        s.startMs, s.endMs)
      SpanStats(s, s.wallMs - childNs / 1e6, js.size, js.map(_.stages).sum,
        js.map(_.tasks).sum, js.map(_.runMs).sum, js.map(_.cpuNs).sum / 1e6,
        js.map(_.gcMs).sum, js.map(_.shuffleReadBytes).sum, js.map(_.shuffleWriteBytes).sum,
        js.map(_.spillBytes).sum, math.max(0.0, s.wallMs - jobMs))
    }
  }

  def toJson(st: SpanStats): String = Json.obj(
    "id" -> st.span.id, "name" -> st.span.name, "parent" -> st.span.parent,
    "group" -> st.span.group, "wall_ms" -> st.span.wallMs, "self_ms" -> st.selfMs,
    "jobs" -> st.jobs, "stages" -> st.stages, "tasks" -> st.tasks,
    "task_run_ms" -> st.taskRunMs, "task_cpu_ms" -> st.taskCpuMs, "gc_ms" -> st.gcMs,
    "shuffle_read_bytes" -> st.shuffleReadBytes,
    "shuffle_write_bytes" -> st.shuffleWriteBytes, "spill_bytes" -> st.spillBytes,
    "driver_only_ms" -> st.driverOnlyMs)
}
