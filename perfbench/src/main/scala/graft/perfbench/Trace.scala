package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{Success => TaskSucceeded}
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval, in `System.nanoTime` units.
  *
  * A span the benchmark opens wraps one call into a layer; its name starts
  * with the layer (`sources.`, `table.`, `plans.`, `runtime.`, `dedup.`,
  * `text.`, `similarity.`, `bench.`). Derived spans come from listener
  * events: each Spark job becomes a `runtime.job` span under the span that
  * submitted it, and each Catalyst phase a `plans.*` span under the span
  * that was open when the phase began. `op` is the id of the operation the
  * span belongs to.
  */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
    val start: Long, var end: Long = -1L, val site: String = "") {
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def layer: String = name.takeWhile(_ != '.')
  def dur: Long = end - start
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
}

object Trace {

  /** Local property naming the open span, inherited by the jobs it submits. */
  val SpanProperty = "perfbench.span"

  /** Length of the union of the intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var runStart = 0L
    var runEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > runEnd) {
        if (runEnd != Long.MinValue) total += runEnd - runStart
        runStart = s; runEnd = e
      } else runEnd = math.max(runEnd, e)
    }
    if (runEnd != Long.MinValue) total += runEnd - runStart
    total
  }

  /** Self time of every span, indexed by span id: the time in which it is
    * the innermost open span of its operation. Where sibling spans overlap
    * (Spark jobs running at once), the later-starting one takes the
    * overlap, so an operation's self times add up to its root's duration.
    */
  def selfTimes(spans: IndexedSeq[Span]): IndexedSeq[Long] = {
    val self = Array.fill(spans.length)(0L)
    val depth = new Array[Int](spans.length)
    spans.foreach(s => depth(s.id) = if (s.parent < 0) 0 else depth(s.parent) + 1)
    spans.groupBy(_.op).values.foreach { ops =>
      val cuts = ops.flatMap(s => Seq(s.start, s.end)).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val open = ops.filter(s => s.start <= a && s.end >= b)
        if (open.nonEmpty) self(open.maxBy(s => (depth(s.id), s.start, s.id)).id) += b - a
      }
    }
    self.toIndexedSeq
  }
}

/** Records spans around layer calls, and Spark's own counters for the
  * jobs, stages and tasks those calls start. Everything stays in memory
  * until the run ends. When tracing is off, [[span]] and [[op]] only run
  * their body.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var on = false
  private var open = -1
  private var opId = -1
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private def msToNs(ms: Long): Long = originNs + (ms - originMs) * 1000000L

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  private final class Job(val span: Int, val startMs: Long, val site: String) {
    var endMs: Long = -1L
    var failed: Boolean = false
  }
  private final class Phase(val name: String, val startMs: Long, val endMs: Long)

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val querySite = mutable.Map.empty[Long, String]
  private val spanCounters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val phases = mutable.ArrayBuffer.empty[Phase]
  private val seenPlans = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean])

  private def count(span: Int, k: String, v: Double): Unit = {
    val m = spanCounters.getOrElseUpdate(span, mutable.Map.empty)
    m(k) = if (k == "peak_exec_mem_bytes") math.max(m.getOrElse(k, 0.0), v) else m.getOrElse(k, 0.0) + v
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
        .map(_.toInt).getOrElse(-1)
      // SQL jobs run from planner threads; their query's call site is the
      // one recorded when the query started
      val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => querySite.get(id.toLong))
        .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      jobs(e.jobId) = new Job(span, e.time, site)
      e.stageIds.foreach(stageSpan(_) = span)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        j.failed = e.jobResult != JobSucceeded
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case q: SparkListenerSQLExecutionStart => lock.synchronized { querySite(q.executionId) = q.description }
      case _ => ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      count(stageSpan.getOrElse(e.stageInfo.stageId, -1), "stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val s = stageSpan.getOrElse(e.stageId, -1)
      count(s, "tasks", 1)
      if (e.reason != TaskSucceeded) count(s, "failed_tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        count(s, "task_busy_ms", m.executorRunTime.toDouble)
        count(s, "task_cpu_ns", m.executorCpuTime.toDouble)
        count(s, "gc_ms", m.jvmGCTime.toDouble)
        count(s, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        count(s, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        count(s, "shuffle_read_bytes",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
        count(s, "peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      if (seenPlans.add(qe)) qe.tracker.phases.foreach { case (name, p) =>
        phases += new Phase(name, p.startTimeMs, p.endTimeMs)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Start tracing: register the listeners and open spans from now on. */
  def start(): Unit = if (!on) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    on = true
  }

  /** Stop opening spans; listener events are dropped until [[resume]]. */
  def pause(): Unit = on = false

  /** Trace again, after discarding the events of untraced work. */
  def resume(): Unit = {
    ListenerBus.drain(sc)
    lock.synchronized { jobs.clear(); stageSpan.clear(); spanCounters.clear(); phases.clear(); querySite.clear() }
    on = true
  }

  def span[T](name: String)(f: => T): T = if (!on) f else {
    val s = new Span(spans.length, name, open, opId, System.nanoTime())
    spans += s
    val prev = open
    open = s.id
    sc.setLocalProperty(Trace.SpanProperty, s.id.toString)
    try f
    finally {
      s.end = System.nanoTime()
      open = prev
      sc.setLocalProperty(Trace.SpanProperty, if (prev < 0) null else prev.toString)
    }
  }

  /** Add `v` to counter `k` of the innermost open span; `v` is only
    * evaluated when tracing is on.
    */
  def note(k: String, v: => Double): Unit = if (on && open >= 0) spans(open).add(k, v)

  /** Run one operation under a root span `bench.op.<kind>`. When it
    * returns, waits for Spark's events and hangs the jobs, phases and task
    * counters they carry under this operation's spans.
    */
  def op[T](id: Int, kind: String)(f: => T): T = if (!on) f else {
    opId = id
    val first = spans.length
    try span(s"bench.op.$kind")(f)
    finally {
      opId = -1
      ListenerBus.drain(sc)
      attach(first, id)
    }
  }

  private def attach(first: Int, id: Int): Unit = lock.synchronized {
    val real = spans.slice(first, spans.length).toIndexedSeq
    def ownerOf(span: Int): Int = if (span >= first && span < first + real.length) span else first
    spanCounters.foreach { case (s, m) =>
      val owner = spans(ownerOf(s))
      m.foreach { case (k, v) =>
        if (k == "peak_exec_mem_bytes") owner.counters(k) = math.max(owner.counters.getOrElse(k, 0.0), v)
        else owner.add(k, v)
      }
    }
    // derived spans are clipped to their owner: listener stamps are whole
    // milliseconds and must not reach outside the operation
    def clip(owner: Span, start: Long, end: Long): (Long, Long) = {
      val s = math.min(math.max(start, owner.start), owner.end)
      (s, math.max(s, math.min(end, owner.end)))
    }
    jobs.values.foreach { j =>
      val owner = ownerOf(j.span)
      val (start, end) = clip(spans(owner), msToNs(j.startMs), msToNs(if (j.endMs < 0) j.startMs else j.endMs))
      val js = new Span(spans.length, "runtime.job", owner, id, start, end, j.site)
      js.add("jobs", 1)
      if (j.failed) js.add("failed_jobs", 1)
      spans += js
    }
    val phaseName = Map("analysis" -> "plans.analysis", "optimization" -> "plans.optimize",
      "planning" -> "plans.physical")
    phases.foreach { p =>
      phaseName.get(p.name).foreach { n =>
        val t = msToNs(p.startMs)
        // the innermost span of this operation open when the phase began
        // (listener stamps are whole milliseconds, so allow one of slack)
        real.filter(s => s.start - 1000000L <= t && t <= s.end).sortBy(_.start).lastOption.foreach { owner =>
          val (start, end) = clip(owner, t, msToNs(p.endMs))
          spans += new Span(spans.length, n, owner.id, id, start, end)
        }
      }
    }
    jobs.clear(); stageSpan.clear(); spanCounters.clear(); phases.clear(); querySite.clear()
  }
}
