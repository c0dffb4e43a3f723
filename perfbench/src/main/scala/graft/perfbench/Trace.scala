package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `op` groups the spans of one client
  * operation; `parent` is the enclosing span (0 for an operation's
  * root). Times are epoch nanoseconds so they line up with Spark's
  * task launch/finish stamps.
  */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark-side work attributed to one job group (= one span). */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
  /** [launch, finish] of every task, epoch ms. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Records spans around the benchmark's calls into graft and, through
  * a listener on the session, the jobs, tasks, shuffle and scheduler
  * delay each span caused. Disabled, every method is a pass-through
  * and no listener is registered, so untraced runs measure graft alone.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  /** Open spans of the calling thread, innermost first. */
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val epochBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  @volatile private var sc: SparkContext = _
  val listener = new LayerListener

  def now(): Long = System.nanoTime() + epochBase

  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    context.addSparkListener(listener)
  }

  def newOp(): Long = ids.incrementAndGet()

  /** Time `body` as a span of `layer`, tagging the Spark jobs it runs. */
  def span[A](op: Long, layer: String, name: String)(body: => A): A = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val outer = stack.get()
    val parent = outer.headOption.getOrElse(0L)
    stack.set(id :: outer)
    if (sc != null) sc.setJobGroup(s"span-$id", s"$layer.$name", interruptOnCancel = false)
    val start = now()
    try body
    finally {
      spans.add(Span(id, parent, op, layer, name, start, now()))
      stack.set(outer)
      if (sc != null) outer.headOption match {
        case Some(p) => sc.setJobGroup(s"span-$p", "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  def statsOf(s: Span): GroupStats = listener.group(s"span-${s.id}")

  /** Seconds of `s` not covered by its child spans. */
  def selfSeconds(s: Span, children: Seq[Span]): Double =
    math.max(0.0, s.seconds - Trace.coveredNs(children.map(c => (c.start, c.end)), s.start, s.end) / 1e9)

  /** Wall of `s` minus the time any of its tasks ran: driver-side work
    * (planning, collects, driver-local twins) plus scheduling gaps.
    */
  def driverSeconds(s: Span): Double = {
    val st = statsOf(s)
    val iv = st.synchronized(st.taskIntervals.toList).map { case (a, b) => (a * 1000000L, b * 1000000L) }
    math.max(0.0, s.seconds - Trace.coveredNs(iv, s.start, s.end) / 1e9)
  }
}

object Trace {
  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Job, task, shuffle, input and scheduler records, keyed by job group. */
final class LayerListener extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  /** Job submit to first task launch, ms, one entry per job that ran a task. */
  val schedWaitMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  val jobs = new AtomicLong(0)
  val tasksFailed = new AtomicLong(0)
  val stageRetries = new AtomicLong(0)

  private val events = new AtomicLong(0)

  /** Wait (at most 10 s) until the asynchronous listener bus has gone
    * quiet, so the records read after a run are complete.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var seen = -1L
    while (events.get != seen && System.nanoTime() < deadline) { seen = events.get; Thread.sleep(250) }
  }

  /** Forget the scheduler counters of set-up; per-group stats stay. */
  def resetCounters(): Unit = {
    schedWaitMs.clear(); jobs.set(0); tasksFailed.set(0); stageRetries.set(0)
  }

  def group(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    jobs.incrementAndGet()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach { s => stageGroup.put(s, g); stageJob.put(s, e.jobId) }
    jobSubmit.put(e.jobId, e.time)
    val st = group(g)
    st.synchronized(st.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    events.incrementAndGet()
    if (e.stageInfo.attemptNumber() > 0) stageRetries.incrementAndGet()
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).foreach { job =>
      events.incrementAndGet()
      val submitted = jobSubmit.remove(job)
      if (submitted != null) schedWaitMs.add(e.taskInfo.launchTime - submitted)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val st = group(Option(stageGroup.get(e.stageId)).getOrElse(""))
    val failed = e.reason != org.apache.spark.Success
    if (failed) tasksFailed.incrementAndGet()
    val m = e.taskMetrics
    st.synchronized {
      st.tasks += 1
      st.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      if (m != null) {
        st.cpuNs += m.executorCpuTime
        st.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        st.inputBytes += m.inputMetrics.bytesRead
        st.inputRows += m.inputMetrics.recordsRead
      }
    }
  }
}
