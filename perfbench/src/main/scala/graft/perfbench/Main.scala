package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Per-op-type outcome counts: every attempted operation is counted
  * once, as ok or under the class of what went wrong.
  */
final class Outcomes {
  private val byOp = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, Long]]

  def record(op: String, outcome: String): Unit = synchronized {
    val m = byOp.getOrElseUpdate(op, mutable.LinkedHashMap.empty)
    m(outcome) = m.getOrElse(outcome, 0L) + 1
  }
  def ok(op: String): Unit = record(op, "ok")
  def attempted: Long = synchronized(byOp.values.map(_.values.sum).sum)
  def failed: Long = synchronized(byOp.values.map(m => m.values.sum - m.getOrElse("ok", 0L)).sum)
  def json: String = synchronized {
    byOp.map { case (op, m) =>
      val errs = m.filter(_._1 != "ok").map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
      s"${Json.str(op)}:{\"attempted\":${m.values.sum},\"failed\":${m.values.sum - m.getOrElse("ok", 0L)},\"errors\":$errs}"
    }.mkString("{", ",", "}")
  }
}

/** One GraphOps call as the benchmark saw it: whether its edge count
  * against the local-twin threshold in force (the public
  * LocalEdgeThreshold unless the call passed its own) sent it down the
  * distributed path, and the answer's max BFS level (0: not a BFS).
  */
final case class GraphCall(distributed: Boolean, levels: Int, seconds: Double)

/** Everything one benchmark run shares: session, tracer, timers, results. */
final class Run(val seed: Long, val seconds: Double, val tracer: Tracer, val work: Path) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  val outcomes = new Outcomes
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Long)]
  val info = mutable.LinkedHashMap.empty[String, String]
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[GraphCall]()
  var spark: SparkSession = _
  private var windowStart = 0L
  private var windowEnd = 0L
  private var gcAtStart = 0L

  private val born = System.nanoTime()
  /** Progress line on stderr (the JVM log), stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"perfbench ${(System.nanoTime() - born) / 1e9}%8.2f $msg")

  def metric(name: String, value: Double, unit: String, samples: Long): Unit =
    metrics(name) = (value, unit, samples)

  /** Quantile `q` of a timing, with its sample count; no samples, no metric.
    * For a tail quantile the number of samples above it is kept in `info`.
    */
  def timing(name: String, unit: String, xs: Seq[Double], q: Double = 0.5): Unit =
    if (xs.nonEmpty) {
      val v = Run.quantile(xs, q)
      metric(name, v, unit, xs.size)
      if (q > 0.5) info(s"$name.samples_above") = xs.count(_ > v).toString
    }

  /** Start the session; its wall is GraftSession's start-up layer. */
  def startSession(): SparkSession = {
    val t0 = System.nanoTime()
    spark = GraftSession.local(cores, "perfbench")
    metric("GraftSession.start_s", (System.nanoTime() - t0) / 1e9, "s", 1)
    log(s"session started: ${metrics("GraftSession.start_s")._1} s")
    tracer.attach(spark.sparkContext)
    spark
  }

  /** Mark the end of set-up: everything since JVM start is `setup_s`. */
  def beginWindow(): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    metric("setup_s", (System.currentTimeMillis() - jvmStart) / 1e3, "s", 1)
    log(s"set-up done: ${metrics("setup_s")._1} s")
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    gcAtStart = Run.gcMillis
    tracer.listener.resetCounters()
    windowStart = System.nanoTime()
  }

  def deadline: Long = windowStart + (seconds * 1e9).toLong
  def endWindow(): Unit = windowEnd = System.nanoTime()
  def windowSeconds: Double = (windowEnd - windowStart) / 1e9

  /** JVM-level numbers, taken after the window. */
  def recordJvm(): Unit = {
    metric("jvm.gc_s", (Run.gcMillis - gcAtStart) / 1e3, "s", 1)
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    metric("jvm.heap_peak_mb", heapPeak / 1048576.0, "MB", 1)
    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    metric("peak_rss_mb", hwm, "MB", 1)
  }
}

object Run {
  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Entry point: `--workload W --seed N --seconds S --trace 0|1 --work DIR`.
  * Writes `result.json` (and `spans.jsonl` when traced) into DIR.
  */
object Main {
  val workloads: Map[String, Run => Unit] = Map(
    "graphdb_mixed" -> GraphDbMixed.run,
    "graph_large" -> GraphLarge.run,
    "warehouse_mini" -> Warehouse.run)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val body = workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val work = Paths.get(a("work")).toAbsolutePath
    val run = new Run(a("seed").toLong, a("seconds").toDouble, new Tracer(a("trace") == "1"), work)
    a.get("corpus").foreach(c => run.info("corpus") = c)
    try {
      body(run)
      run.recordJvm()
      if (run.tracer.enabled) Layers.report(run)
    } finally if (run.spark != null) run.spark.stop()
    write(run, workload)
  }

  private def write(run: Run, workload: String): Unit = {
    val metrics = run.metrics.map { case (k, (v, u, n)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)},\"samples\":$n}"
    }.mkString("{", ",", "}")
    val info = run.info.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    val attempted = run.outcomes.attempted
    val failed = run.outcomes.failed
    val doc = s"""{"workload":${Json.str(workload)},"seed":${run.seed},"trace":${run.tracer.enabled},""" +
      s""""attempted":$attempted,"failed":$failed,""" +
      s""""ops":${run.outcomes.json},""" +
      s""""window_s":${Json.num(run.windowSeconds)},"metrics":$metrics,"info":$info}"""
    Files.write(run.work.resolve("result.json"), (doc + "\n").getBytes(UTF_8))
    if (run.tracer.enabled) {
      val lines = run.tracer.all.map { s =>
        s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":${Json.str(s.layer)},""" +
          s""""name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}"""
      }
      Files.write(run.work.resolve("spans.jsonl"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
  }
}
