package graft.perfbench

import java.util.SplittableRandom
import java.util.concurrent.locks.{Lock, ReentrantReadWriteLock}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.graph.{GraphOps, GraphStore}

/** The paper's own traffic: one writer (the primary server) adding and
  * modifying named graphs beside two readers (the secondaries) running
  * BFS/DFS on them, all on one session in a closed loop.
  *
  * The clients keep the reference's readers-writers protocol per graph
  * (a fair lock: a waiting writer holds back new readers). Without it,
  * reads of a graph that is being modified fail: `GraphStore.upsert`
  * deletes the live snapshot before it renames the new one in, and a
  * read that began before the write can hold (or share, through
  * Spark's plan cache, another read's persisted copy of) the old
  * snapshot's file list. An op is timed from when it holds its lock, as
  * the lock is the clients' protocol, not graft; the waits are reported
  * on their own.
  */
object GraphDbMixed {
  val InitialGraphs = 32
  val TextMaxN = 512
  val PreorderMaxN = 2048

  /** One snapshot of a named graph and when it may have been visible:
    * from the start of the write that made it to the end of the write
    * that replaced it.
    */
  final class Version(val edges: EdgeSet, val from: Long) {
    @volatile var to: Long = Long.MaxValue
  }
  final class Named(val name: String, val n: Int, first: Version) {
    @volatile var versions: List[Version] = List(first)
    val lock = new ReentrantReadWriteLock(true)
  }

  /** A read's answer; `start` is when it took its graph's lock. */
  final case class Read(g: Named, op: String, source: Int, answer: Any, start: Long, end: Long)

  def locked[A](l: Lock)(body: => A): A = {
    l.lock()
    try body finally l.unlock()
  }

  val MinN = 64
  val MaxN = 16384

  /** n at quantile `q` of the log-uniform size range. */
  def drawIn(rng: SplittableRandom, q: Double, meanDeg: Int): EdgeSet =
    EdgeSet.uniform(math.round(math.exp(math.log(MinN) + q * (math.log(MaxN) - math.log(MinN)))).toInt,
      meanDeg, rng)

  /** The initial graphs' size stratum and mean out-degree by popularity
    * rank: one fixed shuffle for every seed, so which size class the
    * Zipf head lands on (and with it how often reads wait on writes)
    * does not change from seed to seed. The seed jitters n within its
    * stratum and draws every edge.
    */
  private val (strata, degrees) = {
    val r = new scala.util.Random(0x6772616674L)
    (r.shuffle((0 until InitialGraphs).toVector), r.shuffle((0 until InitialGraphs).map(i => 4 + i % 13).toVector))
  }
  def initialGraphs(rng: SplittableRandom): IndexedSeq[EdgeSet] =
    (0 until InitialGraphs).map(i => drawIn(rng, (strata(i) + rng.nextDouble()) / InitialGraphs, degrees(i)))

  /** Zipf(1) pick over `pool` (creation order = popularity rank) at
    * uniform variate `u`.
    */
  def zipf[A](pool: IndexedSeq[A], u: Double): A = {
    val weights = pool.indices.map(i => 1.0 / (i + 1))
    var x = u * weights.sum
    var i = 0
    while (i < pool.size - 1 && x >= weights(i)) { x -= weights(i); i += 1 }
    pool(i)
  }

  /** Uniform variates for a client's choices: the additive recurrence
    * frac(start + k·step) from a seeded start. Unlike independent draws,
    * every stretch of it spreads evenly over [0, 1), so a 10 s run's few
    * dozen ops follow the stated op mix and Zipf popularity closely and
    * the seed moves the mix little. Each choice has its own step (1/φ,
    * √2 − 1, √3 − 1, √7 − 2, which with 1 are linearly independent over
    * the rationals), so that the choices are not correlated.
    */
  final class Spread(start: Double, step: Double) {
    private var x = start
    def next(): Double = { x = (x + step) % 1.0; x }
  }
  val Steps = Seq((math.sqrt(5) - 1) / 2, math.sqrt(2) - 1, math.sqrt(3) - 1, math.sqrt(7) - 2)

  def run(r: Run): Unit = {
    val spark = r.startSession()
    val store = r.work.resolve("store").toString
    val rng = new SplittableRandom(r.seed)
    val tr = r.tracer
    val registry = mutable.ArrayBuffer.empty[Named]
    def pool: IndexedSeq[Named] = registry.synchronized(registry.toIndexedSeq)
    val writes = mutable.ArrayBuffer.empty[(String, Double)]
    val reads = mutable.ArrayBuffer.empty[Read]
    val readMs = mutable.ArrayBuffer.empty[(String, Double)]
    val waitMs = mutable.ArrayBuffer.empty[Double]
    def waited(since: Long): Long = {
      val now = System.nanoTime()
      waitMs.synchronized(waitMs += (now - since) / 1e6)
      now
    }

    /** Create a graph under a new name: the reference's G*.txt
      * adjacency-matrix text for small graphs, the edge list otherwise.
      */
    def ingest(op: Long, name: String, g: EdgeSet): Unit = {
      if (g.n <= TextMaxN) {
        val file = r.work.resolve(s"$name.txt").toString
        tr.span(op, "graph.GraphStore", "toAdjacencyText")(GraphStore.toAdjacencyText(g.toDF(spark), file, g.n))
        tr.span(op, "graph.GraphStore", "text_parse")(
          GraphStore.save(spark, store, name, GraphStore.fromAdjacencyText(spark, file)))
      } else tr.span(op, "graph.GraphStore", "save")(GraphStore.save(spark, store, name, g.toDF(spark)))
    }
    def add(op: Long, g: EdgeSet): Unit = {
      val name = f"g${registry.synchronized(registry.size)}%03d"
      val v = new Version(g, System.nanoTime())
      ingest(op, name, g)
      registry.synchronized(registry += new Named(name, g.n, v))
    }

    // The initial graphs are drawn in order, then ingested 4 × cores at a
    // time (each save is a handful of small jobs, bound by per-job
    // latency), beside an untimed warm-up on a private graph that runs
    // every read and write path once.
    val initial = initialGraphs(rng).zipWithIndex.map { case (g, i) => (f"g$i%03d", g) }
    val warm = EdgeSet.uniform(300, 6, new SplittableRandom(r.seed + 1))
    val warmExtra = new EdgeSet(warm.n, EdgeSet.fresh(warm, 5, new SplittableRandom(r.seed + 2)))
    def warmUp(): Unit = {
      ingest(0L, "warm", warm)
      val wsrc = srcFrame(spark, 1)
      Seq[DataFrame => DataFrame](GraphOps.bfsFrom(_, wsrc), GraphOps.reach(_, wsrc),
        GraphOps.dfsLeaves(_, wsrc), GraphOps.dfsPreorder(_, 1L)).foreach { f =>
        f(GraphStore.load(spark, store, "warm")).collect()
      }
      GraphStore.upsert(spark, store, "warm", warmExtra.toDF(spark))
    }
    val ingestPool = java.util.concurrent.Executors.newFixedThreadPool(4 * r.cores)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(ingestPool)
      val warming = Future(warmUp())
      Await.result(Future.traverse(initial) { case (name, g) => Future(ingest(0L, name, g)) }, Duration.Inf)
      Await.result(warming, Duration.Inf)
    } finally ingestPool.shutdown()
    initial.foreach { case (name, g) => registry += new Named(name, g.n, new Version(g, 0L)) }
    r.log(s"ingested $InitialGraphs graphs, ${initial.map(_._2.size).sum} edges")
    r.beginWindow()

    val writer = new Thread(() => {
      val wr = new SplittableRandom(r.seed * 31 + 7)
      val Seq(kinds, graphs, sizes, degs) = Steps.map(new Spread(wr.nextDouble(), _))
      while (System.nanoTime() < r.deadline) {
        val op = tr.newOp()
        val isAdd = kinds.next() < 0.2
        val kind = if (isAdd) "add_graph" else "modify_graph"
        // the client's model of the change is prepared before the clock
        // starts; a new graph has n log-uniform in [64, 16384] and mean
        // out-degree 4..16
        val fresh = if (isAdd) drawIn(wr, sizes.next(), 4 + (degs.next() * 13).toInt) else null
        val g = if (isAdd) null else zipf(pool, graphs.next())
        val cur = if (isAdd) null else g.versions.head
        val extra = if (isAdd) null else EdgeSet.fresh(cur.edges, math.max(1, cur.edges.size / 50), wr)
        val nextEdges = if (isAdd) null else cur.edges.plus(extra)
        var t0 = System.nanoTime()
        try {
          tr.span(op, "client", kind) {
            if (isAdd) add(op, fresh)
            else locked(g.lock.writeLock()) {
              t0 = waited(t0)
              g.versions = new Version(nextEdges, t0) :: g.versions
              try tr.span(op, "graph.GraphStore", "upsert")(
                GraphStore.upsert(spark, store, g.name, new EdgeSet(g.n, extra).toDF(spark)))
              finally cur.to = System.nanoTime()
            }
          }
          writes.synchronized(writes += ((kind, (System.nanoTime() - t0) / 1e6)))
          r.outcomes.ok(kind)
        } catch {
          case NonFatal(e) => r.outcomes.record(kind, e.getClass.getName)
        }
      }
    }, "writer")

    def reader(id: Int) = new Thread(() => {
      val rr = new SplittableRandom(r.seed * 31 + 11 + id)
      val Seq(kinds, graphs) = Steps.take(2).map(new Spread(rr.nextDouble(), _))
      while (System.nanoTime() < r.deadline) {
        val op = tr.newOp()
        val x = kinds.next()
        val kind = if (x < 0.5) "bfs" else if (x < 0.8) "reach" else if (x < 0.95) "dfs_leaves" else "dfs_preorder"
        val candidates = if (kind == "dfs_preorder") pool.filter(_.n <= PreorderMaxN) else pool
        val g = zipf(candidates, graphs.next())
        val source = 1 + rr.nextInt(g.n)
        var t0 = System.nanoTime()
        try {
          val answer = tr.span(op, "client", kind)(locked(g.lock.readLock()) {
            t0 = waited(t0)
            val edges = tr.span(op, "graph.GraphStore", "load")(GraphStore.load(spark, store, g.name))
            val src = srcFrame(spark, source)
            tr.span(op, "graph.GraphOps", kind) {
              kind match {
                case "bfs" => GraphOps.bfsFrom(edges, src).collect().map(x => x.getAs[Long]("vertex") -> x.getAs[Int]("level")).toMap
                case "reach" => GraphOps.reach(edges, src).collect().map(_.getLong(0)).toSet
                case "dfs_leaves" => GraphOps.dfsLeaves(edges, src).collect().map(_.getLong(0)).toSet
                case _ => GraphOps.dfsPreorder(edges, source.toLong).collect()
                  .map(x => x.getLong(0) -> x.getLong(1)).sortBy(_._1).map(_._2).toSeq
              }
            }
          })
          val t1 = System.nanoTime()
          reads.synchronized {
            reads += Read(g, kind, source, answer, t0, t1)
            readMs += ((kind, (t1 - t0) / 1e6))
          }
        } catch {
          case NonFatal(e) =>
            r.outcomes.record(kind, e.getClass.getName)
            r.log(s"$kind on ${g.name} failed: $e")
        }
      }
    }, s"reader-$id")

    val clients = Seq(writer, reader(1), reader(2))
    clients.foreach(_.start())
    clients.foreach(_.join())
    r.endWindow()

    // Correctness, after the window: a read is right if it equals the
    // answer on the version of its graph that was live while it held
    // its lock.
    val oracle = mutable.HashMap.empty[(Version, String, Int), Any]
    reads.foreach { rd =>
      val live = rd.g.versions.filter(v => v.from <= rd.end && v.to >= rd.start)
      val ok = live.exists { v =>
        oracle.getOrElseUpdate((v, rd.op, rd.source), rd.op match {
          case "bfs" => Oracle.bfs(v.edges, rd.source)
          case "reach" => Oracle.reach(v.edges, rd.source)
          case "dfs_leaves" => Oracle.leaves(v.edges, rd.source)
          case _ => Oracle.preorder(v.edges, rd.source)
        }) == rd.answer
      }
      if (ok) r.outcomes.ok(rd.op) else r.outcomes.record(rd.op, "mismatch")
      val levels = rd.answer match {
        case m: Map[_, _] if m.nonEmpty => m.values.map(_.asInstanceOf[Int]).max
        case _ => Oracle.levels(rd.g.versions.head.edges, Seq(rd.source)).max
      }
      val edges = rd.g.versions.find(v => v.from <= rd.end).getOrElse(rd.g.versions.last).edges.size
      r.calls.add(GraphCall(edges > GraphOps.LocalEdgeThreshold, levels, (rd.end - rd.start) / 1e9))
    }

    val rms = readMs.map(_._2).toSeq
    val wms = writes.map(_._2).toSeq
    r.timing("read_p50_ms", "ms", rms)
    r.timing("read_p90_ms", "ms", rms, 0.9)
    r.timing("write_p50_ms", "ms", wms)
    r.timing("write_p90_ms", "ms", wms, 0.9)
    r.timing("op_p50_ms", "ms", rms ++ wms)
    r.timing("lock_wait_p90_ms", "ms", waitMs.toSeq, 0.9)
    val okOps = r.outcomes.attempted - r.outcomes.failed
    r.metric("ops_per_s", okOps / r.windowSeconds, "1/s", okOps)

    // On-disk shape of the store at the end of the run.
    val live = pool.map(_.versions.head.edges.size.toLong).sum
    val (bytes, count) = Layers.storeFiles(r.work.resolve("store"), pool.map(_.name).toSet)
    r.metric("graph.GraphStore.bytes_per_edge", bytes.toDouble / live, "B", live)
    r.metric("graph.GraphStore.files_per_graph", count.toDouble / pool.size, "count", pool.size)
    r.info("graphs_at_end") = pool.size.toString
    r.info("writes") = writes.groupBy(_._1).map { case (k, v) => s"$k=${v.size}" }.mkString(",")
  }

  def srcFrame(spark: SparkSession, v: Int): DataFrame = {
    import spark.implicits._
    Seq(v.toLong).toDF("vertex")
  }
}
