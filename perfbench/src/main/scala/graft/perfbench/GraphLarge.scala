package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.{GraphOps, GraphStore}

/** graft's distributed graph loops: one Zipf out-degree graph, and one
  * client running a fixed sequence of BFS, tagged multi-source BFS,
  * connected components and PageRank over it, from seeded sources.
  *
  * Every call passes `maxLocalEdges = 0`, so the frontier, contraction
  * and push loops run instead of the driver-local twins. The graph is
  * smaller than LocalEdgeThreshold (4M edges) would need for graft to
  * choose those loops by itself: at 4 cores a 4.6M-edge graph takes
  * ~17 s per single-source BFS and ~95 s per 8-tag BFS, beyond one
  * benchmark run. The loops' cost here is dominated by per-level jobs,
  * not edge count.
  */
object GraphLarge {
  /** ≈ 100k directed edges (mean out-degree ≈ 10). */
  val Vertices = 10000
  val MaxLocalEdges = 0L
  val Tags = 8
  val PagerankIters = 5
  /** One fixed order: each call pays for what the one before it left to
    * Spark's cleaner, so a shuffled order would add that to the spread.
    */
  val Sequence: Seq[String] = Seq("bfs", "bfs_multi", "cc", "pagerank")

  final case class Call(kind: String, sources: Seq[Int], seconds: Double,
      fp: Fingerprint.FP, ranks: Array[(Long, Double)])

  /** One call on the distributed path, forced by its answer fingerprint
    * (PageRank's frame is also returned: its ranks are compared whole).
    */
  def call(kind: String, edges: DataFrame, srcs: Seq[Int],
      maxDepth: Int = Int.MaxValue): (Fingerprint.FP, DataFrame) = {
    val spark = edges.sparkSession
    import spark.implicits._
    val src = GraphDbMixed.srcFrame(spark, srcs.head)
    def fp(df: DataFrame, cols: String*) = (Fingerprint.of(Fingerprint.cast(df, cols: _*)), null)
    kind match {
      case "bfs" => fp(GraphOps.bfs(edges, src, maxDepth, MaxLocalEdges), "vertex", "level")
      case "bfs_multi" =>
        val tagged = srcs.zipWithIndex.map { case (v, t) => (v.toLong, t.toLong) }.toDF("vertex", "tag")
        fp(GraphOps.bfs(edges, tagged, maxDepth, MaxLocalEdges), "tag", "vertex", "level")
      case "cc" => fp(GraphOps.connectedComponents(edges, maxLocalEdges = MaxLocalEdges), "vertex", "component")
      case "pagerank" =>
        val pr = GraphOps.pagerank(edges, PagerankIters, maxLocalEdges = MaxLocalEdges)
        (Fingerprint.FP(pr.agg(count(lit(1)), sum("rank")).head().getLong(0), 0L, 0L), pr)
    }
  }

  def run(r: Run): Unit = {
    val spark = r.startSession()
    val store = r.work.resolve("store").toString
    val tr = r.tracer
    val g = ZipfGraph.edges(r.seed, Vertices)
    tr.span(0L, "graph.GraphStore", "save")(GraphStore.save(spark, store, "large", g.toDF(spark)))
    val edgeRows = tr.span(0L, "graph.GraphStore", "load")(GraphStore.load(spark, store, "large")).count()
    require(edgeRows == g.size, s"stored $edgeRows edges, generated ${g.size}")
    r.log(s"saved $edgeRows edges")
    // Warm-up: one frontier level, so the first timed call does not pay
    // the distributed join's one-time code generation.
    call("bfs", GraphStore.load(spark, store, "large"), Seq(1), maxDepth = 1)
    r.beginWindow()

    val rng = new SplittableRandom(r.seed ^ 0x5DEECE66DL)
    def source(): Int = {
      var v = 0
      while (v == 0 || ZipfGraph.outEdges(r.seed, Vertices, v).isEmpty) v = 1 + rng.nextInt(Vertices)
      v
    }
    val calls = mutable.ArrayBuffer.empty[Call]
    // Whole sequences until the window is spent; the first always runs,
    // so every metric has a sample.
    def runSequence(): Unit = Sequence.foreach { kind =>
      val op = tr.newOp()
      val srcs = if (kind == "bfs_multi") Seq.fill(Tags)(source()) else Seq(source())
      val t0 = System.nanoTime()
      try {
        val (fp, pr) = tr.span(op, "client", kind) {
          val edges = tr.span(op, "graph.GraphStore", "load")(GraphStore.load(spark, store, "large"))
          tr.span(op, "graph.GraphOps", kind)(call(kind, edges, srcs))
        }
        val seconds = (System.nanoTime() - t0) / 1e9
        // the ranks are compared with a tolerance, so they come back whole, untimed
        val ranks = if (pr == null) null else pr.collect().map(x => x.getLong(0) -> x.getDouble(1))
        calls += Call(kind, srcs, seconds, fp, ranks)
        r.log(f"$kind%-10s $seconds%.2f s")
      } catch {
        case NonFatal(e) =>
          r.outcomes.record(kind, e.getClass.getName)
          r.log(s"$kind failed: $e")
      }
    }
    runSequence()
    while (System.nanoTime() < r.deadline) runSequence()
    r.endWindow()

    // Correctness against the plain-Scala oracles over the same edges.
    r.log("checking answers")
    r.info("edges") = g.size.toString
    r.info("vertices") = Vertices.toString
    calls.foreach { c =>
      val lv = Oracle.levels(g, c.sources)
      val reached = (1 to g.n).filter(lv(_) >= 0)
      val expected = c.kind match {
        case "bfs" => Fingerprint.ofLongRows(reached.iterator.map(v => Array(v.toLong, lv(v).toLong)))
        case "bfs_multi" => Fingerprint.ofLongRows(c.sources.zipWithIndex.iterator.flatMap { case (s, t) =>
          val l = Oracle.levels(g, Seq(s))
          (1 to g.n).iterator.filter(l(_) >= 0).map(v => Array(t.toLong, v.toLong, l(v).toLong))
        })
        case "cc" =>
          val comp = Oracle.components(g)
          Fingerprint.ofLongRows((1 to g.n).iterator.filter(comp(_) >= 0).map(v => Array(v.toLong, comp(v).toLong)))
        case "pagerank" => null
      }
      val ok = c.kind match {
        case "pagerank" =>
          val want = Oracle.pagerank(g, PagerankIters)
          val present = (1 to g.n).count(want(_) > 0)
          c.ranks.length == present && c.ranks.forall { case (v, got) =>
            val w = want(v.toInt)
            math.abs(got - w) <= 1e-9 * math.abs(w)
          }
        case _ => c.fp == expected
      }
      if (ok) r.outcomes.ok(c.kind) else r.outcomes.record(c.kind, "mismatch")
      val levels = if (c.kind == "cc" || c.kind == "pagerank") 0 else lv.max
      r.calls.add(GraphCall(g.size > MaxLocalEdges, levels, c.seconds))
    }

    def secs(kinds: String*): Seq[Double] = calls.filter(c => kinds.contains(c.kind)).map(_.seconds).toSeq
    r.timing("bfs_p50_s", "s", secs("bfs"))
    r.timing("bfs_multi_s", "s", secs("bfs_multi"))
    r.timing("cc_s", "s", secs("cc"))
    r.timing("pagerank_s", "s", secs("pagerank"))
    r.timing("op_p50_ms", "ms", calls.map(_.seconds * 1e3).toSeq)
    r.metric("ops_per_s", (r.outcomes.attempted - r.outcomes.failed) / r.windowSeconds, "1/s", calls.size)
    val (bytes, files) = Layers.storeFiles(r.work.resolve("store"), Set("large"))
    r.metric("graph.GraphStore.bytes_per_edge", bytes.toDouble / g.size, "B", g.size)
    r.metric("graph.GraphStore.files_per_graph", files.toDouble, "count", 1)
  }
}
