package graft

import graft.graph.{DerivedGraphs, GraphOps, GraphStore}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Pins the graph ops the driver gate checks rows-only:
  * reference-format parsing, DFS preorder, CC invariants.
  */
class GraphSpec extends SparkSpec {

  private def edgeDf(edges: (Long, Long)*) = {
    val s = spark
    import s.implicits._
    edges.toDF("src", "dst")
  }

  test("fromAdjacencyText parses the reference G*.txt format 1-based") {
    // Reference format (utilities.h + G1..G6.txt): first line n, then
    // n rows of n 0/1 cells; vertex ids are 1-based (client.c).
    val f = Files.createTempFile("graft-g1", ".txt")
    Files.writeString(f,
      """4
        |0 1 0 0
        |0 0 1 0
        |0 0 0 1
        |1 0 1 0
        |""".stripMargin)
    val edges = GraphStore.fromAdjacencyText(spark, f.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges === Set((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (4L, 3L)))
  }

  test("dfsPreorder is the lexicographic preorder") {
    // 1 -> {2,5}, 2 -> {3}, 5 -> {6}, plus a back edge 3 -> 1.
    val e = edgeDf((1L, 5L), (1L, 2L), (2L, 3L), (5L, 6L), (3L, 1L))
    val order = GraphOps.dfsPreorder(e, source = 1L)
      .orderBy("pos").collect().map(_.getLong(1)).toSeq
    assert(order === Seq(1L, 2L, 3L, 5L, 6L))
  }

  test("dfsLeaves returns exactly the reachable sinks") {
    val s = spark
    import s.implicits._
    // 1 → {2,3}, 2 → 4, 3 → 4; sinks 4 and (unreachable) 9 ← 8
    val e = edgeDf((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (8L, 9L))
    val leaves = GraphOps.dfsLeaves(e, Seq(1L).toDF("vertex"))
      .collect().map(_.getLong(0)).toSet
    assert(leaves === Set(4L)) // 9 is a sink but not reachable from 1
    // a cycle has no sinks
    val ring = edgeDf((1L, 2L), (2L, 3L), (3L, 1L))
    assert(GraphOps.dfsLeaves(ring, Seq(1L).toDF("vertex")).count() === 0L)
  }

  test("bfs levels are min-hop distances") {
    // 1 -> 2 -> 3 -> 4 and a shortcut 1 -> 3.
    val e = edgeDf((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L))
    val s = spark
    import s.implicits._
    val src = Seq(1L).toDF("vertex")
    val levels = GraphOps.bfsFrom(e, src)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(levels === Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
  }

  test("reach is unbounded: a 100 050-vertex chain reaches every vertex") {
    val s = spark
    import s.implicits._
    val n = 100050L
    val e = spark.range(0L, n - 1).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val reached = GraphOps.reach(e, Seq(0L).toDF("vertex"))
    assert(reached.count() === n)
    assert(reached.agg(max("vertex")).head().getLong(0) === n - 1)
  }

  test("connectedComponents labels by component minimum") {
    val e = edgeDf((1L, 2L), (2L, 3L), (10L, 11L))
    val cc = GraphOps.connectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: edge endpoints share a component (hash graph)") {
    val e = DerivedGraphs.hashEdges(spark, sfDir, 512).localCheckpoint()
    val cc = GraphOps.connectedComponents(e)
    val viol = e
      .join(cc.withColumnRenamed("vertex", "src").withColumnRenamed("component", "ca"), "src")
      .join(cc.withColumnRenamed("vertex", "dst").withColumnRenamed("component", "cb"), "dst")
      .where(col("ca") =!= col("cb")).count()
    assert(viol === 0L)
    // every vertex labeled, label ≤ vertex id
    val bad = cc.where(col("component") > col("vertex")).count()
    assert(bad === 0L)
  }

  test("kCore strips low-degree periphery, keeps the clique with core degrees") {
    // 4-clique {1,2,3,4} plus a tail 4-5-6: 3-core is exactly the clique.
    val e = edgeDf((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
    val core = GraphOps.kCore(e, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k above the max degree empties the graph
    assert(GraphOps.kCore(e, k = 5).count() === 0L)
  }

  test("kTruss keeps the clique, cascades away the triangle chain; paths agree") {
    // K5 on {1..5} (every edge closes 3 triangles) plus a triangle
    // chain 10-14 where pruning the outer triangles strips the inner
    // ones' support — the cascade a one-shot support filter misses.
    val k5 = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
    val chain = Seq((10L, 11L), (10L, 12L), (11L, 12L), (11L, 13L),
      (12L, 13L), (12L, 14L), (13L, 14L))
    val e = edgeDf((k5 ++ chain): _*)
    val local = GraphOps.kTruss(e, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(local === k5.map { case (a, b) => (a, b, 3L) }.toSet)
    val dist = GraphOps.kTruss(e, k = 4, maxLocalEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(dist === local)
    // k above the densest motif empties the graph
    assert(GraphOps.kTruss(e, k = 6).count() === 0L)
  }

  test("bfs local fast path and distributed loop agree (both directions)") {
    val e = DerivedGraphs.hashEdges(spark, sfDir, 512).localCheckpoint()
    val s = spark
    import s.implicits._
    val src = Seq(1L).toDF("vertex")
    val local = GraphOps.bfs(e, src).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val dist = GraphOps.bfs(e, src, maxLocalEdges = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(local === dist)
    assert(local.nonEmpty)
  }

  test("sssp: planted toll graph has the known weighted distances") {
    val s = spark
    import s.implicits._
    // 1→2 (5), 1→3 (1), 3→2 (1), 2→4 (2), 3→4 (10); 8→9 unreachable.
    // Best: d(2) = 2 via 3 (not the direct 5), d(4) = 4 via 3→2.
    val e = Seq((1L, 2L, 5L), (1L, 3L, 1L), (3L, 2L, 1L), (2L, 4L, 2L),
      (3L, 4L, 10L), (8L, 9L, 1L)).toDF("src", "dst", "w")
    def distsOf(maxLocal: Long) =
      GraphOps.sssp(e, 1L, maxLocalEdges = maxLocal).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = Map(1L -> 0L, 3L -> 1L, 2L -> 2L, 4L -> 4L)
    assert(distsOf(GraphOps.LocalEdgeThreshold) === expected)
    assert(distsOf(0L) === expected)
  }

  test("sssp: round budget auto-scales with edge count so deep chains cannot be rejected") {
    // The default cap must never reject a valid input: relaxation can
    // need up to the shortest-path hop depth (≤ |V|−1 ≤ |E|+1) rounds,
    // so auto = max(256, |E|) is a non-termination backstop only.
    assert(GraphOps.ssspRoundCap(0, 10L) === 256L)          // small graph: floor
    assert(GraphOps.ssspRoundCap(0, 5000000L) === 5000000L) // deep graph: |E| bound
    assert(GraphOps.ssspRoundCap(7, 5000000L) === 7L)       // explicit caller cap wins
    // end-to-end: a 300-hop toll chain (|E| = 300 > the old fixed 256)
    // converges under the DEFAULT cap on the driver-Dijkstra twin, and
    // an explicit too-small cap still fails loudly on the distributed
    // path (cheap: 3 edges, maxRounds = 1).
    val s = spark
    import s.implicits._
    val chain = s.range(0L, 300L).selectExpr("id as src", "id + 1 as dst", "1L as w")
    val far = GraphOps.sssp(chain, 0L).where(col("vertex") === 300L).head()
    assert(far.getLong(1) === 300L)
    val tiny = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L)).toDF("src", "dst", "w")
    val ex = intercept[IllegalArgumentException] {
      GraphOps.sssp(tiny, 1L, maxRounds = 1, maxLocalEdges = 0L).collect()
    }
    assert(ex.getMessage.contains("not converged"))
  }

  test("sssp: local Dijkstra and distributed relaxation agree on the nation graph") {
    val e = DerivedGraphs.nationWeightedEdges(spark, sfDir)
    val src = e.agg(min(col("src"))).head().getLong(0)
    def rows(maxLocal: Long) =
      GraphOps.sssp(e, src, maxLocalEdges = maxLocal).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = rows(GraphOps.LocalEdgeThreshold)
    assert(local === rows(0L))
    assert(local.nonEmpty)
  }

  test("msf: planted graph yields the unique forest; Kruskal and Borůvka agree") {
    val s = spark
    import s.implicits._
    // Square 1-2-3-4 with a chord and a reverse-duplicate (2,1,7) that
    // the min-per-pair rule must fold into (1,2,1); separate component
    // 8-9. Unique MSF under (w,a,b): {(1,2,1),(3,4,1),(2,3,2),(8,9,5)}.
    val e = Seq((1L, 2L, 1L), (2L, 1L, 7L), (2L, 3L, 2L), (3L, 4L, 1L),
      (1L, 4L, 3L), (1L, 3L, 9L), (8L, 9L, 5L)).toDF("src", "dst", "w")
    def forest(maxLocal: Long) =
      GraphOps.msf(e, maxLocalEdges = maxLocal).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = Set((1L, 2L, 1L), (3L, 4L, 1L), (2L, 3L, 2L), (8L, 9L, 5L))
    assert(forest(GraphOps.LocalEdgeThreshold) === expected)
    assert(forest(0L) === expected)
  }

  test("msf: local and Borůvka paths agree on the nation graph, forest is acyclic-spanning") {
    val e = DerivedGraphs.nationWeightedEdges(spark, sfDir)
    def rows(maxLocal: Long) =
      GraphOps.msf(e, maxLocalEdges = maxLocal).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val local = rows(GraphOps.LocalEdgeThreshold)
    assert(local === rows(0L))
    // forest size = vertices − components (spanning, acyclic)
    val und = e.select(col("src"), col("dst"))
    val nVerts = und.select(col("src").as("v"))
      .unionAll(und.select(col("dst").as("v"))).distinct().count()
    val nComps = GraphOps.connectedComponents(und)
      .select("component").distinct().count()
    assert(local.size.toLong === nVerts - nComps)
  }

  test("connectedComponents local union-find and star loop agree") {
    val e = DerivedGraphs.hashEdges(spark, sfDir, 512).localCheckpoint()
    val local = GraphOps.connectedComponents(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dist = GraphOps.connectedComponents(e, maxLocalEdges = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(local === dist)
  }

  test("LongLongOpenMap: growth, overwrite, defaults, and the MinValue " +
      "sentinel key behave like a plain map") {
    val m = new graft.graph.GraphOps.LongLongOpenMap(16)
    val ref = scala.collection.mutable.HashMap.empty[Long, Long]
    val rnd = new scala.util.Random(7)
    // force several growth rounds, include negatives, zero, overwrites
    (1 to 20000).foreach { i =>
      val k = if (i % 97 == 0) 0L else rnd.nextLong() >> (i % 3 * 16)
      val v = rnd.nextLong()
      m.put(k, v); ref(k) = v
    }
    ref.foreach { case (k, v) => assert(m.getOrDefault(k, v - 1) === v) }
    assert(m.getOrDefault(123456789012345L, -7L) === -7L)
    // sentinel key round-trip
    assert(m.getOrDefault(Long.MinValue, 42L) === 42L)
    m.put(Long.MinValue, 9L); ref(Long.MinValue) = 9L
    assert(m.getOrDefault(Long.MinValue, 42L) === 9L)
    var seen = Set.empty[Long]
    m.foreachKey(k => seen += k)
    assert(seen === ref.keySet.toSet)
  }

  test("connectedComponents: duplicate edges, self-loops, and the iterated " +
      "contraction drop-to-local agree with the local path") {
    val s = spark
    import s.implicits._
    // Planted: two chains (1..40, 100..140) cross-linked into one
    // component each, every edge duplicated 5× in both orientations,
    // plus self-loops on members (7) and on an otherwise-ISOLATED
    // vertex (999 — must label 999), at a forced tiny threshold so
    // the r21 iterated-contraction path runs (raw 810 edges > 100,
    // forest floor 79 edges ≤ 100) and drops to local mid-sequence.
    val base = (1L to 39L).map(i => (i, i + 1)) ++
      (100L to 139L).map(i => (i, i + 1))
    val dup = (1 to 5).flatMap(_ => base ++ base.map { case (a, b) => (b, a) }) ++
      Seq((7L, 7L), (999L, 999L))
    val e = dup.toDF("src", "dst").repartition(8).localCheckpoint()
    val local = GraphOps.connectedComponents(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaContract = GraphOps.connectedComponents(e, maxLocalEdges = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaStars = GraphOps.connectedComponents(e, maxLocalEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(local === viaContract)
    assert(local === viaStars)
    assert(local.contains((999L, 999L)) && local.contains((40L, 1L)) &&
      local.contains((140L, 100L)))
  }

  test("pagerank, triangleCounts, kCore: local and distributed paths agree") {
    val e = DerivedGraphs.hashEdges(spark, sfDir, 512).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val prL = graft.graph.GraphOps.pagerank(e, iters = 3)
      .select(col("vertex"), round(col("rank"), 6).as("rank"))
    val prD = graft.graph.GraphOps.pagerank(e, iters = 3, maxLocalEdges = 0L)
      .select(col("vertex"), round(col("rank"), 6).as("rank"))
    assert(rows(prL) === rows(prD))
    assert(rows(GraphOps.triangleCounts(e)) === rows(GraphOps.triangleCounts(e, maxLocalEdges = 0L)))
    assert(rows(GraphOps.kCore(e, k = 2)) === rows(GraphOps.kCore(e, k = 2, maxLocalEdges = 0L)))
  }

  test("labelPropagation separates two planted cliques, paths agree") {
    // two 4-cliques joined by a single bridge edge
    val c1 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val c2 = for (a <- 11L to 14L; b <- (a + 1) to 14L) yield (a, b)
    val e = edgeDf((c1 ++ c2 :+ ((4L, 11L))): _*)
    val lpa = GraphOps.labelPropagation(e, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 4L).map(lpa).toSet.size === 1)   // one community per clique
    assert((11L to 14L).map(lpa).toSet.size === 1)
    assert(lpa(1L) !== lpa(12L))                    // cliques stay separate
    val dist = GraphOps.labelPropagation(e, iters = 4, maxLocalEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === lpa)
  }

  test("hits: star center is the authority, spokes are hubs; paths agree") {
    // 1..4 all point at 5: 5 gets all authority, 1..4 split hub mass
    val e = edgeDf((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L))
    def byV(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val local = byV(GraphOps.hits(e, iters = 2))
    assert(math.abs(local(5L)._1 - 1.0) < 1e-12)    // sole authority
    assert(local(5L)._2 === 0.0)                    // no out-edges: no hub mass
    (1L to 4L).foreach { v =>
      assert(local(v)._1 === 0.0)
      assert(math.abs(local(v)._2 - 0.25) < 1e-12)  // equal hub split
    }
    val dist = byV(GraphOps.hits(e, iters = 2, maxLocalEdges = 0L))
    assert(dist.keySet === local.keySet)
    local.foreach { case (v, (a, h)) =>
      assert(math.abs(dist(v)._1 - a) < 1e-9 && math.abs(dist(v)._2 - h) < 1e-9)
    }
  }

  test("linkPrediction scores the open pair of a wedge, skips adjacent pairs") {
    // path 1-2-3 plus pendant 3-4: candidates are exactly the
    // distance-2 pairs (1,3)? no — (1,3) shares neighbor 2 but 1-3 not
    // adjacent; (2,4) shares 3; (1,2) etc. are adjacent and excluded.
    val e = edgeDf((1L, 2L), (2L, 3L), (3L, 4L))
    val out = GraphOps.linkPrediction(e).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out.keySet === Set((1L, 3L), (2L, 4L)))
    val (cn, jac, aa) = out((1L, 3L))
    assert(cn === 1L)
    // deg(1)=1, deg(3)=2, cn=1 → jaccard = 1/2; common neighbor 2 has deg 2
    assert(jac === 0.5)
    assert(math.abs(aa - 1.0 / math.log(2.0)) < 1e-6)
  }

  test("scc separates cycles joined one-way, local and distributed agree") {
    // cycle {1,2,3} -> bridge -> cycle {10,11}; 20 hangs off one-way
    val e = edgeDf((1L, 2L), (2L, 3L), (3L, 1L),
      (3L, 10L), (10L, 11L), (11L, 10L), (11L, 20L))
    val local = GraphOps.scc(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
    val dist = GraphOps.scc(e, maxLocalEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === local)
  }

  test("scc class refinement: chain of cycles resolves in 2 rounds (naive peel needs K)") {
    // Six 3-cycles chained one-way with ascending ids: the naive
    // min-label peel assigns ONE cycle per FW-BW generation (fwd = 1
    // everywhere); class refinement splits all six cycles apart after
    // round 1 — maxRounds = 3 proves the bound (and the fallback never
    // fires: output must still be exact).
    val cycles = (0 until 6).flatMap { i =>
      val b = i * 3 + 1L
      Seq((b, b + 1), (b + 1, b + 2), (b + 2, b)) ++
        (if (i < 5) Seq((b + 2, b + 3)) else Nil)
    }
    val e = edgeDf(cycles: _*)
    val local = GraphOps.scc(e).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (0 until 6).flatMap { i =>
      val b = i * 3 + 1L
      Seq(b -> b, (b + 1) -> b, (b + 2) -> b)
    }.toMap
    assert(local === expected)
    val dist = GraphOps.scc(e, maxLocalEdges = 0L, maxRounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === local)
  }

  test("hyperBall closeness/eccentricity track the exact all-sources path") {
    // nation graph at sf0.001: 25 vertices — the exact path is the
    // oracle; forcing maxExactVerts = 0 pins the HyperBall sketch
    // against it (deterministic hashing → stable assertions)
    val e = DerivedGraphs.nationEdges(spark, sfDir)
    val exactC = GraphOps.closeness(e).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val skC = GraphOps.closeness(e, maxExactVerts = 0L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(skC.keySet === exactC.keySet)
    exactC.foreach { case (v, (n, c)) =>
      val (ns, cs) = skC(v)
      assert(math.abs(ns - n) <= math.max(1.0, 0.1 * n),
        s"vertex $v n_reached sketch $ns vs exact $n")
      assert(math.abs(cs - c) <= math.max(0.02, 0.15 * c),
        s"vertex $v closeness sketch $cs vs exact $c")
    }
    val exactE = GraphOps.eccentricity(e).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val skE = GraphOps.eccentricity(e, maxExactVerts = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    exactE.foreach { case (v, ecc) =>
      assert(math.abs(skE(v) - ecc) <= 1L, s"vertex $v ecc sketch ${skE(v)} vs exact $ecc")
    }
  }

  test("harmonic: planted chain values exact; sketch path tracks the exact path") {
    // 1→2→3 plus isolated pair 8→9: h(1) = 1/1 + 1/2 = 1.5, h(2) = 1,
    // sinks score 0; unreachable vertices contribute nothing (the
    // disconnected-graph robustness closeness lacks)
    val e = edgeDf(1L -> 2L, 2L -> 3L, 8L -> 9L)
    val h = GraphOps.harmonic(e).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(h === Map(
      1L -> ((3L, 1.5)), 2L -> ((2L, 1.0)), 3L -> ((1L, 0.0)),
      8L -> ((2L, 1.0)), 9L -> ((1L, 0.0))))
    // HyperBall estimate tracks the exact path on the nation graph
    val ne = DerivedGraphs.nationEdges(spark, sfDir)
    val exact = GraphOps.harmonic(ne).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val sk = GraphOps.harmonic(ne, maxExactVerts = 0L).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(sk.keySet === exact.keySet)
    exact.foreach { case (v, x) =>
      assert(math.abs(sk(v) - x) <= math.max(0.5, 0.15 * x),
        s"vertex $v harmonic sketch ${sk(v)} vs exact $x")
    }
  }

  test("GraphStore upserts: sequenced writers union, readers see whole snapshots") {
    // Reference contract (primary_server.c:62-107): writers are
    // sequenced (writers-preference); re-expressed as snapshot-replace
    // where each upsert merges the LATEST committed snapshot.
    val dir = Files.createTempDirectory("graft-store").toString
    GraphStore.save(spark, dir, "g", edgeDf((1L, 2L)))
    GraphStore.upsert(spark, dir, "g", edgeDf((3L, 4L)))
    // a reader between the two commits sees the full first merge
    val mid = GraphStore.load(spark, dir, "g").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mid === Set((1L, 2L), (3L, 4L)))
    // second writer merges on top of the first writer's commit (its
    // snapshot read happens after the swap), and duplicates dedupe
    GraphStore.upsert(spark, dir, "g", edgeDf((5L, 6L), (3L, 4L)))
    val fin = GraphStore.load(spark, dir, "g").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fin === Set((1L, 2L), (3L, 4L), (5L, 6L)))
    assert(GraphStore.load(spark, dir, "g").count() === 3L) // no dup rows
  }

  test("GraphStore: concurrent upserts on one graph lose no edges and leave no staging dir") {
    val dir = Files.createTempDirectory("graft-store").toString
    GraphStore.save(spark, dir, "g", edgeDf((1L, 2L)))
    val rounds = 4
    val increments = Seq(100L, 200L).map(base => (0 until rounds).map(i => (base + i, 1L)))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = increments.map { edges =>
      new Thread(() =>
        try edges.foreach(e => GraphStore.upsert(spark, dir, "g", edgeDf(e)))
        catch { case t: Throwable => errors.add(t) })
    }
    writers.foreach(_.start())
    writers.foreach(_.join())
    assert(errors.isEmpty, s"upsert failed: ${errors.peek()}")
    val stored = GraphStore.load(spark, dir, "g").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored === Set((1L, 2L)) ++ increments.flatten)
    val leftovers = (new java.io.File(dir).listFiles() ++ new java.io.File(dir, "g").listFiles())
      .map(_.getName).filter(_.contains(".staging-"))
    assert(leftovers.isEmpty, s"staging dirs left: ${leftovers.mkString(", ")}")
  }

  test("ppr: mass concentrates at seeds, fades with distance; paths agree") {
    val s = spark
    import s.implicits._
    // chain 1 -> 2 -> 3 -> 4 -> 5 plus an isolated-ish pair 10 -> 11
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("src", "dst")
    val pr = GraphOps.ppr(e, seeds = Seq(1L), iters = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // fixed-iteration PPR: the seed keeps its reset mass every round,
    // the initial probe mass travels as a wave (3 hops after 3 iters)
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-12
    assert(near(pr(1L), 0.15))
    assert(near(pr(2L), 0.85 * 0.15) && near(pr(3L), 0.85 * 0.85 * 0.15))
    assert(near(pr(4L), 0.85 * 0.85 * 0.85)) // the wavefront
    assert(pr(5L) === 0.0)                   // not reached yet
    // nothing reaches the disconnected pair
    assert(pr(10L) === 0.0 && pr(11L) === 0.0)
    val dist = GraphOps.ppr(e, seeds = Seq(1L), iters = 3, maxLocalEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dist.view.mapValues(v => math.rint(v * 1e6)).toMap ===
      pr.view.mapValues(v => math.rint(v * 1e6)).toMap)
  }

  test("pagerank is ppr seeded with every vertex, on both paths") {
    val e = DerivedGraphs.hashEdges(spark, sfDir, 512).localCheckpoint()
    val every = e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
      .distinct().collect().map(_.getLong(0)).toSeq
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vertex"), round(col("rank"), 6).as("rank"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (maxLocal <- Seq(GraphOps.LocalEdgeThreshold, 0L)) {
      val pr = ranks(GraphOps.pagerank(e, iters = 4, maxLocalEdges = maxLocal))
      val pp = ranks(GraphOps.ppr(e, seeds = every, iters = 4, maxLocalEdges = maxLocal))
      assert(pr.size === every.size, s"maxLocalEdges=$maxLocal")
      assert(pr === pp, s"maxLocalEdges=$maxLocal")
    }
  }

  test("betweenness: diamond values exact; local/distributed/sampled paths agree") {
    // diamond 1→{2,3}→4→5 plus an unreachable component 8→9.
    // Exact directed bc: 2 and 3 each carry half of (1,4) and (1,5)
    // (σ=2 ties) → 1.0; 4 carries (1,5),(2,5),(3,5) → 3.0; rest 0.
    val e = edgeDf(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L, 4L -> 5L, 8L -> 9L)
    def byV(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val local = byV(GraphOps.betweenness(e))
    assert(local === Map(
      1L -> (0.0, 7L), 2L -> (1.0, 7L), 3L -> (1.0, 7L), 4L -> (3.0, 7L),
      5L -> (0.0, 7L), 8L -> (0.0, 7L), 9L -> (0.0, 7L)))
    // distributed σ-BFS + backward sweep is output-identical
    assert(byV(GraphOps.betweenness(e, maxLocalEdges = 0L)) === local)
    // the sampled-source path with a budget covering every vertex is
    // the exact answer (scale nv/k = 1) — pins the pivot machinery
    assert(byV(GraphOps.betweenness(e, maxExactVerts = 0L, sampleSources = 100)) === local)
    // a true sample: the 2 pivots in the engine's seeded-hash draw
    // order, dependencies scaled by 7/2. Per-source dependency maps of
    // the diamond: δ₁ = (2:1, 3:1, 4:1), δ₂ = δ₃ = (4:1), all other
    // sources contribute nothing — so the expectation is derivable for
    // whichever pivots the hash picks.
    val pivots = {
      val s = spark
      import s.implicits._
      Seq(1L, 2L, 3L, 4L, 5L, 8L, 9L).toDF("v")
        .orderBy(xxhash64(lit(GraphOps.BetweennessPivotSeed), col("v")), col("v"))
        .limit(2).collect().map(_.getLong(0)).toSet
    }
    val dep = Map[Long, Map[Long, Double]](
      1L -> Map(2L -> 1.0, 3L -> 1.0, 4L -> 1.0),
      2L -> Map(4L -> 1.0), 3L -> Map(4L -> 1.0))
      .withDefaultValue(Map.empty[Long, Double].withDefaultValue(0.0))
    val expect = Seq(1L, 2L, 3L, 4L, 5L, 8L, 9L).map { v =>
      v -> (3.5 * pivots.toSeq.map(s => dep(s).getOrElse(v, 0.0)).sum, 2L)
    }.toMap
    val sampled = byV(GraphOps.betweenness(e, maxExactVerts = 0L, sampleSources = 2))
    assert(sampled === expect, s"pivots=$pivots")
    // sampled + distributed compose
    assert(byV(GraphOps.betweenness(e, maxExactVerts = 0L, sampleSources = 2,
      maxLocalEdges = 0L)) === sampled)
  }

  test("betweenness: Brandes–Pich estimator accuracy bound above the exact-verts threshold") {
    // The sampled estimator is the declared production contract at
    // 100 TB; this pins its accuracy on a graph ABOVE the exact-path
    // size, with the deterministic seeded-hash (xxhash64) pivot order
    // the engine uses.
    // The graph must have real betweenness VARIANCE for the bounds to
    // mean anything (a near-transitive graph makes every rank a tie):
    // 8 communities of 50 with random-ish internal digraphs, chained
    // through their entry vertices 0, 50, …, 350 — inter-community
    // traffic funnels through the entries, whose exact betweenness
    // dwarfs the internal vertices'.
    val n = 400L
    val edges = spark.range(0L, n).selectExpr(
        "id as src",
        """stack(3,
          (id div 50) * 50 + (id * 31 + 7) % 50,
          (id div 50) * 50 + (id * 17 + 3) % 50,
          CASE WHEN id % 50 = 0 THEN (id + 50) % 400 ELSE id END) as dst""")
      .where(col("src") =!= col("dst")).localCheckpoint()
    def bcOf(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exact = bcOf(GraphOps.betweenness(edges, maxExactVerts = n))
    // half the vertices as pivots (scale 2), forced sampled path
    val est = bcOf(GraphOps.betweenness(edges, maxExactVerts = n - 1,
      sampleSources = (n / 2).toInt))
    assert(exact.keySet === est.keySet)
    val vs = exact.keySet.toSeq.sorted
    // (1) normalized aggregate error: Σ|est − exact| / Σ exact — the
    // whole-distribution deviation, scale-free
    val aggErr = vs.map(v => math.abs(est(v) - exact(v))).sum / vs.map(exact).sum
    // (2) mean absolute relative error over the top-20 exact vertices —
    // the head of the ranking, where estimator error matters most
    val top20 = vs.sortBy(v => -exact(v)).take(20)
    val mare = top20.map(v => math.abs(est(v) - exact(v)) / exact(v)).sum / 20
    // (3) head recovery: the 8 true bridges must all surface in the
    // estimated top-16 — the "which vertices matter" question the
    // estimator exists to answer
    val bridges = vs.sortBy(v => -exact(v)).take(8).toSet
    val estTop16 = vs.sortBy(v => -est(v)).take(16).toSet
    info(f"aggErr=$aggErr%.4f top20_mare=$mare%.4f bridgesRecovered=${(bridges & estTop16).size}")
    assert(aggErr <= 0.25, f"normalized aggregate error $aggErr%.4f above bound")
    assert(mare <= 0.25, f"top-20 mean abs rel err $mare%.4f above bound")
    assert((bridges & estTop16) === bridges,
      s"estimator lost bridges: ${bridges -- estTop16}")
    // determinism: pivots are drawn in seeded-hash (xxhash64) order —
    // a pure function of the vertex ids — so a re-run is bit-identical
    assert(bcOf(GraphOps.betweenness(edges, maxExactVerts = n - 1,
      sampleSources = (n / 2).toInt)) === est)
  }

  test("clusteringCoefficients: triangle scores 1, bridge vertex 1/3, leaf 0") {
    // triangle {1,2,3} plus a tail 3-4: cc(1)=cc(2)=1 (their whole
    // neighborhood is closed), cc(3)=2·1/(3·2)=1/3, cc(4)=0 (deg 1)
    val e = edgeDf(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L)
    val cc = GraphOps.clusteringCoefficients(e).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(cc === Map(
      1L -> ((2L, 1L, 1.0)), 2L -> ((2L, 1L, 1.0)),
      3L -> ((3L, 1L, 0.333333)), 4L -> ((1L, 0L, 0.0))))
  }

  test("assortativity: star is perfectly disassortative, ring perfectly regular") {
    // star center 0, spokes 1..4 (both orientations): every edge joins
    // deg-4 to deg-1, so endpoint degrees anti-correlate exactly: r=-1
    def undirect(pairs: (Long, Long)*) =
      edgeDf(pairs ++ pairs.map(_.swap): _*)
    val star = undirect(0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L)
    val r = GraphOps.assortativity(star).head
    assert(r.getLong(0) === 8L && r.getDouble(1) === -1.0)
    // a ring is 2-regular: zero degree variance → NULL, not NaN
    val ring = undirect(1L -> 2L, 2L -> 3L, 3L -> 1L)
    assert(GraphOps.assortativity(ring).head.isNullAt(1))
  }

  test("modularity: two planted cliques decompose to the known Newman-Girvan terms") {
    val s = spark
    import s.implicits._
    // 3-cliques {1,2,3} and {4,5,6} joined by 3-4: m=7,
    // each side L_c=3, D_c=7 → q_term = 3/7 − (7/14)² = 0.178571
    val e = edgeDf(1L -> 2L, 2L -> 3L, 1L -> 3L, 4L -> 5L, 5L -> 6L, 4L -> 6L, 3L -> 4L)
    val labels = Seq(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 20L, 5L -> 20L, 6L -> 20L)
      .toDF("vertex", "community")
    val q = GraphOps.modularity(e, labels).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(q === Map(
      10L -> ((3L, 3L, 7L, 0.178571)), 20L -> ((3L, 3L, 7L, 0.178571))))
    // a merge-everything labeling scores 0 exactly (all edges internal,
    // degree sum = 2m): the degenerate case Q is designed to punish
    val one = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("vertex").withColumn("community", lit(0L))
    assert(GraphOps.modularity(e, one).head.getDouble(4) === 0.0)
  }

  test("randomWalks: walks follow edges, diverge by walk_id, stop at dead ends") {
    // 1→{2,3}, 2→{1,3}, 3→1 plus an isolated dead-end chain 7→8
    val e = edgeDf(1L -> 2L, 1L -> 3L, 2L -> 1L, 2L -> 3L, 3L -> 1L, 7L -> 8L)
    val walks = Seq((0L, 1L), (1L, 1L), (2L, 7L))
    val out = GraphOps.randomWalks(e, walks, len = 4).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(3)).toMap
    val adj = Map(1L -> Set(2L, 3L), 2L -> Set(1L, 3L), 3L -> Set(1L), 7L -> Set(8L))
    // every hop follows an edge
    for (((w, s), v) <- out if s > 0) assert(adj(out((w, s - 1))).contains(v))
    // both walks from seed 1 run the full length and start at the seed
    assert(out((0L, 0)) === 1L && out((1L, 0)) === 1L)
    assert(out.contains((0L, 4)) && out.contains((1L, 4)))
    // the dead-end walk stops after 8 (8 has no out-edges)
    assert(out((2L, 1)) === 8L && !out.contains((2L, 2)))
    // determinism: a second run is identical
    val again = GraphOps.randomWalks(e, walks, len = 4).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(3)).toMap
    assert(again === out)
  }

  test("graph_reciprocity: profile matches a locally recomputed mutual-edge count") {
    val edges = DerivedGraphs.nationEdges(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = graph.GraphQueries.graphReciprocity(spark, sfDir).collect()
    assert(out.nonEmpty)
    // one row per vertex that appears on either edge side
    val verts = edges.flatMap(e => Seq(e._1, e._2))
    assert(out.map(_.getLong(0)).toSet === verts)
    out.foreach { r =>
      val v = r.getLong(0)
      val outN = edges.filter(_._1 == v).map(_._2)
      val inN = edges.filter(_._2 == v).map(_._1)
      assert(r.getLong(1) === outN.size.toLong)
      assert(r.getLong(2) === inN.size.toLong)
      val recip = outN.count(w => edges.contains((w, v)))
      assert(r.getLong(3) === recip.toLong)
      // ratio: reported at 6 dp, in [0, 1], recip_deg ≤ out_deg
      assert(r.getLong(3) <= r.getLong(1))
      val want =
        if (outN.isEmpty) 0.0
        else BigDecimal(recip.toDouble / outN.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(4) === want)
    }
    // the nation trade graph genuinely has mutual pairs to measure
    assert(out.map(_.getLong(3)).sum > 0L)
  }

  test("supply degree catalog: bipartite mapping equals directed degrees; catalog-fed assortativity equals self-derived") {
    // graph_degrees serves the shared directed-degree catalog (out/in
    // split from the edge side, never a key-range compare) — pin it
    // row-identical to GraphOps.degrees over the directed frame
    val fromCatalog = graph.GraphQueries.graphDegrees(spark, sfDir).collect().map(_.toSeq)
    val direct = GraphOps.degrees(DerivedGraphs.supplyEdges(spark, sfDir))
      .orderBy("vertex").collect().map(_.toSeq)
    assert(fromCatalog.nonEmpty)
    assert(fromCatalog.toSeq === direct.toSeq)

    // assortativity: the catalog-served degree frame and the
    // internally-derived one must produce the identical scalar row
    val und = DerivedGraphs.supplyEdgesUndirected(spark, sfDir)
    val a = GraphOps.assortativity(und,
      degrees = Some(DerivedGraphs.supplyDegreesUndirected(spark, sfDir))).head
    val b = GraphOps.assortativity(und).head
    assert(a.toSeq === b.toSeq)
  }

  test("densest subgraph: planted clique+tail peels to the clique; paths agree") {
    val spk = spark
    import spk.implicits._
    // 6-clique {1..6} (density 15/6 = 2.5) + a 12-vertex path tail
    // hanging off vertex 6: the full graph's density (15+12)/18 = 1.5
    // is NOT the best snapshot — the peel must strip the tail and
    // return the clique
    val clique = for (a <- 1 to 6; b <- (a + 1) to 6) yield (a.toLong, b.toLong)
    val tail = (0 until 12).map(i => ((if (i == 0) 6 else 100 + i - 1).toLong, (100 + i).toLong))
    val edges = (clique ++ tail).toDF("src", "dst")
    val local = GraphOps.densestSubgraph(edges).orderBy("vertex").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(local.map(_._1).toSeq === (1L to 6L).toSeq)
    assert(local.forall(_._2 === 2.5))
    val dist = GraphOps.densestSubgraph(edges, maxLocalEdges = 0L)
      .orderBy("vertex").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(dist.toSeq === local.toSeq)
    // O(V) retention contract: the per-round removal-tag deltas are a
    // PARTITION of the vertex set — every vertex tagged exactly once,
    // total retained rows == |V| (not |V| × rounds as the old
    // snapshot-retaining path held live until the best-round pick)
    val canon = edges.select(
      org.apache.spark.sql.functions.least($"src", $"dst").as("u"),
      org.apache.spark.sql.functions.greatest($"src", $"dst").as("v"))
      .where($"u" =!= $"v").distinct().localCheckpoint()
    val (deltas, stats) = GraphOps.densestPeelRounds(canon, canon.count())
    assert(stats.nonEmpty)
    val tagged = deltas.flatMap(_.collect().map(_.getLong(0)))
    val allVerts = (1L to 6L).toSet ++ (100L to 111L).toSet
    assert(tagged.length === allVerts.size, "removal tags must sum to |V| rows")
    assert(tagged.toSet === allVerts, "every vertex tagged exactly once")
    // gate graph: every snapshot's edge set is the induced subgraph on
    // its vertex set, so the reported density must EQUAL m/n of the
    // returned vertices' induced subgraph (self-consistency on real data)
    val g = graph.GraphQueries.graphDensest(spark, sfDir).collect()
    assert(g.nonEmpty)
    val vs = g.map(_.getLong(0)).toSet
    val e = DerivedGraphs.nationEdges(spark, sfDir)
      .select(org.apache.spark.sql.functions.least($"src", $"dst").as("u"),
        org.apache.spark.sql.functions.greatest($"src", $"dst").as("v"))
      .where($"u" =!= $"v").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val m = e.count { case (u, v) => vs(u) && vs(v) }
    val want = BigDecimal(m.toDouble / vs.size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(g.head.getDouble(1) === want,
      s"reported density ${g.head.getDouble(1)} vs induced $want")
  }

  test("coreness: planted clique+triangle+tail; local and distributed paths agree") {
    val spk = spark
    import spk.implicits._
    // 4-clique {1,2,3,4} (coreness 3), triangle {10,11,12} (2),
    // tail 4-20-21 (1), bridging edge 4-10 (doesn't raise either side)
    val edges = Seq(
      (1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),
      (10L,11L),(10L,12L),(11L,12L),
      (4L,10L),(4L,20L),(20L,21L)
    ).toDF("src","dst")
    val expect = Map(1L->3L,2L->3L,3L->3L,4L->3L,10L->2L,11L->2L,12L->2L,20L->1L,21L->1L)
    val local = GraphOps.coreness(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === expect)
    val dist = GraphOps.coreness(edges, maxLocalEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === expect)
    // the retained bucket-peel is the independent algorithmic
    // cross-check for the h-index fixpoint
    val peel = GraphOps.corenessPeel(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(peel === expect)
    // star graph: the hub (degree 5 > k=1) loses ALL its edges when the
    // leaves peel — the prune-isolation case the bucket-peel used to
    // silently drop. Every vertex has coreness 1, hub included.
    val star = (1 to 5).map(i => (0L, i.toLong)).toDF("src", "dst")
    val starExpect = (0L to 5L).map(_ -> 1L).toMap
    assert(GraphOps.coreness(star).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === starExpect)
    assert(GraphOps.coreness(star, maxLocalEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === starExpect)
    // isolation at k > 1: 8-cycle c1..c8 (vertices 61..68, coreness 2
    // throughout) plus hub 50 adjacent to the odd cycle vertices
    // {61,63,65,67} (degree 4). Round 1 peels the even cycle vertices
    // at k=2; round 2 peels the odds (degree fell to 1) at k=2 and the
    // prune then strips ALL four hub edges while deg(hub)=4 > k=2 —
    // the mid-run isolation case. The whole graph has min degree 2 so
    // the 2-core is everything (hub coreness = 2), and the 3-core is
    // empty.
    val cyc = (0 until 8).map(i => ((61 + i).toLong, (61 + (i + 1) % 8).toLong))
    val hub = Seq(61L, 63L, 65L, 67L).map(v => (50L, v))
    val g2 = (cyc ++ hub).toDF("src", "dst")
    val wantG2 = ((61L to 68L) :+ 50L).map(_ -> 2L).toMap
    assert(GraphOps.coreness(g2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === wantG2)
    assert(GraphOps.coreness(g2, maxLocalEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === wantG2)
    // gate graph: h-index fixpoint ≡ bucket-peel ≡ the served local
    // twin, and coreness is consistent with the k-core memberships
    val cg = graph.GraphQueries.graphCoreness(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nEdges = DerivedGraphs.nationEdges(spark, sfDir)
    assert(GraphOps.coreness(nEdges, maxLocalEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === cg)
    assert(GraphOps.corenessPeel(nEdges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === cg)
    val k3 = GraphOps.kCore(DerivedGraphs.nationEdges(spark, sfDir), 3)
      .collect().map(_.getLong(0)).toSet
    assert(cg.nonEmpty)
    k3.foreach(v => assert(cg(v) >= 3L, s"vertex $v in 3-core but coreness ${cg(v)}"))
    cg.filter(_._2 >= 3L).keys.foreach(v => assert(k3.contains(v)))
  }

  test("coreness: hub-skew graph (100k-degree vertex) through the distributed histogram path") {
    // One vertex with 100k leaves plus a 4-clique the hub also joins:
    // {hub, 1..4} is a 5-vertex min-degree-4 subgraph, so the hub and
    // the clique sit in the 4-core while every leaf is coreness 1.
    // r18's per-vertex row_number window sorted all 100k gathered hub
    // rows per round; the r19 histogram form sees TWO rows for the hub
    // (est 1 x100k clipped, est-cap bucket) — this spec pins the
    // skew-immune path to the exact output and to the independent
    // bucket-peel.
    val spk = spark
    import spk.implicits._
    val leaves = (0 until 100000).map(i => (0L, (100L + i)))
    val clique = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L))
    val hubIn = (1L to 4L).map(v => (0L, v))
    val g = spk.createDataFrame(leaves ++ clique ++ hubIn).toDF("src", "dst")
      .localCheckpoint()
    val expect = ((100L until 100100L).map(_ -> 1L) ++
      (1L to 4L).map(_ -> 4L) :+ (0L -> 4L)).toMap
    val dist = GraphOps.coreness(g, maxLocalEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === expect)
    assert(GraphOps.lastCorenessRounds <= 4,
      s"hub-skew fixpoint should converge in a few rounds, took ${GraphOps.lastCorenessRounds}")
    val peel = GraphOps.corenessPeel(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(peel === expect)
  }

  test("RoundCheckpoints captures its own RDD id exactly (no keyset-diff fallback)") {
    // the concurrency guard: ckpt() must identify the checkpoint's OWN
    // persisted RDD from the returned plan, not by diffing the
    // context's persistent set (which could capture a concurrent
    // foreign localCheckpoint and later fatally unpersist it). Pin the
    // primary path so a Spark-version shape drift cannot silently
    // degrade to the racy fallback.
    val spk = spark
    import spk.implicits._
    val df = Seq((1L, 2L), (3L, 4L)).toDF("a", "b").localCheckpoint()
    val id = GraphOps.ownCheckpointRddId(df)
    assert(id.isDefined, "LogicalRDD leaf introspection must work on this Spark version")
    assert(spk.sparkContext.getPersistentRDDs.contains(id.get),
      "the captured id must be the persisted checkpoint RDD")
  }
}
