package graft

import graft.graph.GraphOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Shuffle geometry of the iterative graph loops (SURVEY §6 / r10
  * verdict item 1): when a BFS frontier exceeds the broadcast bound,
  * the per-level join must NOT re-exchange the edge set — the edge
  * frame is re-persisted once under HashPartitioning(src) and only the
  * frontier side shuffles per level.
  *
  * Two layers of evidence:
  *  - a plan-shape check that a join against the partitioned+persisted
  *    edge frame plans exactly one shuffle (the probe side) — this is
  *    the Catalyst property the loop relies on;
  *  - a measured check over a forced-shuffled-path BFS (broadcast
  *    bound lowered to 0 via system property): total shuffle-WRITE
  *    bytes recorded by the scheduler stay below what re-exchanging
  *    the edge set every level would cost, and the traversal's output
  *    is identical to the broadcast path's.
  */
class GraphShuffleGeometrySpec extends SparkSpec {

  /** Exchanges EnsureRequirements had to insert for this query — the
    * per-query shuffles. Counted from the plan string because AQE's
    * `inputPlan` tree predates EnsureRequirements (the node list would
    * miss them), while the one-time REPARTITION_BY_COL exchange inside
    * the cached relation is deliberately excluded.
    */
  private def countRequiredExchanges(df: DataFrame): Int =
    "ENSURE_REQUIREMENTS".r
      .findAllIn(df.queryExecution.executedPlan.toString).length

  test("a src-partitioned persisted edge frame joins with only the probe side shuffling") {
    val spark2 = spark
    import spark2.implicits._
    val edges = spark.range(0L, 20000L)
      .select((col("id") % 997).as("src"), ((col("id") * 31 + 7) % 997).as("dst"))
    val eBySrc = edges.repartition(col("src")).persist()
    eBySrc.count()
    try {
      val frontier = spark.range(0L, 500L).select(col("id").as("vertex"))
      // disable broadcast so the join must pick a shuffled strategy
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = eBySrc.join(frontier, eBySrc("src") === frontier("vertex"))
          .select(col("dst"))
        // one exchange: the frontier. The persisted HashPartitioning(src)
        // must satisfy the join's required distribution on the edge side.
        assert(countRequiredExchanges(joined) === 1,
          joined.queryExecution.executedPlan.toString)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally eBySrc.unpersist()
  }

  test("forced shuffled-path BFS matches broadcast-path output and bounds shuffle writes") {
    val spark2 = spark
    import spark2.implicits._
    // Chain of depth N where every vertex also carries K back-edges to
    // already-visited vertices: depth stays N (one new vertex per
    // level, frontier size 1) while the edge set is (K+1)·N rows — so
    // per-level frontier traffic is negligible against the edge set,
    // and a regression to re-exchanging edges every level blows the
    // byte bound by an order of magnitude instead of rounding error.
    val N = 60L
    val K = 50
    val chain = spark.range(0L, N - 1).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val back = spark.range(0L, N).as[Long].flatMap { v =>
      (1 to K).map(j => (v, math.max(v - j, 0L)))
    }.toDF("src", "dst").where(col("src") =!= col("dst"))
    val edges = chain.unionAll(back).localCheckpoint()
    val edgeBytes = edges.count() * 16 // two longs per row, plan-shape floor
    val sources = Seq(0L).toDF("vertex")

    val broadcastPath = rowsOf(GraphOps.bfs(edges, sources, maxLocalEdges = 0L))

    @volatile var shuffleWrite = 0L
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        shuffleWrite += sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
    }
    // broadcastFrontier=0 forces the shuffled-join path every level;
    // autoBroadcast off stops the planner from silently broadcasting
    // the tiny frontier anyway (which would mask a geometry regression)
    System.setProperty("graft.bfs.broadcastFrontier", "0")
    val prevAbt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.addSparkListener(listener)
    val shuffledPath =
      try rowsOf(GraphOps.bfs(edges, sources, maxLocalEdges = 0L))
      finally {
        System.clearProperty("graft.bfs.broadcastFrontier")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAbt)
        // Listener-bus drain: poll until the counter stops moving
        // (waitUntilEmpty is private[spark]); a fixed sleep can
        // under-count and silently weaken the byte bound below.
        var prev = -1L; var stable = 0; var tries = 0
        while (stable < 3 && tries < 50) {
          Thread.sleep(200)
          val cur = shuffleWrite
          if (cur == prev) stable += 1 else { stable = 0; prev = cur }
          tries += 1
        }
        spark.sparkContext.removeSparkListener(listener)
      }

    assert(shuffledPath === broadcastPath)
    val levels = shuffledPath.map(_(2).asInstanceOf[Number].longValue).max
    assert(levels === N - 1, s"chain should give depth ${N - 1}, got $levels")
    // The healthy geometry pays ONE edge-sized exchange (the
    // repartition) plus per-level frontier/visited traffic (rows, not
    // edges) — measured ≈ 1.8 × edgeBytes total (the one compressed
    // edge exchange + 59 tiny per-level frontier/visited exchanges).
    // A regression to per-level edge re-shuffles writes
    // ~levels × the COMPRESSED edge set; LZ4 on two-long rows buys a
    // few ×, so that regime lands at 10-30 × edgeBytes. The old bound
    // (levels × edgeBytes / 2 ≈ 29 × edgeBytes) sat inside the
    // regressed band; 6 × edgeBytes separates the two while leaving
    // ~3× headroom over the measured healthy value for serialization/
    // file-overhead drift (per-task overheads scale with shuffle
    // partitions × levels, so a tighter bound would couple the spec
    // to the session's partition tuning).
    //
    // COMPRESSION ASSUMPTION: both bands compare COMPRESSED
    // shuffle-write bytes against a raw rows×16 estimate, so their
    // absolute positions assume spark.shuffle.compress=true with the
    // default LZ4 codec (the 1.8×-healthy / 10-30×-regressed numbers
    // above were measured under it). A codec change (zstd compresses
    // these two-long rows ~1.5-2× tighter) or compress=false (~2-4×
    // looser) shifts both bands by the SAME factor — the healthy and
    // regressed regimes stay an order of magnitude apart, but the 6×
    // cut line would need re-measuring. If this assertion ever trips
    // without a graph-loop code change, check the shuffle codec config
    // before suspecting the loop geometry.
    info(s"shuffleWrite=$shuffleWrite edgeBytes=$edgeBytes levels=$levels " +
      s"(bound=${6 * edgeBytes}, regressed band ≈ ${10 * edgeBytes}+)")
    assert(shuffleWrite < 6 * edgeBytes,
      s"shuffleWrite=$shuffleWrite levels=$levels edgeBytes=$edgeBytes")
  }

  test("forced shuffled-path sssp matches the local Dijkstra and bounds shuffle writes") {
    val spark2 = spark
    import spark2.implicits._
    // Same topology as the BFS byte-bound test (depth-N chain + K
    // backward edges per vertex) with deterministic 1..7 tolls: the
    // relaxation rounds advance one chain hop per round (~N rounds,
    // a frontier of about one vertex) while the edge set is (K+1)·N
    // rows — a regression to re-exchanging edges per round blows the
    // bound by an order of magnitude.
    val N = 60L
    val K = 50
    val chain = spark.range(0L, N - 1).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val back = spark.range(0L, N).as[Long].flatMap { v =>
      (1 to K).map(j => (v, math.max(v - j, 0L)))
    }.toDF("src", "dst").where(col("src") =!= col("dst"))
    val edges = chain.unionAll(back)
      .withColumn("w", lit(1L) + (col("src") + col("dst")) % 7L)
      .localCheckpoint()
    val edgeBytes = edges.count() * 24 // three longs per row

    val localPath = rowsOf(GraphOps.sssp(edges, 0L))

    @volatile var shuffleWrite = 0L
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        shuffleWrite += sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
    }
    val prevAbt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.addSparkListener(listener)
    val shuffledPath =
      try rowsOf(GraphOps.sssp(edges, 0L, maxLocalEdges = 0L))
      finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAbt)
        var prev = -1L; var stable = 0; var tries = 0
        while (stable < 3 && tries < 50) {
          Thread.sleep(200)
          val cur = shuffleWrite
          if (cur == prev) stable += 1 else { stable = 0; prev = cur }
          tries += 1
        }
        spark.sparkContext.removeSparkListener(listener)
      }

    assert(shuffledPath === localPath)
    // Same bands as the BFS bound (see the compression note above):
    // healthy = one edge-sized exchange by source + per-round messages
    // from the frontier; regressed = ~rounds × compressed edge set.
    info(s"sssp shuffleWrite=$shuffleWrite edgeBytes=$edgeBytes " +
      s"(bound=${6 * edgeBytes})")
    assert(shuffleWrite < 6 * edgeBytes,
      s"shuffleWrite=$shuffleWrite edgeBytes=$edgeBytes")
  }

  test("score-push loops (pagerank/ppr/hits) pay the edge exchange once, not per iteration") {
    val spark2 = spark
    import spark2.implicits._
    // Dense-ish digraph: 200 vertices × 100 out-edges = 20k edge rows,
    // while every per-iteration score/contribution frame is ≤ 200 rows
    // — so a regression to re-exchanging the edge set per iteration
    // dwarfs the healthy loop's shuffle writes.
    val V = 200L
    val D = 100
    val edges = spark.range(0L, V).as[Long].flatMap { v =>
      (1 to D).map(j => (v, (v * 31 + j * 97) % V))
    }.toDF("src", "dst").where(col("src") =!= col("dst")).localCheckpoint()
    val edgeBytes = edges.count() * 16
    val iters = 8

    def measure(run: => Unit): Long = {
      @volatile var shuffleWrite = 0L
      val listener = new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
          shuffleWrite += sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
      val prevAbt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      // autoBroadcast off: AQE would broadcast the tiny test frames and
      // mask the partitioning regression this test exists to catch
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.sparkContext.addSparkListener(listener)
      try run
      finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAbt)
        var prev = -1L; var stable = 0; var tries = 0
        while (stable < 3 && tries < 50) {
          Thread.sleep(200)
          val cur = shuffleWrite
          if (cur == prev) stable += 1 else { stable = 0; prev = cur }
          tries += 1
        }
        spark.sparkContext.removeSparkListener(listener)
      }
      shuffleWrite
    }

    // Healthy: each push direction exchanges the edge set once by
    // source (Supersteps.bySource) and a round shuffles only per-
    // destination sums (≤ 200 rows here): pagerank and ppr write about
    // one edge set in all, hits (forward and reverse) about 1.5. A
    // regression that re-exchanges the edges each round writes iters
    // edge sets; even ONE extra edge-sized exchange would exceed the
    // bounds, 1.5× for pagerank and ppr and 2× for hits.
    val prW = measure {
      GraphOps.pagerank(edges, iters = iters, maxLocalEdges = 0L).collect()
    }
    info(s"pagerank shuffleWrite=$prW edgeBytes=$edgeBytes (bound=${3 * edgeBytes / 2})")
    assert(prW < 3 * edgeBytes / 2, s"pagerank shuffleWrite=$prW edgeBytes=$edgeBytes")

    val pprW = measure {
      GraphOps.ppr(edges, seeds = Seq(0L, 1L), iters = iters, maxLocalEdges = 0L).collect()
    }
    info(s"ppr shuffleWrite=$pprW edgeBytes=$edgeBytes (bound=${3 * edgeBytes / 2})")
    assert(pprW < 3 * edgeBytes / 2, s"ppr shuffleWrite=$pprW edgeBytes=$edgeBytes")

    val hitsW = measure {
      GraphOps.hits(edges, iters = iters, maxLocalEdges = 0L).collect()
    }
    info(s"hits shuffleWrite=$hitsW edgeBytes=$edgeBytes (bound=${2 * edgeBytes})")
    assert(hitsW < 2 * edgeBytes, s"hits shuffleWrite=$hitsW edgeBytes=$edgeBytes")
  }

  test("twin-cache lifecycle: by-dst copies are DISK_ONLY and brandes frees by-src before the sweep") {
    val buf = scala.collection.mutable.Buffer.empty[String]
    GraphOps.cacheAudit.set(buf)
    System.setProperty("graft.bfs.broadcastFrontier", "0")
    try {
      val edges = spark.range(0L, 3000L)
        .select((col("id") % 200).as("src"), ((col("id") * 13 + 1) % 200).as("dst"))
        .where(col("src") =!= col("dst")).localCheckpoint()
      def r6(df: DataFrame, cols: String*) =
        rowsOf(df.select(col(cols.head) +: cols.tail.map(c => round(col(c), 6).as(c)): _*))
      // hits: the distributed path builds the by-dst copy; output must
      // match the driver twin at the callers' rounding
      val hitsDist = GraphOps.hits(edges, iters = 2, maxLocalEdges = 0L)
      val hitsLocal = GraphOps.hits(edges, iters = 2)
      assert(r6(hitsDist, "vertex", "authority", "hub")
        === r6(hitsLocal, "vertex", "authority", "hub"))
      // betweenness: forced-shuffled frontiers build BOTH copies; the
      // audit below pins when each lives and at what storage level
      val bDist = rowsOf(GraphOps.betweenness(edges, maxLocalEdges = 0L))
      val bLocal = rowsOf(GraphOps.betweenness(edges))
      assert(bDist === bLocal)
    } finally {
      System.clearProperty("graft.bfs.broadcastFrontier")
      GraphOps.cacheAudit.remove()
    }
    info(buf.mkString(", "))
    assert(buf.contains("hits:eByDst:DISK_ONLY"))
    val persistSrc = buf.indexOf("brandes:eBySrc:MEMORY_AND_DISK")
    val releaseSrc = buf.indexOf("brandes:eBySrc:released")
    val backStart = buf.indexOf("brandes:backward:start")
    val persistDst = buf.indexOf("brandes:eByDst:DISK_ONLY")
    // forward copy exists, is released no later than the sweep starts,
    // and the sweep's copy is disk-resident — so the loop family's
    // memory cache footprint is one edges-sized frame at any point
    assert(persistSrc >= 0 && releaseSrc > persistSrc && releaseSrc <= backStart,
      buf.mkString(", "))
    assert(persistDst > backStart, buf.mkString(", "))
  }

  test("planted hub: two-frame split bounds the max cached partition, output unchanged") {
    // Power-law plant: one vertex carries ~83% of all out-edges —
    // under HashPartitioning(src) its entire edge list lands in ONE
    // cached partition (the per-iteration straggler), which the
    // hubSplit layout must dissolve without changing the answer.
    val hubD = 40000L
    val hub = spark.range(0L, hubD)
      .select(lit(0L).as("src"), (col("id") + 10000L).as("dst"))
    val tail = spark.range(0L, 8000L)
      .select((col("id") % 997 + 1).as("src"), ((col("id") * 31 + 7) % 997 + 1).as("dst"))
    val edges = hub.unionAll(tail).where(col("src") =!= col("dst")).localCheckpoint()

    def maxPart(df: DataFrame): Int =
      df.rdd.mapPartitions(it => Iterator(it.size)).collect().max

    // layout evidence — the split the loops build internally, with an
    // explicit partition count so AQE's small-data coalescing can't
    // blur the measurement (at scale the advisory size never merges
    // real partitions)
    val e = edges.repartition(8, col("src")).distinct().persist()
    val eCount = e.count()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("od"))
    val unsplitMax = maxPart(e)
    val hs = GraphOps.hubSplit(e, eCount, outdeg, hubOutDegree = 1000L)
    try {
      assert(hs.hub.nonEmpty && hs.hubDeg.get.count() === 1L)
      val tailMax = maxPart(hs.tail)
      val hubParts = hs.hub.get.rdd.mapPartitions(it => Iterator(it.size)).collect()
      info(s"unsplitMax=$unsplitMax tailMax=$tailMax hubParts=${hubParts.toSeq}")
      // the unsplit cache really has the straggler partition...
      assert(unsplitMax >= hubD, s"unsplitMax=$unsplitMax")
      // ...the tail frame is bounded by the tail degree distribution...
      assert(tailMax <= 3000, s"tailMax=$tailMax")
      // ...and the hub frame spreads evenly (RoundRobin): no partition
      // holds more than 2x the ideal share
      assert(hubParts.max <= 2L * (hubD / hubParts.length + 1),
        s"hubParts=${hubParts.toSeq}")
      assert(math.max(tailMax.toLong, hubParts.max.toLong) <= unsplitMax / 3,
        s"straggler not dissolved: tailMax=$tailMax hubMax=${hubParts.max}")
    } finally hs.unpersistAll()

    // output contract: hub-split ≡ unsplit at the callers' 6-dp
    // rounding (the union flips double-summation order) for both push
    // loops. The unsplit runs use the auto threshold, which stays
    // above the planted degree (HubMinOutDegree floor) — no hubs.
    def r6(df: DataFrame) =
      rowsOf(df.select(col("vertex"), round(col("rank"), 6).as("r")))
    val prBase = GraphOps.pagerank(edges, iters = 2, maxLocalEdges = 0L)
    val prSplit = GraphOps.pagerank(edges, iters = 2, maxLocalEdges = 0L,
      hubOutDegree = 1000L)
    assert(r6(prSplit) === r6(prBase))
    val seeds = Seq(0L, 1L, 2L)
    val pprBase = GraphOps.ppr(edges, seeds, iters = 2, maxLocalEdges = 0L)
    val pprSplit = GraphOps.ppr(edges, seeds, iters = 2, maxLocalEdges = 0L,
      hubOutDegree = 1000L)
    assert(r6(pprSplit) === r6(pprBase))
    // hits splits BOTH directions: vertex 0 is the out-degree hub on
    // this graph and the IN-degree hub on its reverse
    def r6h(df: DataFrame) = rowsOf(df.select(col("vertex"),
      round(col("authority"), 6).as("a"), round(col("hub"), 6).as("h")))
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
    for (g <- Seq(edges, rev)) {
      val hb = GraphOps.hits(g, iters = 2, maxLocalEdges = 0L)
      val hsp = GraphOps.hits(g, iters = 2, maxLocalEdges = 0L, hubOutDegree = 1000L)
      assert(r6h(hsp) === r6h(hb))
    }
    // the BFS frontier loop (forced onto the shuffled-join path, where
    // the partitioned layout exists) splits the hub identically
    System.setProperty("graft.bfs.broadcastFrontier", "0")
    try {
      val s = spark
      import s.implicits._
      val sources = Seq(1L, 0L).toDF("vertex")
      val bfsBase = rowsOf(GraphOps.bfs(edges, sources, maxLocalEdges = 0L))
      val bfsSplit = rowsOf(GraphOps.bfs(edges, sources, maxLocalEdges = 0L,
        hubOutDegree = 1000L))
      assert(bfsSplit === bfsBase)
      // weighted sssp rounds over hub blocks: integer-exact equality, and
      // equal to driver Dijkstra
      val we = edges.withColumn("w", (col("src") + col("dst")) % 7 + 1)
      val ssspBase = rowsOf(GraphOps.sssp(we, source = 1L, maxLocalEdges = 0L))
      val ssspSplit = rowsOf(GraphOps.sssp(we, source = 1L, maxLocalEdges = 0L,
        hubOutDegree = 1000L))
      assert(ssspSplit === ssspBase && ssspBase === rowsOf(GraphOps.sssp(we, source = 1L)))
      // betweenness (sampled pivots, forced-distributed σ-BFS + sweep):
      // both directions' splits engage — the hub has out-degree 40k
      // here and in-degree 40k on the reversed SP-DAG sweep
      val bBase = rowsOf(GraphOps.betweenness(edges, maxExactVerts = 0L,
        sampleSources = 4, maxLocalEdges = 0L))
      val bSplit = rowsOf(GraphOps.betweenness(edges, maxExactVerts = 0L,
        sampleSources = 4, maxLocalEdges = 0L, hubOutDegree = 1000L))
      assert(bSplit === bBase)
    } finally System.clearProperty("graft.bfs.broadcastFrontier")
  }
}
