package graft

import graft.graph.{GraphOps, Supersteps}
import graft.graph.Supersteps.PairSet
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The distributed BFS loop (RDD supersteps) against the driver-local
  * twin on full (tag, vertex, level) rows, its depth behaviour, and the
  * blocks it leaves behind.
  */
class BfsSuperstepsSpec extends SparkSpec {

  private def rows(df: DataFrame): Set[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def withBound[A](bound: Option[String])(body: => A): A = {
    bound.foreach(System.setProperty("graft.bfs.broadcastFrontier", _))
    try body finally System.clearProperty("graft.bfs.broadcastFrontier")
  }

  /** A seeded random digraph with duplicate edges and self-loops, and
    * 1-3 tags whose sources include a sink, a vertex absent from the
    * edge set and a repeated row.
    */
  private def randomCase(seed: Long): (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(seed)
    val n = 20 + rng.nextInt(60)
    val sink = n.toLong - 1
    val drawn = Seq.fill(n * (1 + rng.nextInt(4)))((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      .filter(_._1 != sink)
    val edges = drawn ++ drawn.take(drawn.size / 5) ++ (0L until 5L).map(v => (v, v))
    val tags = 1 + rng.nextInt(3)
    val sources = (0 until tags).flatMap { t =>
      Seq.fill(1 + rng.nextInt(3))((rng.nextInt(n).toLong, t.toLong))
    } ++ Seq((sink, 0L), (n + 100L, tags.toLong - 1), (0L, 0L), (0L, 0L))
    (edges.toDF("src", "dst"), sources.toDF("vertex", "tag"))
  }

  test("seeded random graphs: the distributed loop equals localBfs on full rows") {
    val s = spark
    import s.implicits._
    // (broadcast bound, hubOutDegree, shuffle partitions): the default
    // bound (broadcast levels only), 0 (every level after the sources
    // exchanged and co-partitioned), 0 with hub blocks, and a bound of
    // 5 so a traversal switches from broadcast to exchanged mid-way —
    // once more over 16 partitions, where a partition's share of that
    // bound is 0 rows and small frontiers come back by a second job.
    val modes = Seq((None, 0L, None), (Some("0"), 0L, None), (Some("0"), 3L, None),
      (Some("5"), 3L, None), (Some("5"), 3L, Some("16")))
    val depths = Seq(0, 1, 2, Int.MaxValue)
    val emptySources = Seq.empty[(Long, Long)].toDF("vertex", "tag")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    for ((bound, hub, parts) <- modes; seed <- 1 to 4) {
      val (e, src) = randomCase(seed * 31L + hub)
      val depth = depths(seed - 1)
      val local = rows(GraphOps.bfs(e, src, depth))
      parts.foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
      try {
        val dist = withBound(bound)(rows(GraphOps.bfs(e, src, depth, maxLocalEdges = 0L, hubOutDegree = hub)))
        assert(dist === local, s"bound=$bound hubOutDegree=$hub partitions=$parts seed=$seed maxDepth=$depth")
        if (seed == 4) {
          assert(local.map(_._3).max >= 2, "the unbounded draw should go past depth 2")
          val none = withBound(bound)(rows(GraphOps.bfs(e, emptySources, maxLocalEdges = 0L, hubOutDegree = hub)))
          assert(none.isEmpty)
        }
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  test("a level's job sends back at most the bound's rows, none for a frontier over it") {
    val sc = spark.sparkContext
    def frontier(sizes: Seq[Int]) = sc.parallelize(sizes.indices, sizes.size).map { p =>
      val s = new PairSet()
      (0 until sizes(p)).foreach(i => s.add(p.toLong, i.toLong))
      s
    }.persist()
    def pairsOf(p: Supersteps.Pairs): Set[(Long, Long)] = p.xs.zip(p.ys).toSet

    @volatile var resultBytes = 0L
    val listener = new SparkListener {
      override def onTaskEnd(end: SparkListenerTaskEnd): Unit =
        resultBytes += end.taskMetrics.resultSize
    }
    /** (size, rows, bytes the job's tasks sent back) of one summarize. */
    def summarize(front: org.apache.spark.rdd.RDD[PairSet], bound: Long) = {
      resultBytes = 0L
      val (n, rows, _) = Supersteps.summarize(front, front, bound, shipRows = true, null)
      // listener-bus drain: wait until the counter stops moving
      var prev = -1L; var stable = 0; var tries = 0
      while (stable < 3 && tries < 50) {
        Thread.sleep(100)
        val cur = resultBytes
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
        tries += 1
      }
      (n, rows, resultBytes)
    }

    sc.addSparkListener(listener)
    try {
      // 8 partitions of 1000 pairs: each is under a bound of 4000 on its
      // own, but the 8000-pair frontier is over it. Task metrics add a
      // few hundred bytes of noise; 8000 rows would add 128 000.
      val even = frontier(Seq.fill(8)(1000))
      even.count()
      val (n0, r0, none) = summarize(even, 0L)
      val (n4k, r4k, over) = summarize(even, 4000L)
      val (n8k, r8k, all) = summarize(even, 8000L)
      assert((n0, n4k, n8k) === ((8000L, 8000L, 8000L)))
      assert(r0 === null && r4k === null)
      assert(pairsOf(r8k) === (0L until 8L).flatMap(p => (0L until 1000L).map((p, _))).toSet)
      assert(over - none < 2000, s"a frontier over the bound sent back ${over - none} B more than none")
      assert(all - none >= 8000 * 16, s"8000 rows should add at least 128 000 B, added ${all - none}")
      even.unpersist()

      // one partition over its share: fetched by a second job once the
      // whole frontier fits the bound
      val skewed = frontier(30 +: Seq.fill(7)(2))
      val (n, rows, _) = summarize(skewed, 50L)
      assert(n === 44L)
      assert(pairsOf(rows).size === 44)
      assert(summarize(skewed, 43L)._2 === null)
      skewed.unpersist()
    } finally sc.removeSparkListener(listener)
  }

  test("a visited set fails past its slot limit instead of looping") {
    val err = intercept[IllegalStateException](new PairSet(Supersteps.MaxSetCapacity))
    assert(err.getMessage.contains("spark.sql.shuffle.partitions"))
  }

  test("a 320-level chain: distributed equals local in bounded time") {
    val s = spark
    import s.implicits._
    val n = 320L
    // chain plus two back-edges per vertex: one new vertex per level
    val chain = spark.range(0L, n - 1).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val back = spark.range(2L, n).select(col("id").as("src"), (col("id") - 2).as("dst"))
    val e = chain.unionAll(back).localCheckpoint()
    val src = Seq(0L).toDF("vertex")
    val local = rows(GraphOps.bfs(e, src))
    val t0 = System.nanoTime()
    val dist = rows(GraphOps.bfs(e, src, maxLocalEdges = 0L))
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"$n levels in $secs%.1f s")
    assert(dist === local)
    assert(dist.map(_._3).max === n - 1)
    assert(secs < 180, f"$n levels took $secs%.1f s")
  }

  test("a collected distributed bfs leaves only its level frontiers persisted") {
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    // a 40-level chain whose root is a 100-edge hub: with bound 0 and
    // hubOutDegree 10 the call builds the source-exchanged layout, the
    // tail and hub blocks and four visited compactions
    val chain = (0L until 39L).map(v => (v, v + 1))
    val fan = (100L until 200L).map(v => (0L, v))
    val e = (chain ++ fan).toDF("src", "dst").localCheckpoint()
    val before = sc.getPersistentRDDs.keySet
    val out = withBound(Some("0")) {
      val df = GraphOps.bfs(e, Seq(0L).toDF("vertex"), maxLocalEdges = 0L, hubOutDegree = 10L)
      rows(df)
    }
    assert(out.map(_._3).max === 39)
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }.values
      .map(r => Option(r.name).getOrElse(r.toString)).toSeq
    val levels = out.map(_._3).size
    assert(left.forall(_.startsWith("bfs level ")), s"left persisted: ${left.sorted}")
    assert(left.size === levels, s"left persisted: ${left.sorted}")
  }
}
