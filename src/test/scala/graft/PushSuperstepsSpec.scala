package graft

import graft.graph.{DerivedGraphs, GraphOps, GraphQueries, Supersteps}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank, PPR and HITS on both push executors — the driver block
  * and the RDD supersteps — against a plain-Scala reference; a tally
  * round over hub blocks on both; the gate's three push ops on the RDD
  * executor; and what a call, the peels' included, leaves behind.
  */
class PushSuperstepsSpec extends SparkSpec {

  /** The vertex programs' arithmetic written out over boxed maps: the
    * oracle both executors answer to, now that they share one kernel.
    * It reads the distinct edges with no null endpoint.
    */
  private object Reference {
    private def verts(es: Seq[(Long, Long)]) = (es.map(_._1) ++ es.map(_._2)).distinct

    def ranks(es: Seq[(Long, Long)], seeds: Option[Seq[Long]], iters: Int, d: Double = 0.85): Map[Long, Double] = {
      val vs = verts(es)
      val (base, start): (Long => Double, Long => Double) = seeds match {
        case None =>
          val n = vs.size
          (_ => (1.0 - d) / n, _ => 1.0 / n)
        case Some(ss) =>
          val seedSet = ss.toSet
          val reset = (v: Long) => if (seedSet(v)) 1.0 / seedSet.size else 0.0
          (v => (1.0 - d) * reset(v), reset)
      }
      val outdeg = es.groupMapReduce(_._1)(_ => 1)(_ + _)
      var rank = vs.map(v => v -> start(v)).toMap
      for (_ <- 1 to iters) {
        val in = es.groupMapReduce(_._2) { case (s, _) => rank(s) / outdeg(s) }(_ + _)
        rank = vs.map(v => v -> (base(v) + d * in.getOrElse(v, 0.0))).toMap
      }
      rank
    }

    def hits(es: Seq[(Long, Long)], iters: Int): Map[Long, (Double, Double)] = {
      val vs = verts(es)
      def half(scores: Map[Long, Double], pairs: Seq[(Long, Long)]): Map[Long, Double] = {
        val in = pairs.groupMapReduce(_._2) { case (from, _) => scores(from) }(_ + _)
        val raw = vs.map(v => v -> in.getOrElse(v, 0.0)).toMap
        val tot = vs.iterator.map(raw).sum
        raw.map { case (v, x) => v -> x / tot }
      }
      var h = vs.map(_ -> 1.0).toMap
      var a = h
      for (_ <- 1 to iters) {
        a = half(h, es)
        h = half(a, es.map(_.swap))
      }
      vs.map(v => v -> ((a(v), h(v)))).toMap
    }
  }

  /** A seeded random digraph with duplicate edges, self-loops, a sink,
    * an isolated pair and two rows with a null endpoint; its distinct
    * non-null edges; and PPR seeds with a repeat and a vertex absent
    * from the graph.
    */
  private def randomCase(seed: Long): (DataFrame, Seq[(Long, Long)], Seq[Long]) = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(seed)
    val n = 20 + rng.nextInt(60)
    val sink = n.toLong - 1
    val drawn = Seq.fill(n * (1 + rng.nextInt(4)))((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      .filter(_._1 != sink)
    val edges = drawn ++ drawn.take(drawn.size / 5) ++ (0L until 5L).map(v => (v, v)) :+ ((n + 10L, n + 11L))
    val rows = edges.map { case (a, b) => (Option(a), Option(b)) } ++ Seq((None, Some(1L)), (Some(2L), None))
    val seeds = Seq(rng.nextInt(n).toLong, 0L, 0L, n + 100L)
    (rows.toDF("src", "dst"), edges.distinct, seeds)
  }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  private def ranks(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def scores(df: DataFrame): Map[Long, (Double, Double)] =
    df.collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap

  private def assertRanks(got: Map[Long, Double], want: Map[Long, Double], clue: String): Unit = {
    assert(got.keySet === want.keySet, clue)
    want.foreach { case (v, r) => assert(close(got(v), r), s"$clue vertex=$v got=${got(v)} want=$r") }
  }

  private def withPartitions[A](parts: String)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("seeded random graphs: both executors equal the reference for pagerank, ppr and hits") {
    val iters = 3
    val configs = for (hub <- Seq(0L, 3L); parts <- Seq("1", "4", "16")) yield (hub, parts)
    for (((hub, parts), i) <- configs.zipWithIndex) {
      val (e, es, seeds) = randomCase(i * 7L + 1)
      val pr = Reference.ranks(es, None, iters)
      val pp = Reference.ranks(es, Some(seeds), iters)
      val hs = Reference.hits(es, iters)
      withPartitions(parts) {
        for (maxLocal <- Seq(GraphOps.LocalEdgeThreshold, 0L)) {
          val clue = s"hubOutDegree=$hub partitions=$parts maxLocalEdges=$maxLocal"
          assertRanks(ranks(GraphOps.pagerank(e, iters, maxLocalEdges = maxLocal, hubOutDegree = hub)), pr,
            s"pagerank $clue")
          assertRanks(ranks(GraphOps.ppr(e, seeds, iters, maxLocalEdges = maxLocal, hubOutDegree = hub)), pp,
            s"ppr $clue")
          val got = scores(GraphOps.hits(e, iters, maxLocalEdges = maxLocal, hubOutDegree = hub))
          assert(got.keySet === hs.keySet, s"hits $clue")
          hs.foreach { case (v, (a, h)) =>
            assert(close(got(v)._1, a) && close(got(v)._2, h), s"hits $clue vertex=$v got=${got(v)} want=${(a, h)}")
          }
        }
      }
    }
  }

  test("ppr counts a repeated seed once, on both executors") {
    val s = spark
    import s.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 2L)).toDF("src", "dst")
    for (maxLocal <- Seq(GraphOps.LocalEdgeThreshold, 0L)) {
      val once = ranks(GraphOps.ppr(e, Seq(1L), iters = 3, maxLocalEdges = maxLocal))
      val twice = ranks(GraphOps.ppr(e, Seq(1L, 1L), iters = 3, maxLocalEdges = maxLocal))
      assertRanks(twice, once, s"maxLocalEdges=$maxLocal")
      assert(close(once(1L), 0.15 + 0.85 * 0.85 * 0.85 / 2), s"maxLocalEdges=$maxLocal")
    }
  }

  test("the gate's push ops on the RDD executor equal their gate rows") {
    def rounded(df: DataFrame, cols: String*) =
      rowsOf(df.select(col("vertex") +: cols.map(c => round(col(c), 6).as(c)): _*))
    val he = DerivedGraphs.hashEdges(spark, sfDir, 2048).localCheckpoint()
    val pr = rounded(GraphOps.pagerank(he, iters = 3, maxLocalEdges = 0L), "rank")
    assert(pr.nonEmpty && pr === rowsOf(GraphQueries.graphPagerank(spark, sfDir)))
    val seeds = he.select(col("src").as("v")).unionAll(he.select(col("dst").as("v")))
      .distinct().orderBy("v").limit(GraphQueries.PprSeeds).collect().map(_.getLong(0)).toSeq
    val pp = rounded(GraphOps.ppr(he, seeds, iters = 3, maxLocalEdges = 0L), "rank")
    assert(pp === rowsOf(GraphQueries.graphPpr(spark, sfDir)))
    val ne = DerivedGraphs.nationEdges(spark, sfDir)
    val hs = rounded(GraphOps.hits(ne, GraphQueries.HitsIters, maxLocalEdges = 0L), "authority", "hub")
    assert(hs.nonEmpty && hs === rowsOf(GraphQueries.graphHits(spark, sfDir)))
  }

  test("a distributed round is one job; the driver executor runs none per round") {
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    val e = (0L until 60L).flatMap(v => Seq((v, (v + 1) % 60), (v, (v * 7) % 60))).toDF("src", "dst").localCheckpoint()
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(start: SparkListenerJobStart): Unit = jobs += 1
    }
    def jobsOf(run: => Unit): Int = {
      jobs = 0
      run
      var prev = -1; var stable = 0; var tries = 0
      while (stable < 3 && tries < 50) {
        Thread.sleep(100)
        val cur = jobs
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
        tries += 1
      }
      jobs
    }
    sc.addSparkListener(listener)
    try {
      for ((maxLocal, perRound) <- Seq((GraphOps.LocalEdgeThreshold, 0), (0L, 1))) {
        val few = jobsOf(GraphOps.pagerank(e, iters = 2, maxLocalEdges = maxLocal).collect())
        val many = jobsOf(GraphOps.pagerank(e, iters = 6, maxLocalEdges = maxLocal).collect())
        assert(many - few === 4 * perRound, s"maxLocalEdges=$maxLocal: $few jobs at 2 rounds, $many at 6")
      }
    } finally sc.removeSparkListener(listener)
  }

  /** A chain with an out-hub (0) and an in-hub (1): with hubOutDegree
    * 10 both push directions, and the undirected layout, build hub
    * blocks.
    */
  private def hubbed(): DataFrame = {
    val s = spark
    import s.implicits._
    val chain = (0L until 40L).map(v => (v, v + 1))
    val fanOut = (100L until 200L).map(v => (0L, v))
    val fanIn = (200L until 300L).map(v => (v, 1L))
    (chain ++ fanOut ++ fanIn).toDF("src", "dst").localCheckpoint()
  }

  test("a tally round over hub blocks equals the driver executor, forward and undirected") {
    import Supersteps.{Forward, Undirected}
    val sc = spark.sparkContext
    val e = hubbed()
    val step = PushSuperstepsSpec.Mixing
    def run(maxLocal: Long): Set[Seq[Any]] = rowsOf(
      Supersteps.push(e, maxLocal, "tally", Seq(Forward, Undirected), hubOutDegree = 10L) { g =>
        // a round reads only the state it is given: one chain of rounds
        // that alternates the directions
        var x = g.start(v => (v % 5).toDouble)
        for (along <- Seq(Forward, Undirected, Forward, Undirected, Undirected, Forward)) x = g.round(step, along, x)
        g.result(("x", x, 1.0))
      })
    val hubEdges = Seq("tally forward hub edges", "tally undirected hub edges")
    val jobRdds = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(start: SparkListenerJobStart): Unit =
        start.stageInfos.foreach(_.rddInfos.foreach(r => jobRdds.add(r.name)))
    }
    sc.addSparkListener(listener)
    val dist = try {
      val rows = run(0L)
      // the listener bus is asynchronous
      var tries = 0
      while (!hubEdges.forall(jobRdds.contains) && tries < 100) { Thread.sleep(50); tries += 1 }
      rows
    } finally sc.removeSparkListener(listener)
    assert(hubEdges.forall(jobRdds.contains), jobRdds)
    val local = run(GraphOps.LocalEdgeThreshold)
    assert(local.size === 241 && dist === local)
  }

  test("a round given a state its graph released fails at once, on both executors") {
    import Supersteps.{Forward, Undirected}
    val sc = spark.sparkContext
    val e = hubbed()
    val step = PushSuperstepsSpec.Mixing
    val before = sc.getPersistentRDDs.keySet
    for (maxLocal <- Seq(GraphOps.LocalEdgeThreshold, 0L)) {
      var rounds = 0
      val err = intercept[IllegalArgumentException](
        Supersteps.push(e, maxLocal, "interleaved", Seq(Forward, Undirected), hubOutDegree = 10L) { g =>
          // two chains: the forward round releases y
          val x = g.start(v => (v % 5).toDouble)
          val y = g.start(_ => 1.0)
          val x1 = g.round(step, Forward, x); rounds += 1
          val y1 = g.round(step, Undirected, y); rounds += 1
          g.result(("x", x1, 1.0), ("y", y1, 1.0))
        })
      assert(err.getMessage === s"requirement failed: ${Supersteps.Released}", s"maxLocalEdges=$maxLocal")
      assert(rounds === 1, s"maxLocalEdges=$maxLocal")
    }
    assert(sc.getPersistentRDDs.keySet === before)
  }

  test("collected distributed calls leave only their results' states persisted") {
    val sc = spark.sparkContext
    val e = hubbed()
    val before = sc.getPersistentRDDs.keySet
    val outs = Seq(
      GraphOps.pagerank(e, iters = 3, maxLocalEdges = 0L, hubOutDegree = 10L),
      GraphOps.ppr(e, Seq(0L), iters = 3, maxLocalEdges = 0L, hubOutDegree = 10L),
      GraphOps.hits(e, iters = 2, maxLocalEdges = 0L, hubOutDegree = 10L))
    // a peel keeps its last state: after the start, the degree round
    // and its own rounds
    def peel(op: String, run: => DataFrame): (DataFrame, String) = {
      val (df, marks) = audited(run)
      val rounds = marks.count(_.startsWith(s"$op:round "))
      assert(rounds > 0, op)
      (df, s"$op state ${rounds + 1}")
    }
    val (sssp, marks) = audited(GraphOps.sssp(e.withColumn("w", col("src") % 3 + 1), 0L,
      maxLocalEdges = 0L, hubOutDegree = 10L))
    val peels = Seq(
      peel("coreness", GraphOps.coreness(e, maxLocalEdges = 0L)),
      peel("kCore", GraphOps.kCore(e, 2, maxLocalEdges = 0L)),
      peel("densest", GraphOps.densestSubgraph(e, maxLocalEdges = 0L)),
      // sssp keeps its last state: after the start and its rounds
      (sssp, s"sssp state ${marks.count(_.startsWith("sssp:round "))}"))
    val all = outs ++ peels.map(_._1)
    // the graph is a tree, so its 2-core is empty; 0 reaches its chain
    // and fan-out
    val sizes = Seq(241L, 241L, 241L, 241L, 0L, 241L, 141L)
    all.zip(sizes).foreach { case (df, n) => assert(df.collect().length === n) }
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }.values
      .map(r => Option(r.name).getOrElse(r.toString)).toSeq.sorted
    // pagerank and ppr keep their last rank state (3 rounds after the
    // start); hits its last authority and hub states (rounds 3 and 4)
    assert(left === (peels.map(_._2) ++ Seq("hits state 3", "hits state 4", "rank state 3", "rank state 3")).sorted)
    assert(all.map(_.count()) === sizes)
  }
}

object PushSuperstepsSpec {

  /** A tally program whose state stays in [0, 1009), so its messages
    * are small integers; the update reads values and counts only
    * through sums, so it does not depend on how map tasks split a
    * value's entries.
    */
  val Mixing: Supersteps.Tally = new Supersteps.Tally {
    def send(x: Double, deg: Int): Double = x % 7 + deg % 3
    def update(old: Double, h: Supersteps.Histogram): Double =
      ((old.toLong * 3 + (0 until h.size).map(i => (h.value(i) + 1) * (h.value(i) + 1) * h.count(i)).sum) % 1009).toDouble
  }
}
