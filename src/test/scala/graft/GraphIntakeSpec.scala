package graft

import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import graft.graph.{DerivedGraphs, GraphOps, GraphQueries, GraphStore}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.{col, min}

/** The graph read path: `GraphStore.load` starts no job, a traversal
  * or a distinct-edge op reads its edges in one intake job and caches
  * no frame, a null endpoint is dropped and a repeated edge counts once
  * on every path, and concurrent readers of one stored graph get the
  * serial answers.
  */
class GraphIntakeSpec extends SparkSpec {
  import GraphIntakeSpec.Job

  private val Marker = "intake-spec marker"

  /** `body`'s result and the jobs started while it ran, in order. A
    * marker job after `body` flushes the listener queue, which delivers
    * job starts in the order they were posted.
    */
  private def jobsOf[A](body: => A): (A, Seq[Job]) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(Int, Job)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // `shuffleDepId` is Spark-internal: set on a shuffle-map stage only
        val last = js.stageInfos.maxBy(_.stageId)
        val mapStage = last.getClass.getMethod("shuffleDepId").invoke(last).asInstanceOf[Option[_]].nonEmpty
        seen.add(js.jobId -> Job(!mapStage, js.stageInfos.size,
          js.stageInfos.flatMap(_.rddInfos.map(_.name)), spark.sharedState.cacheManager.isEmpty))
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.parallelize(Seq(1), 1).setName(Marker).count()
      var tries = 0
      while (!seen.asScala.exists(_._2.rdds.contains(Marker)) && tries < 300) { Thread.sleep(20); tries += 1 }
      val jobs = seen.asScala.toSeq.sortBy(_._1).map(_._2).filterNot(_.rdds.contains(Marker))
      (out, jobs)
    } finally sc.removeSparkListener(listener)
  }

  private def assertNoCache(jobs: Seq[Job], clue: String): Unit = {
    assert(jobs.forall(_.cacheEmpty), s"$clue: a job started while a frame was cached")
    assert(spark.sharedState.cacheManager.isEmpty, s"$clue: a frame is still cached")
  }

  /** A seeded random digraph on `n` vertices with duplicate edges and
    * self-loops.
    */
  private def randomEdges(seed: Long, n: Int, m: Int): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    val drawn = Seq.fill(m)((1L + rng.nextInt(n), 1L + rng.nextInt(n)))
    drawn ++ drawn.take(m / 10) ++ Seq((1L, 1L), (2L, 2L))
  }

  private lazy val store = tempDir("graphs").toString

  private def stored(name: String, edges: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    GraphStore.save(spark, store, name, edges.toDF("src", "dst"))
    GraphStore.load(spark, store, name)
  }

  private def source(v: Long): DataFrame = {
    val s = spark
    import s.implicits._
    Seq(v).toDF("vertex")
  }

  private def levels(df: DataFrame): Set[(Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1))).toSet

  private def preorder(df: DataFrame): Seq[Long] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).map(_._2).toSeq

  private def ranks(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def vertices(df: DataFrame): Set[Long] = df.collect().map(_.getLong(0)).toSet

  /** The vertices reachable from `src` over `es` that have no out-edge. */
  private def reachableSinks(es: Seq[(Long, Long)], src: Long): Set[Long] = {
    val adj = es.groupMap(_._1)(_._2)
    val seen = mutable.Set(src)
    val todo = mutable.Stack(src)
    while (todo.nonEmpty) adj.getOrElse(todo.pop(), Nil).foreach(w => if (seen.add(w)) todo.push(w))
    seen.toSet -- adj.keySet
  }

  test("GraphStore.load starts no job, and a missing graph fails at load") {
    stored("loaded", randomEdges(1, 200, 800))
    val (e, jobs) = jobsOf(GraphStore.load(spark, store, "loaded"))
    assert(jobs === Nil)
    assert(e.schema.fieldNames.toSeq === Seq("src", "dst"))
    assert(e.count() === 882L)
    intercept[AnalysisException](GraphStore.load(spark, store, "never-written"))
  }

  test("a driver-path bfs of a stored graph is one job and caches no frame") {
    spark.catalog.clearCache()
    val es = randomEdges(2, 2000, 8000)
    val e = stored("small", es)
    val (got, jobs) = jobsOf(levels(GraphOps.bfsFrom(GraphStore.load(spark, store, "small"), source(1L))))
    assert(jobs.size === 1, s"jobs: $jobs")
    assert(jobs.head.rdds.contains("bfs edges"))
    assertNoCache(jobs, "bfsFrom")
    assert(got === levels(GraphOps.bfs(e, source(1L), maxLocalEdges = 0L).select("vertex", "level")))
    assert(got.size > 1)
  }

  test("a distributed bfs starts no job before its first level but the intake") {
    spark.catalog.clearCache()
    val e = stored("large", randomEdges(3, 500, 3000))
    val (dist, jobs) = jobsOf(levels(GraphOps.bfs(e, source(1L), maxLocalEdges = 0L).select("vertex", "level")))
    val first = jobs.indexWhere(_.rdds.contains("bfs level 0"))
    assert(first >= 0, s"jobs: $jobs")
    assert(jobs.take(first).map(_.rdds.contains("bfs edges")) === Seq(true), s"jobs before level 0: ${jobs.take(first)}")
    assertNoCache(jobs, "distributed bfs")
    assert(dist === levels(GraphOps.bfsFrom(e, source(1L))))
  }

  test("a driver-path pagerank reads its edges in one action and none per round") {
    spark.catalog.clearCache()
    val e = stored("ranked", randomEdges(4, 300, 1200))
    for (iters <- Seq(2, 6)) {
      val (_, jobs) = jobsOf(GraphOps.pagerank(e, iters).collect())
      // the intake is the call's only job
      assert(jobs.size === 1 && jobs.head.action, s"iters=$iters jobs: $jobs")
      assert(jobs.head.rdds.contains("rank edges"))
      assertNoCache(jobs, s"pagerank iters=$iters")
    }
  }

  test("a distributed pagerank starts no AQE map-stage job") {
    spark.catalog.clearCache()
    val e = stored("ranked-large", randomEdges(12, 300, 1200))
    val (_, jobs) = jobsOf(GraphOps.pagerank(e, 3, maxLocalEdges = 0L).collect())
    assert(jobs.nonEmpty && jobs.forall(_.action), s"jobs: $jobs")
    assert(jobs.head.rdds.contains("rank edges"))
    assertNoCache(jobs, "distributed pagerank")
  }

  test("dfsPreorder starts one job and no shuffle-map stage") {
    spark.catalog.clearCache()
    val es = randomEdges(5, 300, 1200)
    val e = stored("walked", es)
    val (order, jobs) = jobsOf(preorder(GraphOps.dfsPreorder(e, 1L)))
    assert(jobs.size === 1 && jobs.head.stages === 1, s"jobs: $jobs")
    assert(jobs.head.rdds.contains("dfsPreorder edges"))
    assertNoCache(jobs, "dfsPreorder")
    assert(order.head === 1L && order.distinct === order)
    val s = spark
    import s.implicits._
    assert(preorder(GraphOps.dfsPreorder(es.distinct.toDF("src", "dst"), 1L)) === order, "duplicates changed the order")
    val err = intercept[IllegalArgumentException](GraphOps.dfsPreorder(e, 1L, maxEdges = 10L))
    assert(err.getMessage.startsWith("requirement failed: dfsPreorder is a driver-side op; "))
    assert(spark.sparkContext.getPersistentRDDs.values.forall(_.name != "dfsPreorder edges"))
  }

  test("an edge with a null endpoint is dropped by bfs, push and dfsPreorder on every path") {
    val s = spark
    import s.implicits._
    val es = randomEdges(6, 60, 200)
    val clean = es.toDF("src", "dst")
    val nulls = (es.map { case (a, b) => (Option(a), Option(b)) } ++ Seq((None, Some(1L)), (Some(2L), None)))
      .toDF("src", "dst")
    val want = levels(GraphOps.bfsFrom(clean, source(1L)))
    for (maxLocal <- Seq(GraphOps.LocalEdgeThreshold, 0L)) {
      assert(levels(GraphOps.bfs(nulls, source(1L), maxLocalEdges = maxLocal).select("vertex", "level")) === want,
        s"bfs maxLocalEdges=$maxLocal")
      val pr = ranks(GraphOps.pagerank(clean, 3, maxLocalEdges = maxLocal))
      assert(ranks(GraphOps.pagerank(nulls, 3, maxLocalEdges = maxLocal)) === pr, s"pagerank maxLocalEdges=$maxLocal")
    }
    assert(preorder(GraphOps.dfsPreorder(nulls, 1L)) === preorder(GraphOps.dfsPreorder(clean, 1L)))
  }

  test("dfsLeaves of a stored graph is one job; distributed, one job scans it") {
    spark.catalog.clearCache()
    val es = randomEdges(7, 400, 900)
    val e = stored("leafy", es)
    val (local, jobs) = jobsOf(vertices(GraphOps.dfsLeaves(GraphStore.load(spark, store, "leafy"), source(1L))))
    assert(jobs.size === 1, s"jobs: $jobs")
    assert(jobs.head.rdds.contains("dfsLeaves edges"))
    assertNoCache(jobs, "dfsLeaves")
    val (dist, distJobs) = jobsOf(vertices(GraphOps.dfsLeaves(e, source(1L), maxLocalEdges = 0L)))
    assert(distJobs.count(_.rdds.contains("FileScanRDD")) === 1, s"jobs: $distJobs")
    assertNoCache(distJobs, "distributed dfsLeaves")
    assert(local.nonEmpty && dist === local && local === reachableSinks(es, 1L))
  }

  test("dfsLeaves equals the reachable sinks on both paths") {
    val s = spark
    import s.implicits._
    for (seed <- 20L until 26L) {
      val rng = new scala.util.Random(seed)
      val n = 30 + rng.nextInt(200)
      val es = randomEdges(seed, n, n * (1 + rng.nextInt(3)))
      val e = es.toDF("src", "dst")
      val src = 1L + rng.nextInt(n)
      for (maxLocal <- Seq(GraphOps.LocalEdgeThreshold, 0L)) {
        val got = GraphOps.dfsLeaves(e, source(src), maxLocalEdges = maxLocal).collect().map(_.getLong(0))
        assert(got.toSet === reachableSinks(es, src) && got.length === got.distinct.length,
          s"seed=$seed source=$src maxLocalEdges=$maxLocal")
      }
    }
  }

  test("a (v, null) edge leaves v a leaf, on both paths") {
    val s = spark
    import s.implicits._
    val es = randomEdges(8, 60, 150)
    val nulls = (es.map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((Some(2L), None), (None, Some(1L)), (Some(1L), Some(900L)), (Some(900L), None))).toDF("src", "dst")
    val want = reachableSinks(es :+ ((1L, 900L)), 1L)
    assert(want.contains(900L))
    for (maxLocal <- Seq(GraphOps.LocalEdgeThreshold, 0L))
      assert(vertices(GraphOps.dfsLeaves(nulls, source(1L), maxLocalEdges = maxLocal)) === want,
        s"maxLocalEdges=$maxLocal")
  }

  test("push ops over repeated edges equal their deduplicated answers") {
    val s = spark
    import s.implicits._
    val es = randomEdges(9, 80, 300)
    val (dup, clean) = ((es ++ es).toDF("src", "dst"), es.distinct.toDF("src", "dst"))
    def close(a: Map[Long, Seq[Double]], b: Map[Long, Seq[Double]]): Boolean =
      a.keySet == b.keySet && a.forall { case (v, xs) =>
        xs.zip(b(v)).forall { case (x, y) => math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y)) }
      }
    def scores(df: DataFrame): Map[Long, Seq[Double]] =
      df.collect().map(r => r.getLong(0) -> (1 until r.length).map(r.getDouble)).toMap
    for (maxLocal <- Seq(GraphOps.LocalEdgeThreshold, 0L)) {
      val runs = Seq[(String, DataFrame => DataFrame)](
        "pagerank" -> (GraphOps.pagerank(_, 3, maxLocalEdges = maxLocal)),
        "ppr" -> (GraphOps.ppr(_, Seq(1L, 5L), 3, maxLocalEdges = maxLocal)),
        "hits" -> (GraphOps.hits(_, 3, maxLocalEdges = maxLocal)))
      runs.foreach { case (op, f) => assert(close(scores(f(dup)), scores(f(clean))), s"$op maxLocalEdges=$maxLocal") }
    }
  }

  test("graph_dfs_leaves' gate rows equal dfsLeaves on the superstep path") {
    val e = DerivedGraphs.supplyEdges(spark, sfDir)
    val dist = rowsOf(GraphOps.dfsLeaves(e, e.agg(min(col("src")).as("vertex")), maxLocalEdges = 0L))
    assert(dist.nonEmpty && dist === rowsOf(GraphQueries.graphDfsLeaves(spark, sfDir)))
  }

  test("each distinct-edge op of a stored graph is one job; distributed, one job scans it and no intake stays") {
    spark.catalog.clearCache()
    val nation = DerivedGraphs.nationEdges(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(1)))
    stored("nation", nation.toSeq)
    def load() = GraphStore.load(spark, store, "nation")
    val ops = Seq[(String, (DataFrame, Long) => DataFrame)](
      "kCore" -> ((e, m) => GraphOps.kCore(e, 3, maxLocalEdges = m)),
      "coreness" -> ((e, m) => GraphOps.coreness(e, maxLocalEdges = m)),
      "densestSubgraph" -> ((e, m) => GraphOps.densestSubgraph(e, maxLocalEdges = m)),
      "kTruss" -> ((e, m) => GraphOps.kTruss(e, 3, maxLocalEdges = m)),
      "triangleCounts" -> ((e, m) => GraphOps.triangleCounts(e, maxLocalEdges = m)),
      "labelPropagation" -> ((e, m) => GraphOps.labelPropagation(e, 3, maxLocalEdges = m)),
      "scc" -> ((e, m) => GraphOps.scc(e, maxLocalEdges = m)),
      "betweenness" -> ((e, m) => GraphOps.betweenness(e, maxLocalEdges = m)))
    for ((name, op) <- ops) {
      val (local, jobs) = jobsOf(rowsOf(op(load(), GraphOps.LocalEdgeThreshold)))
      assert(jobs.size === 1 && jobs.head.rdds.contains(s"$name edges"), s"$name jobs: $jobs")
      assertNoCache(jobs, name)
      val (dist, distJobs) = jobsOf(rowsOf(op(load(), 0L)))
      assert(distJobs.count(_.rdds.contains("FileScanRDD")) === 1, s"$name jobs: $distJobs")
      assert(spark.sparkContext.getPersistentRDDs.values.forall(_.name != s"$name edges"), name)
      assert(local.nonEmpty && dist === local, name)
    }
  }

  test("driver-path sssp and msf of a stored weighted graph are one job each and cache no frame") {
    spark.catalog.clearCache()
    val s = spark
    import s.implicits._
    val dir = tempDir("weighted").resolve("tolls").toString
    randomEdges(13, 300, 1200).zipWithIndex.map { case ((a, b), i) => (a, b, 1L + i % 7) }
      .toDF("src", "dst", "w").write.parquet(dir)
    def load() = spark.read.schema("src BIGINT, dst BIGINT, w BIGINT").parquet(dir)
    val ops = Seq[(String, (DataFrame, Long) => DataFrame)](
      "sssp" -> ((e, m) => GraphOps.sssp(e, 1L, maxLocalEdges = m)),
      "msf" -> ((e, m) => GraphOps.msf(e, maxLocalEdges = m)))
    for ((name, op) <- ops) {
      val (local, jobs) = jobsOf(rowsOf(op(load(), GraphOps.LocalEdgeThreshold)))
      assert(jobs.size === 1 && jobs.head.rdds.contains(s"$name edges"), s"$name jobs: $jobs")
      assertNoCache(jobs, name)
      val (dist, distJobs) = jobsOf(rowsOf(op(load(), 0L)))
      assertNoCache(distJobs, s"distributed $name")
      assert(local.size > 1 && dist === local, name)
    }
  }

  test("three concurrent readers on one session get the serial answers") {
    val graphs = (0 until 3).map(i => s"shared$i")
    graphs.zipWithIndex.foreach { case (g, i) => stored(g, randomEdges(10L + i, 150 + 50 * i, 600)) }
    def answers(g: String, src: Long): Seq[Any] = {
      def e = GraphStore.load(spark, store, g)
      Seq(levels(GraphOps.bfsFrom(e, source(src))),
        GraphOps.reach(e, source(src)).collect().map(_.getLong(0)).toSet,
        GraphOps.dfsLeaves(e, source(src)).collect().map(_.getLong(0)).toSet,
        preorder(GraphOps.dfsPreorder(e, src)))
    }
    val cases = for (g <- graphs; src <- Seq(1L, 7L)) yield (g, src)
    val serial = cases.map { case (g, src) => (g, src) -> answers(g, src) }.toMap
    val pool = Executors.newFixedThreadPool(3)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      val runs = (0 until 3).map { _ =>
        Future((0 until 2).flatMap(_ => cases.map(c => (c, answers(c._1, c._2)))))
      }
      val got = Await.result(Future.sequence(runs), Duration("10 min")).flatten
      assert(got.size === 3 * 2 * cases.size)
      got.foreach { case (c, a) => assert(a === serial(c), s"graph=${c._1} source=${c._2}") }
    } finally pool.shutdown()
  }
}

object GraphIntakeSpec {

  /** A started job: whether it is an action (its final stage is not a
    * shuffle-map stage, as AQE's own stage jobs are), its stage count,
    * the names of the RDDs its stages run, and whether the session's
    * `CacheManager` was empty when the listener saw it start.
    */
  final case class Job(action: Boolean, stages: Int, rdds: Seq[String], cacheEmpty: Boolean)
}
