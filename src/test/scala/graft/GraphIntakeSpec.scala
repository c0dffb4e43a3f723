package graft

import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import graft.graph.{GraphOps, GraphStore}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}

/** The graph read path: `GraphStore.load` starts no job, a traversal
  * reads its edges in one intake job and caches no frame, a null
  * endpoint is dropped on every path, and concurrent readers of one
  * stored graph get the serial answers.
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
        seen.add(js.jobId -> Job(!mapStage,
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
      // the distinct's exchange runs as AQE's own shuffle-map stage job
      assert(jobs.count(_.action) === 1, s"iters=$iters jobs: $jobs")
      assert(jobs.filter(_.action).head.rdds.contains("rank edges"))
      assertNoCache(jobs, s"pagerank iters=$iters")
    }
  }

  test("dfsPreorder reads its distinct edges in one action, with no separate count") {
    spark.catalog.clearCache()
    val e = stored("walked", randomEdges(5, 300, 1200))
    val (order, jobs) = jobsOf(preorder(GraphOps.dfsPreorder(e, 1L)))
    assert(jobs.count(_.action) === 1, s"jobs: $jobs")
    assert(jobs.filter(_.action).head.rdds.contains("dfsPreorder edges"))
    assertNoCache(jobs, "dfsPreorder")
    assert(order.head === 1L && order.distinct === order)
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
    * shuffle-map stage, as AQE's own stage jobs are), the names of the
    * RDDs its stages run, and whether the session's `CacheManager` was
    * empty when the listener saw it start.
    */
  final case class Job(action: Boolean, rdds: Seq[String], cacheEmpty: Boolean)
}
