package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.graph.GraphOps
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Distributed coreness, k-core and densest-subgraph peels as push
  * rounds on the RDD executor: a round is one job and plans no query,
  * and a graph that needs many rounds settles at the driver twin's (and
  * for coreness the bucket peel's) answer.
  */
class CorenessPushSpec extends SparkSpec {

  private val Marker = "coreness-spec marker"

  /** `body`'s result, and the jobs and SQL executions started while it
    * ran. A marker job after `body` flushes the listener queue.
    */
  private def started[A](body: => A): (A, Int, Int) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[Seq[String]]()
    @volatile var sqls = 0
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.add(js.stageInfos.flatMap(_.rddInfos.map(_.name)))
      override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
        case _: SparkListenerSQLExecutionStart => sqls += 1
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.parallelize(Seq(1), 1).setName(Marker).count()
      var tries = 0
      while (!jobs.asScala.exists(_.contains(Marker)) && tries < 300) { Thread.sleep(20); tries += 1 }
      (out, jobs.asScala.count(!_.contains(Marker)), sqls)
    } finally sc.removeSparkListener(listener)
  }

  /** A 5-clique and a 4-clique joined by a two-vertex path, each clique
    * with a path of `tail` vertices hanging off it. Coreness is 4 and 3
    * in the cliques, 2 on the joining path and 1 on the tails. A tail's
    * estimates fall one vertex per round from its free end, so the
    * h-index rounds number about `tail`.
    */
  private def cliquesWithTails(tail: Int): (DataFrame, Map[Long, Long]) = {
    val s = spark
    import s.implicits._
    def clique(base: Long, n: Int) = for (a <- 0 until n; b <- a + 1 until n) yield (base + a, base + b)
    def path(vs: Seq[Long]) = vs.zip(vs.tail)
    val tails = Seq(1000L, 2000L).map(base => path(base +: (base + 100 until base + 100 + tail)))
    val joint = path(Seq(1001L, 500L, 501L, 2001L))
    val edges = clique(1000L, 5) ++ clique(2000L, 4) ++ tails.flatten ++ joint
    val want = (0L until 5L).map(v => (1000 + v) -> 4L) ++ (0L until 4L).map(v => (2000 + v) -> 3L) ++
      Seq(500L -> 2L, 501L -> 2L) ++ Seq(1000L, 2000L).flatMap(b => (b + 100 until b + 100 + tail).map(_ -> 1L))
    (edges.toDF("src", "dst").repartition(4).localCheckpoint(), want.toMap)
  }

  private def cores(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def roundsOf(marks: Seq[String], op: String = "coreness"): Int = marks.count(_.startsWith(s"$op:round "))

  test("a distributed coreness round is one job and plans no query") {
    val (e, want) = cliquesWithTails(10)
    val ((got, marks), jobs, sqls) = started(audited(cores(GraphOps.coreness(e, maxLocalEdges = 0L))))
    val rounds = roundsOf(marks)
    info(s"$rounds rounds, $jobs jobs, $sqls SQL executions")
    assert(sqls <= 1, s"$sqls SQL executions over $rounds rounds")
    assert(rounds >= 8 && jobs <= rounds + 8, s"$jobs jobs over $rounds rounds")
    assert(got === want)
  }

  test("a graph that needs over 30 rounds settles at the driver twin's and the peel's answer") {
    val (e, want) = cliquesWithTails(40)
    assert(want.values.toSet.size >= 3)
    val (dist, marks) = audited(cores(GraphOps.coreness(e, maxLocalEdges = 0L)))
    info(s"${roundsOf(marks)} rounds")
    assert(roundsOf(marks) >= 30, marks)
    assert(dist === want)
    assert(cores(GraphOps.coreness(e)) === want)
    assert(cores(CorenessPeel(e)) === want)
  }

  test("a distributed kCore or densestSubgraph round is one job and plans no query") {
    val (e, _) = cliquesWithTails(10)
    // (op, its fewest rounds, a run at maxLocalEdges): kCore's 2-core
    // peel takes a tail one vertex per round from its free end
    val ops = Seq[(String, Int, Long => DataFrame)](
      ("kCore", 10, m => GraphOps.kCore(e, k = 2, maxLocalEdges = m)),
      ("densest", 1, m => GraphOps.densestSubgraph(e, maxLocalEdges = m)))
    for ((op, fewest, run) <- ops) {
      val ((got, marks), jobs, sqls) = started(audited(rowsOf(run(0L))))
      val rounds = roundsOf(marks, op)
      info(s"$op: $rounds rounds, $jobs jobs, $sqls SQL executions")
      assert(sqls <= 1, s"$op: $sqls SQL executions over $rounds rounds")
      assert(rounds >= fewest && jobs <= rounds + 8, s"$op: $jobs jobs over $rounds rounds")
      assert(got.nonEmpty && got === rowsOf(run(GraphOps.LocalEdgeThreshold)), op)
    }
  }

  test("a distributed sssp round is one job and plans no query") {
    val s = spark
    import s.implicits._
    // a 40-hop unit-toll chain whose 5-hop shortcuts (toll 7) a later round beats
    val tolls = (0L until 40L).map(v => (v, v + 1, 1L)) ++ (0L until 40L by 5).map(v => (v, v + 5, 7L))
    val e = tolls.toDF("src", "dst", "w").repartition(4).localCheckpoint()
    val ((got, marks), jobs, sqls) = started(audited(rowsOf(GraphOps.sssp(e, 0L, maxLocalEdges = 0L))))
    val rounds = roundsOf(marks, "sssp")
    info(s"sssp: $rounds rounds, $jobs jobs, $sqls SQL executions")
    assert(sqls <= 1, s"$sqls SQL executions over $rounds rounds")
    assert(rounds >= 40 && jobs <= rounds + 8, s"$jobs jobs over $rounds rounds")
    assert(got === (0L to 40L).map(v => Seq(v, v)).toSet)
    assert(got === rowsOf(GraphOps.sssp(e, 0L)))
  }
}
