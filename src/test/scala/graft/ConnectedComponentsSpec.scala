package graft

import graft.graph.GraphOps
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components on every path — contraction passes, the
  * one-task finish, the star rounds — against a plain-Scala union-find;
  * the star rounds' invariant round by round; and what a call costs in
  * jobs and leaves behind.
  */
class ConnectedComponentsSpec extends SparkSpec {

  /** The min-id labelling written out over a boxed map: the oracle every
    * path answers to. The vertices are the endpoints of the non-loop
    * edges plus the self-loop vertices; null endpoints are dropped.
    */
  private def reference(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  private def labels(df: DataFrame): Map[Long, Long] = {
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.map(_._1).distinct.length === rows.length, "a vertex labelled twice")
    rows.toMap
  }

  /** A seeded random graph over ids around zero, with every tenth edge
    * repeated in both orientations, self-loops on members and on the
    * otherwise isolated vertex −1000, and two rows with a null endpoint.
    */
  private def randomCase(seed: Long): (DataFrame, Seq[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(seed)
    val n = 40 + rng.nextInt(80)
    val drawn = Seq.fill(n * (1 + rng.nextInt(3)) / 2)((rng.nextInt(n) - n / 2L, rng.nextInt(n) - n / 2L))
    val dups = drawn.grouped(10).map(_.head).flatMap(e => Seq(e, e.swap)).toSeq
    val loops = Seq((drawn.head._1, drawn.head._1), (-1000L, -1000L), (-1000L, -1000L))
    val edges = rng.shuffle(drawn ++ dups ++ loops)
    val rows = edges.map { case (a, b) => (Option(a), Option(b)) } ++ Seq((None, Some(1L)), (Some(2L), None))
    (rows.toDF("src", "dst"), edges)
  }

  /** A 5 000-vertex chain over shuffled ids, its edges dealt to 8
    * partitions: every partition's edges are already a forest, so the
    * first contraction pass cannot shrink it.
    */
  private lazy val chain: (DataFrame, Seq[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(11)
    val ids = rng.shuffle((0L until 5000L).toVector)
    val edges = rng.shuffle(ids.sliding(2).map(p => (p(0), p(1))).toVector)
    (edges.toDF("src", "dst").repartition(8).localCheckpoint(), edges)
  }

  /** Eight random spanning trees over the same 60 vertices, one per
    * partition, each with a separate edge and a self-loop on an isolated
    * vertex: the first pass keeps every edge (each partition's edges are
    * a forest), while the components need only 60 edges, so a star round
    * soon falls to 100 edges or fewer.
    */
  private lazy val trees: (DataFrame, Seq[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(13)
    val ts = (0 until 8).map { _ =>
      val order = rng.shuffle((0L until 60L).toVector)
      order.indices.tail.map(i => (order(rng.nextInt(i)), order(i))) ++ Seq((1000L, 1001L), (2000L, 2000L))
    }
    (spark.sparkContext.parallelize(ts, 8).flatMap(identity).toDF("src", "dst").localCheckpoint(), ts.flatten)
  }

  test("seeded random graphs: every path equals the reference") {
    for (seed <- Seq(1L, 2L); parts <- Seq(1, 4, 16)) {
      val (df, es) = randomCase(seed * 31 + parts)
      val e = df.repartition(parts).localCheckpoint()
      val want = reference(es)
      assert(want.contains(-1000L) && want(-1000L) === -1000L)
      for (maxLocal <- Seq(GraphOps.LocalEdgeThreshold, 100L, 0L)) {
        val (got, marks) = audited(labels(GraphOps.connectedComponents(e, maxLocalEdges = maxLocal)))
        assert(got === want, s"seed=$seed partitions=$parts maxLocalEdges=$maxLocal path=$marks")
      }
    }
  }

  test("labelling a union-find map one key short of its growth point visits every vertex once") {
    // a task's 65 536-slot map grows to store its 45 876th key; with
    // 45 875 leaves stored, the path compressions while labelling
    // overwrite links and must not grow the map under the iteration
    // (with these even ids a growth there would visit a leaf twice)
    val leaves = (1L to 45875L).map(2 * _)
    val uf = new GraphOps.UnionFind()
    leaves.foreach(v => uf.union(0L, v))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    uf.foreachNonRoot { (r, v) => assert(r === 0L); seen += v }
    val once = seen.size == leaves.size && seen.toSet == leaves.toSet
    assert(once, s"${seen.size} visits, ${seen.distinct.size} distinct, of ${leaves.size} leaves")
    val e = spark.range(2L, 2 * leaves.size + 1, 2L, 1).select(lit(0L).as("src"), col("id").as("dst"))
    val es = leaves.map(v => (0L, v))
    for (maxLocal <- Seq(GraphOps.LocalEdgeThreshold, 0L)) {
      val (got, marks) = audited(labels(GraphOps.connectedComponents(e, maxLocalEdges = maxLocal)))
      assert(marks === Seq("cc:pass parts=1"), s"maxLocalEdges=$maxLocal")
      assert(got === reference(es), s"maxLocalEdges=$maxLocal")
    }
  }

  test("a forest the first pass cannot shrink takes the star rounds; below maxLocalEdges they finish in one task") {
    for (((e, es), maxLocal, finish) <- Seq((chain, 0L, false), (trees, 0L, false), (trees, 100L, true))) {
      val (got, marks) = audited(labels(GraphOps.connectedComponents(e, maxLocalEdges = maxLocal)))
      val clue = s"${es.size} edges, maxLocalEdges=$maxLocal: $marks"
      assert(got === reference(es), clue)
      assert(marks.head === "cc:pass parts=8" && marks.contains("cc:star round 1"), clue)
      assert(marks.last.startsWith(if (finish) "cc:pass parts=1" else "cc:star round"), clue)
    }
    val (got, marks) = audited(labels(GraphOps.connectedComponents(chain._1)))
    assert(got === reference(chain._2) && marks === Seq("cc:pass parts=8", "cc:pass parts=1"))
  }

  test("each star round keeps the input's vertex set and components") {
    def canonical(es: Seq[(Long, Long)]) =
      es.filter(p => p._1 != p._2).map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
    val s = spark
    import s.implicits._
    val inputs = Seq("chain" -> chain._2, "trees" -> trees._2, "random" -> randomCase(5)._2)
    for ((name, es) <- inputs) {
      val in = canonical(es)
      val want = reference(in)
      var e = in.toDF("u", "v").repartition(8).localCheckpoint()
      val ckpts = scala.collection.mutable.Buffer(e)
      var prev = in.toSet
      var rounds = 0
      var stable = false
      try {
        while (!stable) {
          rounds += 1
          assert(rounds <= 30, s"$name: no fixpoint after 30 rounds")
          e = GraphOps.starRound(e, { df => val c = df.localCheckpoint(); ckpts += c; c })
          val cur = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          assert(cur.forall(p => p._1 < p._2), s"$name round $rounds: an edge not in u < v form")
          assert(reference(cur.toSeq) === want, s"$name round $rounds: vertex set or components changed")
          stable = cur == prev
          prev = cur
        }
      } finally ckpts.foreach(c => GraphOps.ownCheckpointRddId(c)
        .foreach(id => spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true))))
      // the fixpoint is a star per component, centred on its minimum
      assert(prev.forall { case (u, v) => want(v) == u }, s"$name: fixpoint is not min-centred stars")
      if (name == "chain") assert(rounds > 2, s"only $rounds rounds on the chain")
    }
  }

  /** perfbench's graph_large graph: its Zipf out-degree generator at
    * seed 1 over 10 000 vertices, in 4 partitions.
    */
  private lazy val zipf: (DataFrame, Seq[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    val n = 10000
    val es = (1 to n).flatMap { v =>
      val rng = new java.util.SplittableRandom(1L * 0x9E3779B97F4A7C15L + v)
      if (rng.nextDouble() < 0.1) Nil
      else {
        val u = 1.0 - rng.nextDouble()
        val d = math.min((n - 1).toDouble, math.floor(4.0 * math.pow(u, -1.0 / 1.5))).toInt
        val seen = new java.util.HashSet[Integer]()
        while (seen.size < d) { val w = 1 + rng.nextInt(n); if (w != v) seen.add(w) }
        seen.toArray.map(w => (v.toLong, w.asInstanceOf[Integer].toLong))
      }
    }
    (es.toDF("src", "dst").repartition(4).localCheckpoint(), es)
  }

  test("a graph_large-shaped graph: one job per contraction pass, no star round") {
    val (e, es) = zipf
    val sc = spark.sparkContext
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(start: SparkListenerJobStart): Unit = jobs += 1
    }
    sc.addSparkListener(listener)
    val (cc, marks) =
      try audited {
        val out = GraphOps.connectedComponents(e, maxLocalEdges = 0L)
        var prev = -1; var stable = 0; var tries = 0
        while (stable < 3 && tries < 50) {
          Thread.sleep(100)
          val cur = jobs
          if (cur == prev) stable += 1 else { stable = 0; prev = cur }
          tries += 1
        }
        out
      } finally sc.removeSparkListener(listener)
    assert(marks === Seq("cc:pass parts=4", "cc:pass parts=1"))
    assert(jobs === marks.size, s"$jobs jobs for passes $marks")
    assert(labels(cc) === reference(es))
  }

  test("msf's Borůvka rounds release each round's components once relabelled") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(17)
    val e = Seq.fill(300)((rng.nextInt(100).toLong, rng.nextInt(100).toLong, rng.nextInt(50).toLong))
      .toDF("src", "dst", "w")
    val sc = spark.sparkContext
    val kruskal = GraphOps.msf(e).collect().toSet
    val before = sc.getPersistentRDDs.keySet
    val (forest, marks) = audited(GraphOps.msf(e, maxLocalEdges = 0L))
    val boruvka = forest.collect().toSet
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }.values
      .map(r => Option(r.name).getOrElse(r.toString)).toSeq
    assert(boruvka === kruskal)
    assert(marks.count(_ == "cc:pass parts=1") > 1, marks)
    assert(!left.contains("cc labels"), left)
    // the rounds' cross edges and labels go too: only the nominations
    // the forest reads stay
    val reads = forest.queryExecution.analyzed.collectLeaves()
      .collect { case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id }.toSet
    assert(reads.nonEmpty && sc.getPersistentRDDs.keySet -- before === reads, left)
  }

  test("collected calls leave only what their results read persisted") {
    val sc = spark.sparkContext
    val e = randomCase(3)._1.repartition(4).localCheckpoint()
    val inputs = Seq((e, GraphOps.LocalEdgeThreshold), (zipf._1, 0L), (chain._1, GraphOps.LocalEdgeThreshold),
      (trees._1, 100L), (trees._1, 0L))
    val before = sc.getPersistentRDDs.keySet
    val outs = inputs.map { case (in, m) => GraphOps.connectedComponents(in, maxLocalEdges = m) }
    outs.foreach(_.collect())
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }.values
      .map(r => Option(r.name).getOrElse(r.toString)).toSeq
    // a star-round result reads the last round's edge set, a
    // checkpoint: the one-task finish through the labels, the converged
    // result directly and with the vertex set, a checkpoint too
    assert(left.count(_ == "cc labels") === 4 && left.size === 7, left)
  }
}
