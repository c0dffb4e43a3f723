package graft.graph

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.graph.Supersteps.{Csr, Pairs, Undirected}

/** Distributed graph algorithms over edge-list DataFrames.
  *
  * The graph model re-expresses the reference's adjacency-matrix files
  * (/root/reference/utilities.h + G*.txt: n, then n×n 0/1 rows) as a
  * distributed edge list `(src BIGINT, dst BIGINT)` — the only
  * representation that survives 100 TB (an n×n matrix is O(n²)).
  *
  * Traversals and push algorithms are level-synchronous: the
  * reference's thread-per-vertex BFS with a pthread_join barrier per
  * level (dfs_bfs.h:111-172) becomes one Spark job per level, the job
  * boundary as the barrier ([[Supersteps]]: RDD supersteps, no
  * per-level query planning; its header has the scale geometry).
  */
object GraphOps {

  /** Frontiers below this row count are broadcast to the edges (bfs's
    * expansion, the Brandes joins). Overridable (system property) so specs can force the
    * shuffled-join path on small graphs; production default 4M rows.
    */
  private def broadcastFrontier: Long =
    sys.props.get("graft.bfs.broadcastFrontier").map(_.toLong).getOrElse(4000000L)

  /** Test tap for cache-lifecycle decisions in the twin-cache loops
    * ([[hits]], distBrandes): install a buffer (same thread) and each
    * persist/release decision appends a marker, so a spec can pin the
    * storage levels and the point where the forward copy is released —
    * properties a post-hoc plan inspection cannot see.
    */
  private[graft] val cacheAudit =
    new ThreadLocal[scala.collection.mutable.Buffer[String]]

  private[graph] def audit(ev: String): Unit = {
    val b = cacheAudit.get()
    if (b != null) b += ev
  }

  /** Inline checkpoint hygiene for LINEAR iterative loops (each round
    * derives only from the previous round's checkpoints): localCheckpoint
    * through [[ckpt]], call [[endRound]] once per round, and the
    * PREVIOUS round's checkpoint blocks are unpersisted as soon as the
    * current round has materialized, so peak checkpoint storage is
    * O(|E|) and superseded sets do not wait for the async
    * ContextCleaner. Only safe where no frame from two rounds back is
    * read again: connected components' star rounds, msf's Borůvka
    * cross edges and labels.
    */
  private final class RoundCheckpoints(sc: org.apache.spark.SparkContext) {
    private var prev: Set[Int] = Set.empty
    private var cur: Set[Int] = Set.empty
    def ckpt(df: DataFrame): DataFrame = {
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint()
      // the checkpoint's OWN RDD id, from the returned plan's LogicalRDD
      // leaf, so a foreign persist in the window is never captured; the
      // keyset diff is the fallback, and a spec pins the primary path
      cur = cur ++ (RoundCheckpoints.ownRddId(out) match {
        case Some(id) => Set(id)
        case None     => sc.getPersistentRDDs.keySet diff before
      })
      out
    }
    def endRound(): Unit = {
      prev.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      prev = cur; cur = Set.empty
    }

    /** End-of-loop hygiene: release everything still tracked but the
      * frames in `keep` (the op's result lineage) with blocking
      * unpersists, so the block drops are paid inside the op that owns
      * them. Mid-loop frees stay async ([[endRound]]).
      */
    def drain(keep: Seq[DataFrame] = Nil): Unit = {
      val keepIds = keep.flatMap(RoundCheckpoints.ownRddId).toSet
      val all = prev ++ cur
      all.diff(keepIds).foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
      prev = Set.empty; cur = all intersect keepIds
    }
  }

  /** Spec tap for [[RoundCheckpoints.ownRddId]] — pins the exact-id
    * capture path (the concurrency guard) against Spark shape drift.
    */
  private[graft] def ownCheckpointRddId(df: DataFrame): Option[Int] =
    RoundCheckpoints.ownRddId(df)

  private object RoundCheckpoints {
    /** The persisted RDD id behind a just-localCheckpoint'd frame: its
      * analyzed plan is a single LogicalRDD leaf whose `rdd` IS the
      * checkpointed (persisted) RDD. Reflection keeps us off the
      * private[sql] type; any shape drift returns None.
      */
    private[graft] def ownRddId(out: DataFrame): Option[Int] =
      out.queryExecution.analyzed.collectLeaves() match {
        case scala.collection.Seq(leaf) => leafRdd(leaf).map(_.id)
        case _ => None
      }

    /** The RDD behind a LogicalRDD leaf, or None for any other leaf. */
    def leafRdd(leaf: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[RDD[_]] =
      try {
        val m = leaf.getClass.getMethod("rdd")
        m.setAccessible(true)
        Some(m.invoke(leaf).asInstanceOf[RDD[_]])
      } catch { case _: ReflectiveOperationException => None }
  }

  /** Blocking-unpersist the persisted RDDs a frame reads: down each
    * leaf's narrow lineage, the first persisted RDD. For a caller that
    * has checkpointed what it derived from an op's result, so the
    * result's blocks need not wait for the async ContextCleaner.
    */
  private def releaseReads(df: DataFrame): Unit = {
    def firstPersisted(r: RDD[_]): Seq[RDD[_]] =
      if (r.getStorageLevel != StorageLevel.NONE) Seq(r)
      else r.dependencies.collect { case d: org.apache.spark.NarrowDependency[_] => d.rdd }.flatMap(firstPersisted)
    df.queryExecution.analyzed.collectLeaves().flatMap(RoundCheckpoints.leafRdd)
      .flatMap(firstPersisted).distinct.foreach(_.unpersist(blocking = true))
  }

  /** Edge count below which iterative traversals run on the driver —
    * the adaptive call AQE makes when it turns a shuffle join into a
    * broadcast: 4M edge pairs ≈ 64 MB, the session's
    * autoBroadcastJoinThreshold. Every op with a driver twin compares it
    * with the row count of its one [[Supersteps.intake]] job (repeats
    * included) and, at or below it, receives those rows as primitive
    * arrays, ≈ 16 B per edge and 24 B with a toll: [[bfs]] and its
    * callers, [[dfsLeaves]], the push ops, [[sssp]], and the
    * distinct-edge ops of [[loopFree]] (self-loops excluded) — kCore,
    * coreness and densestSubgraph, whose push rounds take the intake
    * itself above the bound, and through [[simpleEdges]] kTruss,
    * triangleCounts, labelPropagation, scc, betweenness and [[msf]]. A
    * graph this small costs more in per-level scheduler latency than the
    * whole traversal does locally (the reference materializes the full
    * adjacency matrix per query, secondary_server.c:126-137). Above it
    * the level-synchronous loops run unconditionally; specs pin both
    * paths equal by forcing maxLocalEdges = 0. [[connectedComponents]]
    * collects nothing: for it this is the forest size at or below which
    * it finishes in one task, that task's memory bound (measured on 4
    * cores: 2.6 s against 34-42 s of star rounds on a 3.2M-4M-edge
    * stalled forest).
    */
  val LocalEdgeThreshold: Long = 4000000L

  /** Per-task edge-share cap for the iterated contraction passes in
    * [[connectedComponents]]: a pass whose coalesced tasks would each
    * union-find more edges than this is not run, and the forest goes to
    * the star rounds. A task's open-addressing map holds
    * O(min(task endpoints, |V|)) entries of 16 B, so near 512 MB. The
    * supersteps size their partition count by it too, so an exchanged
    * edge block stays under ≈ 256 MB.
    */
  val ContractTaskEdgeBound: Long = 16000000L

  /** splitmix64-style finalizer — cheap and well-spread for
    * sequential/offset-striped vertex ids. [[LongLongOpenMap]]'s slot
    * hash and the BFS supersteps' vertex → partition map.
    */
  @inline private[graph] def mix64(k: Long): Long = {
    val x = k * -7046029254386353131L
    x ^ (x >>> 32)
  }

  /** Open-addressing Long→Long map (linear probing, power-of-2
    * capacity, 16 B/entry flat arrays) for the union-find hot loops —
    * the boxed `java.util.HashMap[Long, Long]` spent most of the
    * contraction pass time in Long boxing and node chasing. Absent
    * keys read back as the caller-supplied default (union-find's
    * self-parent convention). `Long.MinValue` is the empty-slot
    * sentinel; a real MinValue key is carried in a scalar side field
    * so arbitrary vertex ids stay correct.
    */
  private[graft] final class LongLongOpenMap(initialCapacity: Int = 1 << 10) {
    private var cap = Integer.highestOneBit(math.max(16, initialCapacity - 1)) << 1
    private var mask = cap - 1
    private var keys = Array.fill[Long](cap)(Long.MinValue)
    private var vals = new Array[Long](cap)
    private var n = 0
    private var hasMin = false
    private var minVal = 0L
    @inline private def slot(k: Long): Int = (mix64(k) & mask).toInt
    def getOrDefault(k: Long, dflt: Long): Long = {
      if (k == Long.MinValue) return if (hasMin) minVal else dflt
      var i = slot(k)
      while (true) {
        val kk = keys(i)
        if (kk == k) return vals(i)
        if (kk == Long.MinValue) return dflt
        i = (i + 1) & mask
      }
      dflt // unreachable
    }
    /** Grows only to store a new key: an overwrite inside a
      * [[foreachKey]] moves no key under it.
      */
    def put(k: Long, v: Long): Unit = {
      if (k == Long.MinValue) { hasMin = true; minVal = v; return }
      var i = slot(k)
      while (keys(i) != Long.MinValue && keys(i) != k) i = (i + 1) & mask
      if (keys(i) == Long.MinValue) {
        if ((n + 1) * 10 >= cap * 7) { grow(); put(k, v); return }
        keys(i) = k; n += 1
      }
      vals(i) = v
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals
      cap <<= 1; mask = cap - 1; n = 0
      keys = Array.fill[Long](cap)(Long.MinValue)
      vals = new Array[Long](cap)
      var i = 0
      while (i < ok.length) {
        if (ok(i) != Long.MinValue) put(ok(i), ov(i))
        i += 1
      }
    }
    /** Iterate stored keys (insertion-order-free). */
    def foreachKey(f: Long => Unit): Unit = {
      var i = 0
      while (i < keys.length) {
        if (keys(i) != Long.MinValue) f(keys(i))
        i += 1
      }
      if (hasMin) f(Long.MinValue)
    }
  }

  /** Path-compressing union-find over a [[LongLongOpenMap]] of parent
    * links (absent ⇒ self-parent). `union` hangs the larger root under
    * the smaller, so every set's root is its minimum vertex — the
    * min-id component label [[connectedComponents]] returns.
    */
  private[graft] final class UnionFind(initialCapacity: Int = 1 << 16) {
    private val parent = new LongLongOpenMap(initialCapacity)
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x
      while (parent.getOrDefault(c, c) != c) {
        val n = parent.getOrDefault(c, c); parent.put(c, r); c = n
      }
      r
    }
    /** Merge the sets of `a` and `b`; false when they were one set. */
    def union(a: Long, b: Long): Boolean = {
      val ra = find(a); val rb = find(b)
      if (ra == rb) false
      else { parent.put(math.max(ra, rb), math.min(ra, rb)); true }
    }
    /** Every vertex ever hung under another, with its root (`find`
      * only overwrites stored links, so it may run inside the iteration).
      */
    def foreachNonRoot(f: (Long, Long) => Unit): Unit =
      parent.foreachKey { v => val r = find(v); if (r != v) f(r, v) }
  }

  /** A contraction task's output: `pairs` and its forest's `edges`
    * (see [[contractTask]]), and the non-loop edges it `seen`.
    */
  private final case class Forest(pairs: Pairs, edges: Int, seen: Long)

  /** One [[connectedComponents]] contraction task over its edges `in`:
    * the union-find of the non-loop edges as one (root, v) edge per
    * non-root vertex (roots are the task's minima, so root < v), plus a
    * (v, v) marker per self-loop vertex. If `last`, the task has seen
    * every edge and `pairs` are instead the (vertex, component) rows of
    * every vertex it saw.
    */
  private def contractTask(in: Iterator[Pairs], last: Boolean): Forest = {
    val uf = new UnionFind()
    val loops = new mutable.ArrayBuilder.ofLong
    var seen = 0L
    in.foreach { p =>
      var i = 0
      while (i < p.size) {
        if (p.xs(i) == p.ys(i)) loops.addOne(p.xs(i)) else { uf.union(p.xs(i), p.ys(i)); seen += 1 }
        i += 1
      }
    }
    val marks = Supersteps.sortedDistinct(loops.result())
    val forest = new Supersteps.PairsBuilder(weighted = false)
    uf.foreachNonRoot((r, v) => forest.add(r, v, 0L))
    val Pairs(roots, leaves, _) = forest.result()
    val out =
      if (!last) Pairs(roots ++ marks, leaves ++ marks)
      else {
        val all = Supersteps.sortedDistinct(roots ++ leaves ++ marks)
        Pairs(all, all.map(uf.find))
      }
    Forest(out, roots.length, seen)
  }

  private def canonEdges(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))

  /** A schema of non-null BIGINT columns `names`. */
  private def longCols(names: String*): StructType =
    StructType(names.map(StructField(_, LongType, nullable = false)))

  /** `edges` as undirected (src, dst) pairs, src ≤ dst. */
  private def undirected(edges: DataFrame): DataFrame =
    canonEdges(edges).select(least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst"))

  /** The (src, dst[, w]) edges of `e` with no self-loop or null, read
    * once by one [[Supersteps.intake]] job of its non-loop rows. If at
    * most `maxLocalEdges` rows were read (repeats included), their
    * deduplicated [[Csr]] (a repeated edge keeps its least toll), and no
    * further job; else the intake, whose checkpointed pairs the caller
    * releases.
    */
  private def loopFree(e: DataFrame, maxLocalEdges: Long, name: String): Either[Csr, Supersteps.Intake] = {
    val in = Supersteps.intake(e.where(col("src") =!= col("dst")), maxLocalEdges, name)
    if (in.local != null) Left(in.local.csr.deduped) else Right(in)
  }

  /** [[loopFree]]'s edges; above the bound, the distinct rows as a
    * local-checkpointed frame built from the intake, which is released,
    * and the frame's row count.
    */
  private def simpleEdges(e: DataFrame, maxLocalEdges: Long, name: String): Either[Csr, (DataFrame, Long)] =
    loopFree(e, maxLocalEdges, name).map { in =>
      try {
        val rows = in.pairs.flatMap(p => p.xs.indices.iterator.map { i =>
          if (p.ws == null) Row(p.xs(i), p.ys(i)) else Row(p.xs(i), p.ys(i), p.ws(i))
        })
        val cols = if (e.columns.contains("w")) longCols("src", "dst", "w") else longCols("src", "dst")
        val d = e.sparkSession.createDataFrame(rows, cols).distinct().localCheckpoint()
        (d, d.count())
      } finally in.pairs.unpersist(blocking = true)
    }

  /** The symmetric closure of the pairs `p`, each key's values sorted and distinct. */
  private def symmetric(p: Pairs): Csr = Csr(p.xs ++ p.ys, p.ys ++ p.xs).deduped

  /** Calls `f` on each value the sorted slot ranges `a` and `b` of `g` share. */
  private def common(g: Csr, a: Range, b: Range)(f: Long => Unit): Unit = {
    var (i, j) = (a.start, b.start)
    while (i < a.end && j < b.end) {
      val x = g.vals(i); val y = g.vals(j)
      if (x < y) i += 1 else if (y < x) j += 1 else { f(x); i += 1; j += 1 }
    }
  }

  /** Spark's `round(x, 6)` of a double, on the driver. */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** A peel of the undirected graph of the intake's `adj`: vertex i is
    * `g.keys(i)`, `nb` the vertex of each value of `g`, and `deg(i)`
    * counts i's neighbors not yet peeled (`gone`).
    */
  private final class Peel(adj: Csr) {
    val g: Csr = symmetric(adj.pairs)
    val nb: Array[Int] = g.vals.map(java.util.Arrays.binarySearch(g.keys, _))
    val deg: Array[Int] = Array.tabulate(g.keys.length)(g.degree)
    val gone = new Array[Boolean](deg.length)

    /** Removes vertex i, lowering its live neighbors' degrees. */
    def remove(i: Int)(lowered: Int => Unit): Unit = {
      gone(i) = true
      (g.offs(i) until g.offs(i + 1)).map(nb).foreach(w => if (!gone(w)) { deg(w) -= 1; lowered(w) })
    }

    /** Peels each live vertex of degree ≤ k, cascading; `f` sees each. */
    def upTo(k: Int)(f: Int => Unit): Unit = {
      val todo = mutable.Stack(deg.indices.filter(i => !gone(i) && deg(i) <= k): _*)
      while (todo.nonEmpty) {
        val i = todo.pop()
        if (!gone(i)) { f(i); remove(i)(w => if (deg(w) <= k) todo.push(w)) }
      }
    }
  }

  /** Multi-source, tagged BFS. `sources` has columns (vertex[, tag]);
    * result is (tag, vertex, level) with level = min-hop distance from
    * the tag's source set. Untagged callers get a constant tag they
    * can drop. This is the deterministic contract of the reference's
    * BFS (dfs_bfs.h:111-172): levels are well-defined, intra-level
    * order is not. An edge or source row with a null is dropped.
    *
    * The edges are read once, by one [[Supersteps.intake]] job. If
    * there are at most `maxLocalEdges`, the driver twin runs over the
    * pairs it returns and that job is the call's only one; else the
    * [[Supersteps.bfs]] frontier loop runs over the persisted intake.
    */
  def bfs(edges: DataFrame, sources: DataFrame, maxDepth: Int = Int.MaxValue,
      maxLocalEdges: Long = LocalEdgeThreshold, hubOutDegree: Long = 0L): DataFrame = {
    val tagged = tagOf(sources)
    val in = Supersteps.intake(canonEdges(edges), maxLocalEdges, "bfs")
    if (in.local != null) localBfs(Csr(in.local.xs, in.local.ys), tagged, maxDepth, _ => true)
    else Supersteps.bfs(in.pairs, in.count, tagged, maxDepth, hubOutDegree, broadcastFrontier)
  }

  /** `sources`' (vertex[, tag]) rows as (tag, vertex) longs, tag 0 if absent. */
  private def tagOf(sources: DataFrame): DataFrame =
    if (sources.columns.contains("tag")) sources.select(col("tag").cast("long"), col("vertex").cast("long"))
    else sources.select(lit(0L).as("tag"), col("vertex").cast("long"))

  /** Driver-side twin of the frontier loop for sub-threshold graphs,
    * over the intake's adjacency `adj`: same (tag, vertex, level)
    * min-hop contract, identical output, less the vertices `keep`
    * rejects.
    */
  private def localBfs(adj: Csr, tagged: DataFrame, maxDepth: Int,
      keep: Long => Boolean): DataFrame = {
    val srcs = tagged.collect().filter(r => !r.isNullAt(0) && !r.isNullAt(1)).map(r => (r.getLong(0), r.getLong(1)))
    val out = new java.util.ArrayList[Row]()
    srcs.distinct.groupBy(_._1).foreach { case (tag, seeds) =>
      val level = new java.util.HashMap[Long, Int]()
      var frontier = seeds.map(_._2).distinct
      frontier.foreach(v => level.put(v, 0))
      var lvl = 0
      while (frontier.nonEmpty && lvl < maxDepth) {
        lvl += 1
        val next = new mutable.ArrayBuilder.ofLong
        frontier.foreach(v => adj.slots(v).foreach { j =>
          val w = adj.vals(j)
          if (!level.containsKey(w)) { level.put(w, lvl); next.addOne(w) }
        })
        frontier = next.result()
      }
      level.forEach((v, l) => if (keep(v)) out.add(Row(tag, v, l)))
    }
    tagged.sparkSession.createDataFrame(out, Supersteps.BfsSchema)
  }

  /** Single-source BFS: (vertex, level). */
  def bfsFrom(edges: DataFrame, source: DataFrame, maxDepth: Int = Int.MaxValue): DataFrame =
    bfs(edges, source, maxDepth).select("vertex", "level")

  /** Reachable-vertex set from a source — the deterministic contract
    * of the reference's DFS op (secondary_server.c:190-227: output
    * order is thread-race dependent; the reachable SET is not).
    */
  def reach(edges: DataFrame, source: DataFrame): DataFrame =
    bfs(edges, source).select("vertex")

  /** Deterministic lexicographic DFS preorder: (pos, vertex).
    *
    * DFS is inherently sequential (each step depends on the full
    * visited state); the reference likewise materializes the whole
    * adjacency matrix per query (secondary_server.c:126-137). The edges
    * come to the driver as read, repeats included, in one
    * [[Supersteps.intake]] job — guarded: more than `maxEdges` rows
    * fail — and the walk visits each vertex's distinct neighbors in
    * ascending order ([[Csr.deduped]]). An edge with a null
    * endpoint is dropped. For scale-path traversal use `bfs`/`reach`;
    * this op exists for reference parity.
    */
  def dfsPreorder(edges: DataFrame, source: Long, maxEdges: Long = 5000000L): DataFrame = {
    val in = Supersteps.intake(canonEdges(edges), maxEdges, "dfsPreorder")
    if (in.local == null) in.pairs.unpersist(blocking = true)
    require(in.local != null, s"dfsPreorder is a driver-side op; ${in.count} edges > $maxEdges")
    val adj = Csr(in.local.xs, in.local.ys).deduped
    val seen = scala.collection.mutable.HashSet[Long]()
    val order = new java.util.ArrayList[Row]()
    // explicit stack (no JVM recursion limit); push children reversed
    // so the smallest neighbor is explored first
    val stack = scala.collection.mutable.Stack[Long](source)
    while (stack.nonEmpty) {
      val v = stack.pop()
      if (!seen(v)) {
        seen += v
        order.add(Row(order.size.toLong, v))
        adj.slots(v).reverseIterator.foreach(j => if (!seen(adj.vals(j))) stack.push(adj.vals(j)))
      }
    }
    edges.sparkSession.createDataFrame(order, longCols("pos", "vertex"))
  }

  /** Terminal ("leaf") vertices of a traversal from `source` — the
    * race-independent core of the reference DFS's output
    * (dfs_bfs.h:70-77: the reference returns vertices that spawned no
    * child threads, i.e. the last vertex on each thread's path; WHICH
    * already-visited-neighbor vertices qualify is thread-race
    * dependent, but a reachable vertex with no out-neighbors always
    * does). Deterministic contract: the rows of `reach(edges, source)`
    * less every vertex with an out-edge; an edge with a null endpoint
    * is dropped, so `(v, null)` gives `v` no out-edge.
    *
    * The edges are read once, by one [[Supersteps.intake]] job. With at
    * most `maxLocalEdges` of them the leaves are the reached vertices
    * that are not keys of the intake's adjacency, and that job is the
    * call's only one. Above it, one job over the checkpointed intake
    * keeps each partition's distinct sources (the out-degree > 0
    * probe) before the [[Supersteps.bfs]] loop releases the intake, and
    * the reached vertices are anti-joined against them.
    */
  def dfsLeaves(edges: DataFrame, source: DataFrame, maxLocalEdges: Long = LocalEdgeThreshold): DataFrame = {
    val tagged = tagOf(source)
    val in = Supersteps.intake(canonEdges(edges), maxLocalEdges, "dfsLeaves")
    if (in.local != null) {
      val adj = Csr(in.local.xs, in.local.ys)
      localBfs(adj, tagged, Int.MaxValue, v => adj.slots(v).isEmpty).select("vertex")
    } else {
      val srcs = in.pairs.map(p => Supersteps.sortedDistinct(p.xs)).setName("dfsLeaves sources").localCheckpoint()
      try srcs.count()
      catch { case t: Throwable => in.pairs.unpersist(blocking = true); throw t }
      val probe = edges.sparkSession.createDataFrame(srcs.flatMap(_.iterator.map(Row(_))), longCols("vertex"))
      Supersteps.bfs(in.pairs, in.count, tagged, Int.MaxValue, hubOutDegree = 0L, broadcastFrontier)
        .select("vertex").join(probe, Seq("vertex"), "left_anti")
    }
  }

  /** Per-vertex in/out/total degree — one shuffle via tagged union.
    * The edge frame is checkpointed before the two-branch union: the
    * caller's derivation (a multi-table warehouse join for the
    * derived graphs) would otherwise execute once per branch.
    */
  def degrees(edges: DataFrame): DataFrame = {
    val ce = canonEdges(edges).localCheckpoint()
    ce
      .select(col("src").as("vertex"), lit(1L).as("o"), lit(0L).as("i"))
      .unionAll(ce.select(col("dst"), lit(0L), lit(1L)))
      .groupBy("vertex")
      .agg(sum("o").as("out_deg"), sum("i").as("in_deg"),
        (sum("o") + sum("i")).as("total_deg"))
  }

  /** Undirected connected components: (vertex, component) rows with
    * component = the component's minimum vertex id. The vertices are
    * the endpoints of the non-loop edges plus the self-loop vertices; an
    * edge with a null endpoint is dropped.
    *
    * Iterated local contraction (the two-phase optimization of Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC 2014,
    * §6, applied to a fixpoint) as RDD passes of one Spark job each: a
    * task union-finds its own edges ([[contractTask]]) — a narrow pass,
    * no shuffle — and keeps one (root, v) forest edge per non-root
    * vertex it saw, self-loop vertices riding along as (v, v) markers.
    * Forest union ≡ same components, and a pass keeps the vertex set, so
    * its output is bounded by Σ per-task distinct vertices. One pass at
    * the natural partitioning barely shrinks a graph whose vertex set
    * every partition sees (×100 supply graph: 58.7M → 36M edges, 32
    * partitions each seeing ~1.4M of the 1.6M vertices); coalescing 4×
    * down between passes (narrow) makes that bound drop geometrically
    * to the forest floor of ~|V| edges.
    *
    * A pass that runs in ONE task has seen every edge, so its union-find
    * is the min-id labelling and it emits the labels: the passes end
    * there. A forest of at most `maxLocalEdges` edges is finished in one
    * task at once. Coalescing continues while a pass shrinks the forest
    * by ≥ 20 % and the next pass's per-task share stays under
    * [[ContractTaskEdgeBound]] (a task's union-find map is
    * O(min(task endpoints, |V|))); a stall on several tasks above
    * `maxLocalEdges` hands the forest to the alternating
    * large-star/small-star rounds ([[starRound]], Kiveris et al. §3:
    * O(log n) rounds of pure shuffle ops), which finish in one task
    * once their edge set is at most `maxLocalEdges`.
    */
  def connectedComponents(edges: DataFrame,
      maxLocalEdges: Long = LocalEdgeThreshold): DataFrame = {
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    var passes = 0
    // One pass, materialized in its job, which returns the forest's
    // edges and the non-loop edges the pass read.
    def pass(in: RDD[Pairs], last: Boolean): (RDD[Forest], Long, Long) = {
      passes += 1
      audit(s"cc:pass parts=${in.getNumPartitions}")
      val f = in.mapPartitions(it => Iterator(contractTask(it, last)))
        .setName(if (last) "cc labels" else s"cc pass $passes").persist(StorageLevel.MEMORY_AND_DISK)
      val sizes = sc.runJob(f, (it: Iterator[Forest]) => { val x = it.next(); (x.edges.toLong, x.seen) })
      (f, sizes.map(_._1).sum, sizes.map(_._2).sum)
    }
    def frame(f: RDD[Forest], a: String, b: String): DataFrame = spark.createDataFrame(
      f.flatMap { x => val p = x.pairs; p.xs.indices.iterator.map(i => Row(p.xs(i), p.ys(i))) }, longCols(a, b))
    def labels(f: RDD[Forest]): DataFrame = frame(f, "vertex", "component")
    def release(r: RDD[_]): Unit = r.unpersist(blocking = true)

    val input = Supersteps.edgePairs(canonEdges(edges))
    var parts = input.getNumPartitions
    var (forest, n, prevN) = pass(input, last = parts <= 1)
    while (parts > 1 && (n <= maxLocalEdges ||
        n <= (prevN * 4) / 5 && n / math.max(1, parts / 4) <= ContractTaskEdgeBound && passes < 16)) {
      parts = if (n <= maxLocalEdges) 1 else math.max(1, parts / 4)
      val (next, m, _) = pass(forest.map(_.pairs).coalesce(parts), last = parts == 1)
      release(forest)
      forest = next; prevN = n; n = m
    }
    if (parts <= 1) return labels(forest)

    // The star rounds: their edge set keeps the forest's non-loop
    // vertices and components; the self-loop markers wait in `forest`.
    val fd = frame(forest, "u", "v")
    var e = fd.where(col("u") =!= col("v"))
    var converged = false
    var rounds = 0
    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(sum(hash(col("u"), col("v")).cast("long")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var sig = checksum(e)
    // inline hygiene: the star rounds are LINEAR (round N reads only
    // round N-1's frames), so the previous round's three checkpoints
    // free as soon as this round's materialize
    val hy = new RoundCheckpoints(sc)
    while (!converged && rounds < 64) {
      rounds += 1
      audit(s"cc:star round $rounds")
      val ss = starRound(e, hy.ckpt)
      val nsig = checksum(ss)
      converged = nsig == sig
      sig = nsig
      e = ss
      hy.endRound()
      // every star round preserves the component partition (Kiveris et
      // al. §3), so once the SHRINKING edge set fits `maxLocalEdges`, a
      // one-task finish over it and the markers is exact and skips the
      // remaining O(log n) rounds — on the sf1 supply graph round 1
      // shrinks 5.9M → 4.0M edges and this cuts the loop from 4 rounds
      // to 1. At true scale the set stays above it and the loop runs on.
      if (!converged && nsig._1 <= maxLocalEdges) {
        val rest = e.unionAll(fd.where(col("u") === col("v")))
        val (out, _, _) = pass(Supersteps.edgePairs(rest.select(col("u").as("src"), col("v").as("dst")))
          .coalesce(1), last = true)
        // `out` is computed from `e`, a checkpoint with no lineage
        // behind it: `e` stays for as long as the result is reachable
        hy.drain(keep = Seq(e))
        release(forest)
        return labels(out)
      }
    }
    val allVerts = fd.select(col("u").as("vertex")).unionAll(fd.select(col("v").as("vertex")))
      .distinct().localCheckpoint()
    val comps = e.select(col("v").as("vertex"), col("u").as("component"))
      .unionAll(e.select(col("u").as("vertex"), col("u").as("component")))
      .distinct()
    // end-of-loop hygiene: the result reads only the FINAL round's ss
    // (`e`) and allVerts — every other tracked checkpoint (the 2×|E|
    // bidirected frames of the last round, all superseded rounds) and
    // the forest release BLOCKING here, inside this op's own wall,
    // instead of as an async cleaner wave on the next co-scheduled op
    // (r19 verdict #2)
    hy.drain(keep = Seq(e))
    release(forest)
    allVerts.join(comps, Seq("vertex"), "left")
      .select(col("vertex"), coalesce(col("component"), col("vertex")).as("component"))
  }

  /** One alternating round over canonical (u < v) edges `e`, as (u, v)
    * edges again: large-star links every neighbor larger than u to u's
    * minimum neighbor, then small-star links every neighbor ≤ s, and s
    * itself, to the minimum (Kiveris et al. §3). A round keeps the
    * vertex set and the partition into components. `ckpt` cuts the
    * lineage of its three edge-sized frames.
    */
  private[graft] def starRound(e: DataFrame, ckpt: DataFrame => DataFrame): DataFrame = {
    // Each star half consumes its bidirected edge frame TWICE on the
    // same key (the per-s min aggregate, then the equi-join back) —
    // unpartitioned, that is two edge-sized exchanges per half per
    // round. Hash-partitioning the frame by s once (checkpointed — the
    // checkpoint scan keeps the partitioning, so both consumers and the
    // join's min side plan exchange-free) makes the star rounds' network
    // cost one edge exchange per half, the geometry that survives a
    // web-scale edge set.
    // large-star: every neighbor larger than u links to u's min
    val bi = ckpt(e.select(col("u").as("s"), col("v").as("d"))
      .unionAll(e.select(col("v").as("s"), col("u").as("d")))
      .repartition(col("s")))
    val mins = bi.groupBy("s").agg(min("d").as("mn"))
      .select(col("s"), least(col("s"), col("mn")).as("m"))
    // filter before the join (mins still sees every neighbor); keep
    // the distinct — on dense graphs many (d, m) candidates repeat,
    // and deduping here halves what small-star has to shuffle
    val ls = bi.where(col("d") > col("s")).join(mins, "s")
      .select(least(col("d"), col("m")).as("u"), greatest(col("d"), col("m")).as("v"))
      .where(col("u") =!= col("v")).distinct()
    // small-star: every neighbor ≤ s (and s itself) links to the min
    val bi2 = ls.select(col("u").as("s"), col("v").as("d"))
      .unionAll(ls.select(col("v").as("s"), col("u").as("d")))
    val low = ckpt(bi2.where(col("d") <= col("s"))
      .repartition(col("s")))
    val mins2 = low.groupBy("s").agg(min("d").as("mn"))
      .select(col("s"), least(col("s"), col("mn")).as("m"))
    ckpt(low.join(mins2, "s").select(col("d").as("x"), col("m"))
      .unionAll(mins2.select(col("s").as("x"), col("m")))
      .where(col("x") =!= col("m"))
      .select(col("m").as("u"), col("x").as("v"))
      .distinct())
  }

  /** Hub floor: a source is a hub only past both an ideal partition's
    * share (edges / partitions) AND this floor, below which the
    * straggler fits any executor and a split would cost more than it saves.
    */
  val HubMinOutDegree: Long = 1L << 16

  /** Two-frame hub split of a key-partitioned edge cache for the
    * Brandes sweeps, its only caller (the BFS and push supersteps, sssp's
    * included, split their RDD layouts in [[Supersteps.bySource]]).
    * Salting would not do: the per-level join requires
    * ClusteredDistribution(key), so a (key, salt) partitioning would
    * re-exchange the edges every level. Instead:
    *  - `tail` keeps the cached partitioning minus every hub's edges,
    *    so its max partition is bounded by the tail degrees;
    *  - `hub` holds the hubs' edges round-robin over all partitions
    *    (hub values ride in by broadcast, so any layout joins);
    *  - `hubDeg` is the (key, od) hub catalog, at most edges/threshold
    *    rows, broadcast each level.
    * `hubOutDegree` 0 = auto: max([[HubMinOutDegree]], edges/parts),
    * which on every shipped graph yields zero hubs.
    */
  private[graft] final case class HubSplit(tail: DataFrame, hub: Option[DataFrame],
      hubDeg: Option[DataFrame]) {
    def unpersistAll(): Unit = { tail.unpersist(); hub.foreach(_.unpersist()) }
  }

  /** The out-degree above which a source is a hub. */
  private[graph] def hubThreshold(eCount: Long, parts: Int, hubOutDegree: Long): Long =
    if (hubOutDegree > 0) hubOutDegree else math.max(HubMinOutDegree, eCount / parts)

  /** The most hubs a split broadcasts. */
  private[graph] val MaxHubs: Int = 1 << 20

  private[graph] def tooManyHubs(nHubs: Long, key: String, threshold: Long) =
    new IllegalArgumentException(
      s"hubSplit: $nHubs sources above $key-degree $threshold — hub catalog " +
        "too large to broadcast; raise the threshold")

  private[graft] def hubSplit(e: DataFrame, eCount: Long, deg: DataFrame,
      hubOutDegree: Long, key: String = "src",
      tailLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK): HubSplit = {
    val spark = e.sparkSession
    val parts = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    val threshold = hubThreshold(eCount, parts, hubOutDegree)
    val hubDeg = deg.where(col("od") > threshold).localCheckpoint()
    val nHubs = hubDeg.count()
    // Validate BEFORE building tail/hub frames, and release the caller's
    // persisted edge frame on the error path — a user-supplied small
    // hubOutDegree on a large graph must not leak cached edge-sized
    // blocks (the success paths hand ownership of `e` to the HubSplit).
    if (nHubs > MaxHubs) {
      e.unpersist()
      throw tooManyHubs(nHubs, key, threshold)
    }
    if (nHubs == 0) HubSplit(e, None, None)
    else {
      val hubKeys = broadcast(hubDeg.select(key))
      val tail = e.join(hubKeys, Seq(key), "left_anti").persist(tailLevel)
      val hub = e.join(hubKeys, Seq(key), "left_semi")
        .repartition(parts).persist(tailLevel)
      tail.count(); hub.count()
      e.unpersist()
      HubSplit(tail, Some(hub), Some(hubDeg))
    }
  }

  /** Damped PageRank, fixed iteration count. Dangling-vertex mass is
    * dropped (both the engine and the oracle use the same convention).
    * All vertices (src ∪ dst) receive the (1-d)/N base term.
    */
  def pagerank(edges: DataFrame, iters: Int, d: Double = 0.85,
      maxLocalEdges: Long = LocalEdgeThreshold, hubOutDegree: Long = 0L): DataFrame =
    rankPush(edges, None, iters, d, maxLocalEdges, hubOutDegree)

  /** Personalized PageRank (random walk with restart to a seed set):
    * the reset mass (1−d) returns to the seeds instead of spreading
    * uniformly, so rank measures proximity *to the seeds* — the
    * "find more like these" primitive under seed-expansion sampling
    * of a web/citation graph. Same fixed-iteration push rounds as
    * [[pagerank]], dangling mass dropped by the same convention; a
    * repeated seed counts once, and a seed outside the graph keeps its
    * share of the reset mass out of it.
    */
  def ppr(edges: DataFrame, seeds: Seq[Long], iters: Int, d: Double = 0.85,
      maxLocalEdges: Long = LocalEdgeThreshold, hubOutDegree: Long = 0L): DataFrame = {
    require(seeds.nonEmpty, "PPR needs a non-empty seed set")
    rankPush(edges, Some(seeds), iters, d, maxLocalEdges, hubOutDegree)
  }

  /** The push program behind [[pagerank]] (`seeds` None: uniform reset,
    * base (1−d)/N, start 1/N) and [[ppr]] (reset share s = 1/|distinct
    * seeds| on each seed, base (1−d)·s, start s): each round
    * r ← base + d·Σ(in-neighbor r / outdeg), one [[Supersteps.push]]
    * round each.
    */
  private def rankPush(edges: DataFrame, seeds: Option[Seq[Long]], iters: Int,
      d: Double, maxLocalEdges: Long, hubOutDegree: Long): DataFrame = {
    Supersteps.push(canonEdges(edges), maxLocalEdges, "rank", Seq(Supersteps.Forward), hubOutDegree) { g =>
      val (base, start): (Long => Double, Long => Double) = seeds match {
        case None =>
          val (b, s) = ((1.0 - d) / g.vertices, 1.0 / g.vertices)
          (_ => b, _ => s)
        case Some(ss) =>
          val seedSet = ss.distinct.sorted.toArray
          val share = 1.0 / seedSet.length
          val reset = (v: Long) => if (java.util.Arrays.binarySearch(seedSet, v) >= 0) share else 0.0
          (v => (1.0 - d) * reset(v), reset)
      }
      val step = new Supersteps.Push {
        def send(x: Double, deg: Int): Double = x / deg
        def update(v: Long, in: Double): Double = base(v) + d * in
      }
      var r = g.start(start)
      for (_ <- 1 to iters) r = g.round(step, Supersteps.Forward, r)
      g.result(("rank", r, 1.0))
    }
  }

  /** k-core decomposition membership: the maximal subgraph in which
    * every vertex has undirected degree ≥ k, as (vertex, core_deg)
    * rows, core_deg its degree inside it; at k ≤ 1, every vertex of a
    * non-loop edge. The edges are read once ([[loopFree]]); at or below
    * `maxLocalEdges` the driver twin peels them ([[localKCore]]).
    * Above it, a sum program on the push kernel ([[Supersteps.push]],
    * symmetric closure): a vertex's state is its live degree; each
    * round it sends 1 while that is ≥ k and takes the sum it receives.
    * Live degrees only fall, so the rounds stop when the total does
    * not change ([[settle]], audited as `kCore:round N`).
    */
  def kCore(edges: DataFrame, k: Int, maxLocalEdges: Long = LocalEdgeThreshold): DataFrame =
    loopFree(undirected(edges), maxLocalEdges, "kCore") match {
      case Left(adj) => localKCore(edges.sparkSession, adj, k)
      case Right(in) =>
        val inCore = new Supersteps.Push {
          def send(x: Double, deg: Int): Double = if (x >= k) 1.0 else 0.0
          def update(v: Long, in: Double): Double = in
        }
        Supersteps.push(edges.sparkSession, in, "kCore", Seq(Undirected), hubOutDegree = 0L) { g =>
          g.result(("core_deg", settle(g, inCore, "kCore"), 1.0)).where(col("core_deg") >= k)
            .select(col("vertex"), col("core_deg").cast(LongType).as("core_deg"))
        }
    }

  /** Full core decomposition (coreness per vertex — Batagelj &
    * Zaveršnik 2003): coreness(v) = max k such that v survives the
    * k-core prune. Every vertex incident to a non-loop edge is emitted
    * (coreness ≥ 1). The edges are read once, by one intake job of the
    * non-loop undirected rows ([[loopFree]]); at or below
    * `maxLocalEdges` the driver twin peels them ([[localCoreness]]).
    *
    * Above it, coreness is the vertex-local h-index program (Montresor,
    * De Pellegrini & Miorandi 2011, "Distributed k-core decomposition")
    * on the push kernel ([[Supersteps.push]]), over the symmetric
    * closure its blocks build. A sum round gives each vertex its degree
    * as its first estimate. Then each round every vertex sends its
    * estimate to its neighbors, receives their histogram (combined
    * map-side, so a hub's equal leaf estimates arrive as one entry per
    * task) and lowers its estimate to that histogram's h-index: the
    * largest h with at least h neighbors estimating ≥ h. Estimates only
    * fall, are integers, and settle exactly at the coreness, so the
    * loop stops at the first round whose total — the sum its job
    * returns — does not change. Every vertex recomputes every round (no
    * frontier delta): a round is one job and no query planning, and the
    * rounds follow the longest chain of influence, not the degeneracy a
    * bucket peel serializes on. Each round is audited as
    * `coreness:round N`.
    */
  def coreness(edges: DataFrame,
      maxLocalEdges: Long = LocalEdgeThreshold): DataFrame =
    loopFree(undirected(edges), maxLocalEdges, "coreness") match {
      case Left(adj) => localCoreness(edges.sparkSession, adj)
      case Right(in) =>
        Supersteps.push(edges.sparkSession, in, "coreness", Seq(Undirected), hubOutDegree = 0L) { g =>
          g.result(("coreness", settle(g, HIndex, "coreness"), 1.0))
            .select(col("vertex"), col("coreness").cast(LongType).as("coreness"))
        }
    }

  /** A vertex's neighbor count, summed over an undirected layout. */
  private val Degree = new Supersteps.Push {
    def send(x: Double, deg: Int): Double = 1.0
    def update(v: Long, in: Double): Double = in
  }

  /** Rounds of `p` over `g`'s undirected layout from each vertex's
    * degree, until one leaves the total unchanged: for states that only
    * fall, the first round that changes none. Each round is audited as
    * `name:round N`.
    */
  private def settle(g: Supersteps.PushGraph, p: Supersteps.Program, name: String): Supersteps.Pushed = {
    var s = g.round(Degree, Undirected, g.start(_ => 1.0))
    var before = -1.0
    var rounds = 0
    while (s.total != before) {
      before = s.total
      rounds += 1
      audit(s"$name:round $rounds")
      s = g.round(p, Undirected, s)
    }
    s
  }

  /** [[coreness]]'s round: an estimate falls to the h-index of the
    * neighbors' estimates, if that is lower.
    */
  private val HIndex = new Supersteps.Tally {
    def send(x: Double, deg: Int): Double = x
    def update(old: Double, h: Supersteps.Histogram): Double = {
      // down the values; once a value is at most `best`, none below can raise it
      var i = h.size - 1
      var atLeast = 0L
      var best = 0L
      while (i >= 0 && h.value(i) > best) {
        atLeast += h.count(i)
        best = math.max(best, math.min(h.value(i), atLeast))
        i -= 1
      }
      math.min(old, best.toDouble)
    }
  }

  /** Driver-side coreness twin over the intake's `adj`: for k = 1, 2, …
    * the vertices the k-core peel removes from the (k−1)-core have
    * coreness k.
    */
  private def localCoreness(spark: SparkSession, adj: Csr): DataFrame = {
    import spark.implicits._
    val p = new Peel(adj)
    val core = new Array[Long](p.deg.length)
    var (k, left) = (1, core.length)
    while (left > 0) {
      p.upTo(k) { i => core(i) = k; left -= 1 }
      k += 1
    }
    p.g.keys.toSeq.zip(core).toDF("vertex", "coreness")
  }

  /** Densest subgraph, 2.2-approx (Charikar 2000's greedy peel in the
    * parallel threshold form of Bahmani, Kumar & Vassilvitskii 2012):
    * each round removes EVERY vertex whose degree is ≤ 2(1+ε)·(m/n)
    * with ε = 0.1, and with it any vertex left with no neighbor; the
    * answer is the vertex set of the densest round's graph (max m/n;
    * earliest round on ties), each vertex carrying the rounded density.
    * The threshold compare is INTEGER — keep iff 10·deg·n > 22·m — and
    * the best-round pick an exact cross-multiply, so both executors
    * peel and pick identically with zero FP until the single final
    * round(m/n, 6). Rounds are O(log n): at most n/1.1 vertices can
    * exceed 1.1× the average degree, so the vertex set shrinks
    * geometrically. Only each round's (n, m) and each vertex's removal
    * round are kept: the best round's graph is the vertices removed
    * after it. The edges are read once ([[loopFree]]); at or below
    * `maxLocalEdges` the driver twin peels them ([[localDensest]]).
    * Above it, a tally program on the push kernel ([[Supersteps.push]],
    * symmetric closure): a vertex's state is its live degree, and once
    * removed, minus its removal round ([[densestPeel]]); a round's job
    * returns the next round's n (live count) and 2m (total). Each round
    * is audited as `densest:round N`.
    */
  def densestSubgraph(edges: DataFrame,
      maxLocalEdges: Long = LocalEdgeThreshold): DataFrame =
    loopFree(undirected(edges), maxLocalEdges, "densestSubgraph") match {
      case Left(adj) => localDensest(edges.sparkSession, adj)
      case Right(in) =>
        Supersteps.push(edges.sparkSession, in, "densest", Seq(Undirected), hubOutDegree = 0L) { g =>
          var s = g.round(Degree, Undirected, g.start(_ => 1.0))
          val stats = mutable.ArrayBuffer.empty[(Long, Long)]
          while (s.total > 0) {
            val (n, m) = (s.live, s.total.toLong / 2)
            stats += ((n, m))
            audit(s"densest:round ${stats.length}")
            s = g.round(densestPeel(n, m, stats.length), Undirected, s)
          }
          val (best, density) = densestRound(stats.toSeq)
          g.result(("removed", s, 1.0)).where(col("removed") < -best)
            .select(col("vertex"), lit(density).as("density"))
        }
    }

  /** [[densestSubgraph]]'s round `r` over n live vertices and m live
    * edges: a vertex is kept iff 10·deg·n > 22·m, i.e. deg > ⌊22m/10n⌋,
    * and sends 1 if kept. A kept vertex that receives 1s takes their
    * count; any other live vertex takes −r; a removed one keeps its
    * state.
    */
  private def densestPeel(n: Long, m: Long, r: Int): Supersteps.Tally = {
    val cut = (BigInt(22) * m / (BigInt(10) * n)).toDouble
    new Supersteps.Tally {
      def send(x: Double, deg: Int): Double = if (x > cut) 1.0 else 0.0
      def update(old: Double, h: Supersteps.Histogram): Double = {
        val kept = (0 until h.size).filter(h.value(_) == 1L).map(h.count).sum
        if (old <= 0) old else if (old > cut && kept > 0) kept.toDouble else -r.toDouble
      }
    }
  }

  /** The densest of a peel's (n, m) rounds — the exact-rational argmax
    * of m/n, earliest on ties — and its m/n as Spark's round(x, 6);
    * (0, 0.0) if there were none.
    */
  private def densestRound(stats: Seq[(Long, Long)]): (Int, Double) =
    if (stats.isEmpty) (0, 0.0)
    else {
      val best = stats.indices.reduceLeft { (a, b) =>
        if (BigInt(stats(b)._2) * stats(a)._1 > BigInt(stats(a)._2) * stats(b)._1) b else a
      }
      (best, round6(stats(best)._2.toDouble / stats(best)._1.toDouble))
    }

  /** Driver-side densest-subgraph twin over the intake's `adj`: the
    * identical threshold peel, each vertex tagged with the round it
    * leaves, and the same round pick.
    */
  private def localDensest(spark: SparkSession, adj: Csr): DataFrame = {
    import spark.implicits._
    val p = new Peel(adj)
    val leftAt = Array.fill(p.deg.length)(Int.MaxValue)
    var live = p.deg.indices.toArray
    var (n, m) = (live.length.toLong, adj.vals.length.toLong)
    val stats = mutable.ArrayBuffer.empty[(Long, Long)]
    while (m > 0) {
      stats += ((n, m))
      val out = live.filter(i => BigInt(p.deg(i)) * 10 * n <= BigInt(22) * m)
      out.foreach(i => p.remove(i)(_ => ()))
      // a kept vertex whose every neighbor left leaves in this round too
      live.foreach(i => if (p.gone(i) || p.deg(i) == 0) { p.gone(i) = true; leftAt(i) = stats.length })
      live = live.filterNot(p.gone)
      n = live.length
      m = live.map(p.deg(_).toLong).sum / 2
    }
    val (best, density) = densestRound(stats.toSeq)
    p.g.keys.indices.filter(leftAt(_) > best).map(i => (p.g.keys(i), density)).toDF("vertex", "density")
  }

  /** Driver-side k-core twin over the intake's `adj`: peels every vertex
    * of degree < k, cascading, and keeps the rest with their degrees.
    */
  private def localKCore(spark: SparkSession, adj: Csr, k: Int): DataFrame = {
    import spark.implicits._
    val p = new Peel(adj)
    p.upTo(k - 1)(_ => ())
    p.g.keys.indices.filterNot(p.gone).map(i => (p.g.keys(i), p.deg(i).toLong)).toDF("vertex", "core_deg")
  }

  /** k-truss decomposition of the undirected simple graph: the maximal
    * subgraph in which every edge closes ≥ k−2 triangles *within the
    * subgraph* — the standard cohesion refinement one notch above
    * k-core (Cohen's definition). Returns the surviving edges with
    * their final in-truss support.
    *
    * Distributed shape: a monotone prune-to-fixpoint loop, as
    * [[kCore]]'s peel is, but each round's metric is per-EDGE triangle
    * support — the low→high oriented wedge join of [[triangleCounts]] (each
    * triangle a<b<c enumerated once, crediting its three edges),
    * never an all-pairs product. The edge set only shrinks, so rounds
    * ≤ |E| with one checkpointed wedge join + semi-join per round;
    * driver twin at or below `maxLocalEdges` ([[simpleEdges]]; spec
    * pins both paths identical). Requires k ≥ 3 (at k ≥ 3 every
    * surviving edge closes a triangle, so the final support join is
    * inner).
    */
  def kTruss(edges: DataFrame, k: Int, maxRounds: Int = 64,
      maxLocalEdges: Long = LocalEdgeThreshold): DataFrame = {
    require(k >= 3, s"kTruss needs k >= 3, got $k")
    var (e, n) = simpleEdges(undirected(edges), maxLocalEdges, "kTruss") match {
      case Left(adj) => return localKTruss(edges.sparkSession, adj, k)
      case Right((d, c)) => (d.toDF("u", "v"), c)
    }
    def support(ed: DataFrame): DataFrame = {
      val tri = ed.as("x")
        .join(ed.as("y"), col("y.u") === col("x.v"))
        .join(ed.as("z"), col("z.u") === col("x.u") && col("z.v") === col("y.v"))
        .select(col("x.u").as("a"), col("x.v").as("b"), col("y.v").as("c"))
      tri.select(col("a").as("u"), col("b").as("v"))
        .unionAll(tri.select(col("a").as("u"), col("c").as("v")))
        .unionAll(tri.select(col("b").as("u"), col("c").as("v")))
        .groupBy("u", "v").agg(count(lit(1)).as("support"))
    }
    var prev = -1L
    var rounds = 0
    while (n != prev && n > 0 && rounds < maxRounds) {
      rounds += 1
      prev = n
      val keep = support(e).where(col("support") >= k - 2).select("u", "v")
      e = e.join(keep, Seq("u", "v"), "left_semi").localCheckpoint()
      n = e.count()
    }
    require(n == prev || n == 0,
      s"kTruss did not converge in $maxRounds rounds ($n edges live)")
    e.join(support(e), Seq("u", "v")).select(col("u"), col("v"), col("support"))
  }

  /** Driver-side k-truss twin over the intake's `adj`: the identical
    * monotone prune fixpoint, an edge's support being the sorted
    * intersection of its endpoints' neighbors.
    */
  private def localKTruss(spark: SparkSession, adj: Csr, k: Int): DataFrame = {
    import spark.implicits._
    var es = adj.pairs
    var sup = Array.empty[Long]
    var changed = true
    while (changed) {
      val g = symmetric(es)
      sup = es.xs.indices.map { i => var c = 0L; common(g, g.slots(es.xs(i)), g.slots(es.ys(i)))(_ => c += 1); c }.toArray
      val keep = es.xs.indices.filter(sup(_) >= k - 2)
      changed = keep.length != es.size
      es = Pairs(keep.map(es.xs).toArray, keep.map(es.ys).toArray)
    }
    es.xs.indices.map(i => (es.xs(i), es.ys(i), sup(i))).toDF("u", "v", "support")
  }

  /** Per-vertex triangle participation counts over the undirected
    * simple graph. Edges are oriented low→high so each triangle is
    * enumerated exactly once (a<b<c) — the standard shuffle-minimal
    * formulation; the wedge join is the only heavy stage. Driver twin
    * at or below `maxLocalEdges` ([[simpleEdges]]).
    */
  def triangleCounts(edges: DataFrame,
      maxLocalEdges: Long = LocalEdgeThreshold): DataFrame = {
    val u = simpleEdges(undirected(edges), maxLocalEdges, "triangleCounts") match {
      case Left(adj) => return localTriangles(edges.sparkSession, adj)
      case Right((d, _)) => d.toDF("a", "b")
    }
    val tri = u.as("x")
      .join(u.as("y"), col("y.a") === col("x.b"))
      .join(u.as("z"), col("z.a") === col("x.a") && col("z.b") === col("y.b"))
      .select(col("x.a").as("a"), col("x.b").as("b"), col("y.b").as("c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val counts = tri.select(col("a").as("vertex"))
      .unionAll(tri.select(col("b")))
      .unionAll(tri.select(col("c")))
      .groupBy("vertex").agg(count(lit(1)).as("n_tri"))
    val out = counts.localCheckpoint()
    tri.unpersist(blocking = true)
    releaseReads(u)
    out
  }

  /** Local clustering coefficient per vertex of the undirected simple
    * graph: cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) with deg(v) the
    * distinct-neighbor count; vertices with deg < 2 score 0. Reuses
    * the low→high triangle enumeration of [[triangleCounts]] (the
    * wedge join is the only heavy stage) plus one degree aggregation;
    * the coefficient itself is a single double division over exact
    * integer counts, so values are engine-exact at 6 dp.
    */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val u = undirected(edges).toDF("a", "b").where(col("a") =!= col("b")).distinct().localCheckpoint()
    val deg = u.select(col("a").as("vertex")).unionAll(u.select(col("b")))
      .groupBy("vertex").agg(count(lit(1)).as("deg"))
    val tri = triangleCounts(u.select(col("a").as("src"), col("b").as("dst")))
    deg.join(tri, Seq("vertex"), "left")
      .select(col("vertex"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(
          when(col("deg") >= 2,
            (lit(2.0) * coalesce(col("n_tri"), lit(0L))) / (col("deg") * (col("deg") - 1)))
            .otherwise(lit(0.0)),
          6).as("clustering"))
  }

  /** Degree assortativity (Newman 2002 r) of an undirected graph given
    * as a both-orientations edge list: the Pearson correlation of
    * endpoint degrees over directed edge rows. All five moments are
    * exact integer sums, so the fixed double expression over them is
    * engine-exact at 6 dp. Regular graphs (zero degree variance)
    * return NULL rather than NaN.
    *
    * r15 shape: four of the five moments are VERTEX-LOCAL identities
    * on a both-orientations list — each v appears as src exactly
    * deg(v) times, so m = Σd, Σx = Σy = Σd², Σx² = Σy² = Σd³ all come
    * from the degree frame alone. Only Σxy needs the edges:
    * Σxy = Σ_v d(v)·S(v) with S(v) = Σ_{u∈N(v)} d(u), which is ONE
    * degree join onto the edge list + one per-src aggregation — vs
    * the former two full-edge joins + an edge-sized moment aggregate,
    * i.e. a third of the heavy work. `degrees` lets the gate serve
    * the (vertex, deg) frame from the Materialized catalog so
    * repeated calls skip the 2·|E| degree aggregation too.
    */
  /** Degree-frame row bound under which [[assortativity]] broadcasts
    * it into the edge join: 4M (vertex, deg) pairs ≈ 64 MB framed —
    * the session's broadcast threshold. Catalog-served degree frames
    * carry no size statistics (ExistingRDD scans default to
    * Long.MaxValue), so without the probe the planner sort-merges and
    * the FULL both-orientations edge list pays an Exchange just to
    * look up per-endpoint degrees.
    */
  val AssortBroadcastMaxVerts = 4000000L

  def assortativity(undirected: DataFrame,
      degrees: Option[DataFrame] = None): DataFrame = {
    // No edge checkpoint: the gate feeds an already-checkpointed
    // catalog frame, and the single remaining edge consumer (the S(v)
    // join) scans it once (the graph_dfs_leaves lesson). The
    // internally-derived degree frame IS checkpointed — it has three
    // consumers (vm, the dst join, the src join).
    val e = canonEdges(undirected)
    val deg = degrees
      .map(_.select(col("vertex").cast("long").as("v"), col("deg").cast("long").as("d")))
      .getOrElse(
        e.groupBy(col("src").as("v")).agg(count(lit(1)).as("d")).localCheckpoint())
    val vm = deg.agg(
      sum(col("d")).as("m"),
      sum(col("d") * col("d")).as("s2"),
      sum(col("d") * col("d") * col("d")).as("s3"))
    // r21 (guide §3.1/§2.4): the S(v) = Σ_{u∈N(v)} d(u) join is the
    // op's only edge-sized stage. Broadcasting the |V|-sized degree
    // frame removes the edge Exchange entirely — edges are scanned
    // once and partially aggregated map-side on src. One bounded
    // count() on the (usually catalog-backed) degree frame decides;
    // past the bound (vertex counts where a broadcast would not fit
    // on real executors either) the shuffled join stands.
    val degDst = deg.select(col("v").as("dst"), col("d").as("dd"))
    val joined =
      if (deg.limit((AssortBroadcastMaxVerts + 1).toInt).count() <= AssortBroadcastMaxVerts)
        e.join(broadcast(degDst), "dst")
      else e.join(degDst, "dst")
    val sv = joined.groupBy("src").agg(sum(col("dd")).as("sd"))
    val sxy = sv.join(deg.select(col("v").as("src"), col("d")), "src")
      .agg(sum(col("d") * col("sd")).as("sxy"))
    val moms = vm.crossJoin(broadcast(sxy)) // 1-row × 1-row
    val m = col("m").cast("double")
    def d(n: String) = col(n).cast("double")
    // identical double trees to the oracle's (sx = sy = s2,
    // sxx = syy = s3 as exact integer values)
    val num = d("sxy") * m - d("s2") * d("s2")
    val den = sqrt(d("s3") * m - d("s2") * d("s2")) *
      sqrt(d("s3") * m - d("s2") * d("s2"))
    moms.select(coalesce(col("m"), lit(0L)).as("n_edges"),
      round(when(den === 0.0, lit(null)).otherwise(num / den), 6).as("assortativity"))
  }

  /** Per-community modularity decomposition of a vertex labeling over
    * the undirected simple graph: for each community c,
    * q_term(c) = L_c/m − (D_c/2m)² with L_c the internal edge count,
    * D_c the community degree sum, m the total edge count (Newman-
    * Girvan Q = Σ_c q_term). All counts are exact integers (two
    * label joins + two aggregations, each shuffled on vertex id or
    * community); only the final per-community expression is floating,
    * so terms are engine-exact at 6 dp. `m` is a single scalar count
    * folded into the plan as a literal.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val u = undirected(edges).toDF("a", "b").where(col("a") =!= col("b")).distinct().localCheckpoint()
    val m = u.count()
    val lab = labels.select(col("vertex"), col("community")).localCheckpoint()
    val deg = u.select(col("a").as("vertex")).unionAll(u.select(col("b")))
      .groupBy("vertex").agg(count(lit(1)).as("deg"))
    val commStats = deg.join(lab, "vertex").groupBy("community")
      .agg(count(lit(1)).as("n_vertices"), sum(col("deg")).as("degree_sum"))
    val internal = u
      .join(lab.select(col("vertex").as("a"), col("community").as("ca")), "a")
      .join(lab.select(col("vertex").as("b"), col("community").as("cb")), "b")
      .where(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("internal_edges"))
    val ie = coalesce(col("internal_edges"), lit(0L))
    val ds = col("degree_sum").cast("double")
    commStats.join(internal, Seq("community"), "left")
      .select(col("community"), col("n_vertices"), ie.as("internal_edges"),
        col("degree_sum"),
        round(ie.cast("double") / m - (ds / (2.0 * m)) * (ds / (2.0 * m)), 6).as("q_term"))
  }

  /** Strongly connected components of the DIRECTED graph:
    * (vertex, scc) with scc = min vertex id of the component.
    *
    * Distributed path: FW-BW min-label coloring with CLASS REFINEMENT
    * (Orzan 2004 / Hong-Slota): per round, propagate the minimum id
    * forward and backward to fixpoint *within each class*; vertices
    * whose two labels agree form the SCC of that label and peel off,
    * and every remaining (fwd, bwd) label pair becomes its own class
    * for the next round — label pairs cannot collide across classes
    * (labels are vertex ids of the class itself), so refinement is
    * exact. The refinement is the fix for the naive peel's worst case:
    * a chain of K small SCCs with ascending ids peels ONE component
    * per round naively (fwd = global min everywhere), but refines into
    * K singleton-class SCCs in one round here — the planted
    * chain-of-cycles spec pins this. At or below `maxLocalEdges`
    * ([[simpleEdges]]) Kosaraju runs on the driver.
    *
    * `maxRounds` bounds the refinement generations; a remainder that
    * resists that many refinements (each round strictly refines, so
    * this needs an adversarial nesting ≥ maxRounds deep) falls back to
    * driver Kosaraju over its own intake, guarded by `maxLocalEdges` —
    * past both, the op fails loudly rather than grinding.
    */
  def scc(edges: DataFrame, maxLocalEdges: Long = LocalEdgeThreshold,
      maxRounds: Int = 64): DataFrame = {
    val ce = simpleEdges(canonEdges(edges), maxLocalEdges, "scc") match {
      case Left(adj) => return localScc(edges.sparkSession, adj, Supersteps.sortedDistinct(adj.keys ++ adj.vals))
      case Right((d, _)) => d
    }
    val verts = ce.select(col("src").as("v")).unionAll(ce.select(col("dst").as("v")))
      .distinct().localCheckpoint()

    // label(v) ← min id with a directed path to v (following `dir`)
    def minReach(e: DataFrame, vs: DataFrame, srcCol: String, dstCol: String): DataFrame = {
      var lab = vs.withColumn("lab", col("v"))
      var changed = true
      while (changed) {
        val pushed = e.join(lab.withColumnRenamed("v", srcCol), srcCol)
          .groupBy(col(dstCol).as("v")).agg(min(col("lab")).as("plab"))
        val next = lab.join(pushed, Seq("v"), "left")
          .select(col("v"), least(col("lab"), coalesce(col("plab"), col("lab"))).as("lab"))
          .localCheckpoint()
        changed = next.join(lab.withColumnRenamed("lab", "old"), "v")
          .where(col("lab") =!= col("old")).limit(1).count() > 0
        lab = next
      }
      lab
    }

    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // class of v = (cf, cb), refined each round; one initial class
    var cls = verts.select(col("v"), lit(0L).as("cf"), lit(0L).as("cb"))
    var e = ce
    var remaining = verts.count()
    var rounds = 0
    while (remaining > 0 && rounds < maxRounds) {
      rounds += 1
      // restrict edges to within-class: labels must not cross class
      // borders. New classes refine old ones, so the restricted edge
      // set from the previous round can be reused as the input here.
      val eC = e
        .join(cls.select(col("v").as("src"), col("cf").as("f1"), col("cb").as("b1")), "src")
        .join(cls.select(col("v").as("dst"), col("cf").as("f2"), col("cb").as("b2")), "dst")
        .where(col("f1") === col("f2") && col("b1") === col("b2"))
        .select("src", "dst").localCheckpoint()
      val vs = cls.select("v")
      val fwd = minReach(eC, vs, "src", "dst")
      val bwd = minReach(eC, vs, "dst", "src")
      val both = fwd.join(bwd.withColumnRenamed("lab", "blab"), "v").localCheckpoint()
      out += both.where(col("lab") === col("blab"))
        .select(col("v").as("vertex"), col("lab").as("scc"))
      cls = both.where(col("lab") =!= col("blab"))
        .select(col("v"), col("lab").as("cf"), col("blab").as("cb"))
        .localCheckpoint()
      remaining = cls.count()
      e = eC
    }
    if (remaining > 0) {
      // adversarial-depth fallback: the remainder is a strict
      // refinement maxRounds deep — run it on the driver if it fits
      val rem = Supersteps.intake(e
        .join(cls.select(col("v").as("src")), Seq("src"), "left_semi")
        .join(cls.select(col("v").as("dst")), Seq("dst"), "left_semi"), maxLocalEdges, "scc remainder")
      if (rem.local == null) rem.pairs.unpersist(blocking = true)
      require(rem.local != null,
        s"scc: $remaining vertices unresolved after $maxRounds refinement rounds " +
          "and the remainder exceeds the driver fallback threshold")
      out += localScc(edges.sparkSession, Csr(rem.local.xs, rem.local.ys), cls.collect().map(_.getLong(0)).sorted)
    }
    out.reduce(_ unionAll _)
  }

  /** Driver-side Kosaraju twin over the distinct edges `adj` and the
    * sorted vertices `vs`: two iterative DFS passes (finish order on G,
    * assignment on Gᵀ), components relabeled by their minimum vertex id.
    */
  private def localScc(spark: SparkSession, adj: Csr, vs: Array[Long]): DataFrame = {
    import spark.implicits._
    val radj = { val p = adj.pairs; Csr(p.ys, p.xs) }
    // pass 1: iterative DFS finish order on G
    val seen = new java.util.HashSet[Long]()
    val finish = scala.collection.mutable.ArrayBuffer.empty[Long]
    vs.foreach { start =>
      if (!seen.contains(start)) {
        val stack = scala.collection.mutable.Stack[(Long, Int)]((start, 0))
        seen.add(start)
        while (stack.nonEmpty) {
          val (v, i) = stack.pop()
          val ns = adj.slots(v)
          if (i < ns.length) {
            stack.push((v, i + 1))
            val w = adj.vals(ns(i))
            if (!seen.contains(w)) { seen.add(w); stack.push((w, 0)) }
          } else finish += v
        }
      }
    }
    // pass 2: assign components on the reverse graph in reverse finish order
    val comp = new java.util.HashMap[Long, Long]()
    finish.reverseIterator.foreach { root =>
      if (!comp.containsKey(root)) {
        val stack = scala.collection.mutable.Stack[Long](root)
        comp.put(root, root)
        val members = scala.collection.mutable.ArrayBuffer[Long](root)
        while (stack.nonEmpty) {
          val v = stack.pop()
          radj.slots(v).foreach { j =>
            val w = radj.vals(j)
            if (!comp.containsKey(w)) { comp.put(w, root); members += w; stack.push(w) }
          }
        }
        // relabel by the component minimum for a deterministic id
        val mn = members.min
        members.foreach(m => comp.put(m, mn))
      }
    }
    vs.map(v => (v, comp.get(v))).toSeq.toDF("vertex", "scc")
  }

  /** Vertex count above which all-sources exact BFS (closeness /
    * eccentricity) refuses to run: the tagged frontier is
    * O(V · reachable-set) state — inherently quadratic. Above this,
    * [[closeness]]/[[eccentricity]] switch to [[hyperBall]] sketches
    * (O(diameter) rounds of O(V · 2^p) state).
    */
  val ExactAllSourcesVerts: Long = 10000L

  /** splitmix64 — pure-arithmetic 64-bit mix, identical on every JVM
    * and executor (the determinism contract of all graft hashing).
    */
  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** HyperLogLog estimate with the standard small-range linear
    * counting correction (Flajolet et al. 2007). Registers only grow,
    * and callers clamp to the previous estimate, so the per-vertex
    * series is monotone.
    */
  private def hllEstimate(regs: Array[Byte]): Double = {
    val m = regs.length
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      sum += java.lang.Math.pow(2.0, -regs(i).toDouble)
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val e = alpha * m * m / sum
    if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else e
  }

  /** HyperBall (Boldi, Rosa & Vigna, "HyperANF: approximating the
    * neighbourhood function of very large graphs on a budget", WWW
    * 2011): per-vertex HLL sketches of the out-reachability ball,
    * grown one hop per round — B(v,t) = B(v,t−1) ∪ ⋃_{v→u} B(u,t−1) —
    * by element-wise register max. State is O(V · 2^p) bytes and the
    * round count is the graph diameter, which is what makes
    * closeness/eccentricity feasible at 100 TB where the exact
    * all-sources BFS (O(V · reachable-set) frontier state) is not.
    *
    * Per round: one shuffle join (edges ⋈ sketches on dst) + one
    * register-max reduce per src (`reduceGroups` — map-side partial
    * merge) + one outer join back. Deterministic: splitmix64 hashing,
    * no sampling.
    *
    * Returns (vertex, n_reached_est, sum_dist_est, hsum_est, ecc):
    * `sum_dist_est` accumulates t · (|B_t| − |B_{t−1}|) (the
    * closeness denominator), `hsum_est` accumulates
    * (|B_t| − |B_{t−1}|) / t (the harmonic-centrality estimate),
    * `ecc` is the last round v's ball grew.
    */
  def hyperBall(edges: DataFrame, p: Int = 10, maxIter: Int = 256): DataFrame = {
    require(p >= 4 && p <= 16, s"hyperBall register exponent p=$p out of [4,16]")
    val spark = edges.sparkSession
    import spark.implicits._
    val m = 1 << p
    val e = canonEdges(edges).distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val verts = e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v"))).distinct()
    var st = verts.as[Long].map { v =>
      val regs = new Array[Byte](m)
      val h = splitmix64(v)
      val idx = (h & (m - 1)).toInt
      // rank of the remaining bits, sentinel-bounded to ≤ 64−p+1
      val w = (h >>> p) | (1L << (64 - p))
      regs(idx) = (java.lang.Long.numberOfTrailingZeros(w) + 1).toByte
      (v, regs, hllEstimate(regs), 0.0, 0.0, 0L)
    }.toDF("v", "regs", "est", "sum", "hsum", "ecc").localCheckpoint()
    var t = 0
    var active = 1L
    while (active > 0 && t < maxIter) {
      t += 1
      val tt = t
      // neighbor sketches arriving at src, reduced by register max
      val msgs = e.join(st.select(col("v").as("dst"), col("regs")), "dst")
        .select(col("src"), col("regs"))
        .as[(Long, Array[Byte])]
        .groupByKey(_._1)
        .mapValues(_._2)
        .reduceGroups { (a: Array[Byte], b: Array[Byte]) =>
          val r = a.clone()
          var i = 0
          while (i < r.length) { if (b(i) > r(i)) r(i) = b(i); i += 1 }
          r
        }
        .map { case (v, regs) => (v, regs) }
        .toDF("mv", "mregs")
      val next = st.join(msgs, col("v") === col("mv"), "left")
        .select(col("v"), col("regs"), col("est"), col("sum"), col("hsum"),
          col("ecc"), col("mregs"))
        .as[(Long, Array[Byte], Double, Double, Double, Long, Array[Byte])]
        .map { case (v, regs, est, sum, hsum, ecc, mregs) =>
          if (mregs == null) (v, regs, est, sum, hsum, ecc, false)
          else {
            var changed = false
            val merged = regs.clone()
            var i = 0
            while (i < merged.length) {
              if (mregs(i) > merged(i)) { merged(i) = mregs(i); changed = true }
              i += 1
            }
            if (!changed) (v, regs, est, sum, hsum, ecc, false)
            else {
              // clamp: the LC→raw estimator handoff is not perfectly
              // monotone even though registers are
              val ne = math.max(hllEstimate(merged), est)
              (v, merged, ne, sum + tt * (ne - est), hsum + (ne - est) / tt,
                tt.toLong, true)
            }
          }
        }
        .toDF("v", "regs", "est", "sum", "hsum", "ecc", "changed")
        .localCheckpoint()
      active = next.where(col("changed")).count()
      st = next.drop("changed")
    }
    e.unpersist()
    st.select(col("v").as("vertex"), col("est").as("n_reached_est"),
      col("sum").as("sum_dist_est"), col("hsum").as("hsum_est"), col("ecc"))
  }

  /** All-sources exact BFS stats — every vertex a tag of one
    * multi-source tagged BFS. O(V · reachable-set) frontier state:
    * correct, and only sane sub-threshold (see [[ExactAllSourcesVerts]]).
    */
  private def allSourcesExact(edges: DataFrame): DataFrame = {
    val e = canonEdges(edges).localCheckpoint()
    val sources = e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v")))
      .distinct()
      .select(col("v").as("vertex"), col("v").as("tag"))
    bfs(e, sources)
      .groupBy(col("tag").as("vertex"))
      .agg(count(lit(1)).as("n_reached"), sum(col("level")).as("sum_dist"),
        max(col("level")).cast("long").as("ecc"))
  }

  /** Out-closeness centrality, adaptive: exact all-sources BFS up to
    * [[ExactAllSourcesVerts]] vertices (integer hop sums — the oracle
    * path), HyperBall sketches above (same schema, estimated counts).
    * (vertex, n_reached, closeness = (reached−1)/Σdist, 0 when nothing
    * is reached.)
    */
  def closeness(edges: DataFrame, maxExactVerts: Long = ExactAllSourcesVerts): DataFrame = {
    val e = canonEdges(edges).localCheckpoint()
    val nv = e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v")))
      .distinct().count()
    if (nv <= maxExactVerts)
      allSourcesExact(e)
        .select(col("vertex"), col("n_reached"),
          when(col("sum_dist") > 0,
            round((col("n_reached") - 1) / col("sum_dist"), 6))
            .otherwise(lit(0.0)).as("closeness"))
    else
      hyperBall(e)
        .select(col("vertex"),
          round(col("n_reached_est")).cast("long").as("n_reached"),
          when(col("sum_dist_est") > 0,
            round((col("n_reached_est") - 1) / col("sum_dist_est"), 6))
            .otherwise(lit(0.0)).as("closeness"))
  }

  /** Out-eccentricity (+ reachable count), adaptive like [[closeness]]:
    * exact sub-threshold, HyperBall sketch ecc (last round the ball
    * grew) above. (vertex, n_reached, ecc.)
    */
  def eccentricity(edges: DataFrame, maxExactVerts: Long = ExactAllSourcesVerts): DataFrame = {
    val e = canonEdges(edges).localCheckpoint()
    val nv = e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v")))
      .distinct().count()
    if (nv <= maxExactVerts)
      allSourcesExact(e).select(col("vertex"), col("n_reached"), col("ecc"))
    else
      hyperBall(e)
        .select(col("vertex"),
          round(col("n_reached_est")).cast("long").as("n_reached"), col("ecc"))
  }

  /** Harmonic centrality, adaptive like [[closeness]]:
    * h(v) = Σ_{u reachable, u≠v} 1/d(v,u) — the centrality that stays
    * well-defined on disconnected graphs (unreachable pairs contribute
    * 0, not ∞). Exact path: the same all-sources tagged BFS, counts
    * grouped per (vertex, level); each level's term cnt/d is one IEEE
    * division of exact integers ROUNDed to 9 dp and summed as an exact
    * DECIMAL — decimal addition commutes, so the sum is independent of
    * aggregation order and engine-identical (a raw double Σ 1/d would
    * depend on shuffle arrival order). Above the vertex threshold:
    * [[hyperBall]]'s hsum_est, which accumulates (|B_t|−|B_{t−1}|)/t.
    */
  def harmonic(edges: DataFrame, maxExactVerts: Long = ExactAllSourcesVerts): DataFrame = {
    val e = canonEdges(edges).localCheckpoint()
    val nv = e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v")))
      .distinct().count()
    if (nv <= maxExactVerts) {
      val sources = e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v")))
        .distinct().select(col("v").as("vertex"), col("v").as("tag"))
      val lv = bfs(e, sources)
        .groupBy(col("tag"), col("level")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val nr = lv.groupBy(col("tag").as("vertex")).agg(sum("cnt").as("n_reached"))
      val h = lv.where(col("level") > 0)
        .withColumn("term",
          round(col("cnt") / col("level"), 9).cast("decimal(28,9)"))
        .groupBy(col("tag").as("vertex")).agg(sum(col("term")).as("hs"))
      nr.join(h, Seq("vertex"), "left")
        .select(col("vertex"), col("n_reached"),
          round(coalesce(col("hs"), lit(0)).cast("double"), 6).as("harmonic"))
    } else
      hyperBall(e).select(col("vertex"),
        round(col("n_reached_est")).cast("long").as("n_reached"),
        round(col("hsum_est"), 6).as("harmonic"))
  }

  /** Synchronous label propagation (community detection), fully
    * deterministic: every vertex starts as its own label; each round,
    * a vertex adopts the most frequent label among its undirected
    * neighbors (ties → smallest label). Fixed iteration count — the
    * classic async LPA is run-order dependent, the sync+min-tie
    * variant is reproducible and oracle-able. One count aggregation +
    * one top-1 reduction per round over both orientations of the
    * distinct edges; driver twin at or below `maxLocalEdges`
    * ([[simpleEdges]]).
    */
  def labelPropagation(edges: DataFrame, iters: Int,
      maxLocalEdges: Long = LocalEdgeThreshold): DataFrame = {
    val und = simpleEdges(undirected(edges), maxLocalEdges, "labelPropagation") match {
      case Left(adj) => return localLpa(edges.sparkSession, adj, iters)
      case Right((u, _)) => u.toDF("a", "b").unionAll(u.select(col("dst"), col("src")))
    }
    val verts = und.select(col("a").as("v")).distinct().localCheckpoint()
    var labels = verts.withColumn("lab", col("v"))
    for (_ <- 1 to iters) {
      val counts = und
        .join(labels.withColumnRenamed("v", "b"), "b")
        .groupBy(col("a").as("v"), col("lab")).agg(count(lit(1)).as("c"))
      // top-1 by (count desc, label asc) via max on a packed struct —
      // one aggregation, no window sort
      labels = counts
        .groupBy("v")
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("v"), (-col("m.nl")).as("lab"))
        .localCheckpoint()
    }
    labels.select(col("v").as("vertex"), col("lab").as("community"))
  }

  /** Driver-side sync-LPA twin over the symmetric closure of the
    * intake's `adj`: a vertex takes its neighbors' most frequent label,
    * the smallest on ties.
    */
  private def localLpa(spark: SparkSession, adj: Csr, iters: Int): DataFrame = {
    import spark.implicits._
    val g = symmetric(adj.pairs)
    val nb = g.vals.map(java.util.Arrays.binarySearch(g.keys, _))
    var lab = g.keys
    for (_ <- 1 to iters) {
      val cur = lab
      lab = Array.tabulate(g.keys.length) { i =>
        (g.offs(i) until g.offs(i + 1)).groupBy(j => cur(nb(j))).minBy { case (l, js) => (-js.size, l) }._1
      }
    }
    g.keys.toSeq.zip(lab).toDF("vertex", "community")
  }

  /** HITS hubs & authorities (Kleinberg 1999), fixed iteration count
    * with L1 normalization after each half-step: starting from h=1,
    * each round computes a(v) = Σ_{u→v} h(u) (then a ← a/Σa) and
    * h(v) = Σ_{v→u} a(u) (then h ← h/Σh). Sum-normalization keeps the
    * oracle a plain unrolled CTE chain (no sqrt). Each half-step is one
    * [[Supersteps.push]] round, along the edges then against them; its
    * job returns the L1 total, and the next half-step sends its scores
    * divided by it. Callers round (6 dp) — normalization noise is ~1e-15.
    */
  def hits(edges: DataFrame, iters: Int,
      maxLocalEdges: Long = LocalEdgeThreshold, hubOutDegree: Long = 0L): DataFrame = {
    import Supersteps.{Forward, Reverse}
    Supersteps.push(canonEdges(edges), maxLocalEdges, "hits", Seq(Forward, Reverse), hubOutDegree) { g =>
      def half(along: Supersteps.Dir, s: Supersteps.Pushed, norm: Double) = g.round(new Supersteps.Push {
        def send(x: Double, deg: Int): Double = x / norm
        def update(v: Long, in: Double): Double = in
      }, along, s)
      var h = g.start(_ => 1.0)
      var a = h
      var hNorm = 1.0 // h = 1 starts unnormalized
      var aNorm = 1.0
      for (_ <- 1 to iters) {
        a = half(Forward, h, hNorm); aNorm = a.total // authority ← in-edge hub mass
        h = half(Reverse, a, aNorm); hNorm = h.total // hub ← out-edge authority mass
      }
      g.result(("authority", a, aNorm), ("hub", h, hNorm))
    }
  }

  /** Link prediction over the undirected simple graph: for every
    * non-adjacent pair a<b with ≥1 common neighbor, the three classic
    * scores — common-neighbor count, Jaccard of neighborhoods, and
    * Adamic-Adar (Σ 1/ln deg(z) over common neighbors z). The heavy
    * stage is the wedge self-join (same shape as triangle counting:
    * shuffle on the shared-neighbor id); degrees broadcast. Scores are
    * pure functions of the neighborhood sets — no iteration.
    */
  def linkPrediction(edges: DataFrame): DataFrame = {
    val ce = canonEdges(edges).localCheckpoint() // one derivation, two branches
    val und = ce
      .select(col("src").as("a"), col("dst").as("b"))
      .unionAll(ce.select(col("dst"), col("src")))
      .where(col("a") =!= col("b")).distinct().localCheckpoint()
    val deg = und.groupBy(col("a").as("v")).agg(count(lit(1)).as("d"))
    val wedges = und.as("x").join(und.as("y"),
        col("x.b") === col("y.b") && col("x.a") < col("y.a"))
      .join(deg.withColumnRenamed("v", "z"), col("z") === col("x.b"))
      .groupBy(col("x.a").as("a"), col("y.a").as("b"))
      .agg(count(lit(1)).as("cn"), sum(lit(1.0) / log(col("d"))).as("aa"))
    wedges.join(und.select(col("a"), col("b")), Seq("a", "b"), "left_anti")
      .join(broadcast(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da")), "a")
      .join(broadcast(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db")), "b")
      .select(col("a"), col("b"), col("cn"),
        round(col("cn") / (col("da") + col("db") - col("cn")), 6).as("jaccard"),
        round(col("aa"), 6).as("adamic_adar"))
  }

  /** Driver-side triangle-count twin over the intake's `adj` (a → its
    * higher neighbors, sorted): each triangle a<b<c is counted once, at
    * edge (a, b), from the intersection of a's and b's higher neighbors.
    */
  private def localTriangles(spark: SparkSession, adj: Csr): DataFrame = {
    import spark.implicits._
    val counts = mutable.LongMap.empty[Long].withDefaultValue(0L)
    adj.foreachSlot { (a, j) =>
      val b = adj.vals(j)
      common(adj, adj.slots(a), adj.slots(b)) { c => counts(a) += 1; counts(b) += 1; counts(c) += 1 }
    }
    counts.toSeq.toDF("vertex", "n_tri")
  }

  /** Deterministic seeded random walks — the corpus-sampling primitive
    * under DeepWalk/node2vec-style graph embeddings. Each walk steps
    * to the out-neighbor minimizing an integer hash of
    * (vertex, candidate, step, walk_id): a seeded shuffle, so walks
    * are reproducible at any scale and on any executor layout — no
    * `rand()`, no driver state. Dead ends simply end the walk.
    *
    * Shape per step: positions ⋈ edges on the current vertex, then an
    * argmin (min of a (hash, dst) struct) per walk — at scale that is
    * one shuffle join on `src` per step with positions ~ |walks|, the
    * standard distributed walk-sampling plan; here AQE broadcasts the
    * tiny position frame. Each step is checkpointed so the per-step
    * frames union lazily without re-deriving the chain.
    *
    * @param walks (walk_id, seed-vertex) pairs; walk_id feeds the hash
    *              so multiple walks from one seed diverge.
    */
  def randomWalks(edges: DataFrame, walks: Seq[(Long, Long)], len: Int): DataFrame = {
    require(walks.nonEmpty, "randomWalks needs at least one walk")
    val spark = edges.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.LongType
    // Duplicate edges cannot change an argmin, so no distinct() pass.
    val e = edges.select(col("src").cast(LongType).as("src"),
      col("dst").cast(LongType).as("dst"))
    var pos = walks.toDF("walk_id", "seed")
      .select(col("walk_id"), col("seed"), lit(0).as("step"), col("seed").as("vertex"))
    val frames = scala.collection.mutable.Buffer(pos)
    for (step <- 1 to len) {
      val h = (col("vertex") * 1000003L + col("dst") * 7919L
        + lit(step.toLong) * 104729L + col("walk_id") * 31L) % 999983L
      pos = pos.join(e, col("vertex") === col("src"))
        .groupBy(col("walk_id"), col("seed"))
        .agg(min(struct(h.as("h"), col("dst"))).as("m"))
        .select(col("walk_id"), col("seed"), lit(step).as("step"),
          col("m.dst").as("vertex"))
        .localCheckpoint()
      frames += pos
    }
    frames.reduce(_ unionAll _)
  }

  /** Source budget for sampled betweenness above
    * [[ExactAllSourcesVerts]] vertices: Brandes dependencies from the
    * `k` lowest-id vertices, scaled by `nv/k` — the standard
    * sampled-source estimator (Brandes & Pich 2007 pivot scheme with
    * a deterministic pivot set, so the result is reproducible and
    * layout-independent). Exact betweenness is Θ(V·E) — at 100 TB the
    * sampled estimator IS the production contract, same adaptive
    * shape as [[closeness]]'s exact/HyperBall split.
    */
  val BetweennessSampleSources: Int = 64

  /** Salt for the deterministic pivot draw (specs replicate the order
    * with the same xxhash64 call).
    */
  val BetweennessPivotSeed: String = "graft-bc-pivot"

  /** Betweenness centrality (directed, unweighted): for each vertex v
    * the sum over source/target pairs of the fraction of shortest
    * paths through v. Adaptive on BOTH axes, like [[closeness]]:
    *  - sources: all vertices while `nv ≤ maxExactVerts` (exact — the
    *    oracle path), else [[BetweennessSampleSources]] pivots in
    *    seeded-HASH order (the first k by xxhash64 — a deterministic
    *    uniform draw, the sampling family's trick) with dependencies
    *    scaled by nv/k. Hash order, NOT lowest-id: Brandes–Pich
    *    assumes uniform pivots, and real id spaces encode structure
    *    (crawl order, community blocks), so an id-prefix pivot set is
    *    systematically biased — measured on the planted community
    *    graph, the id-prefix estimator's normalized error was 0.44
    *    where the hash draw's is 0.11 (GraphSpec pins ≤ 0.25 plus
    *    top-20 relative error and bridge recovery);
    *  - execution: driver-local Brandes at or below `maxLocalEdges`
    *    ([[simpleEdges]]; its vertices, exact sources and rows come
    *    from the intake — the reference's whole-matrix-per-query
    *    regime, secondary_server.c:126-137), else the distributed
    *    level-synchronous forward σ-BFS + backward dependency sweep
    *    ([[distBrandes]]) — 2·diameter shuffle rounds, frontier-sized
    *    state, nothing driver-side but the source list. Both paths
    *    are output-identical (spec-pinned by forcing
    *    maxLocalEdges = 0).
    *
    * Output: (vertex, betweenness, n_sources) over all vertices;
    * betweenness is 6-dp-rounded (engine-independent vs the oracle's
    * pair-formula fold: Σ σ_sv·σ_vt/σ_st over pairs with
    * d(s,v)+d(v,t)=d(s,t), the Brandes-dependency identity).
    * Self-loops and duplicate edges are dropped: shortest-path
    * multiplicity is a simple-graph notion.
    */
  def betweenness(edges: DataFrame,
      maxExactVerts: Long = ExactAllSourcesVerts,
      maxLocalEdges: Long = LocalEdgeThreshold,
      sampleSources: Int = BetweennessSampleSources,
      hubOutDegree: Long = 0L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // source list is driver-state by design: ≤ maxExactVerts ids when
    // exact, ≤ sampleSources when sampled — never corpus-sized
    def pivots(verts: DataFrame): Array[Long] = verts
      .orderBy(xxhash64(lit(BetweennessPivotSeed), col("v")), col("v"))
      .limit(sampleSources).collect().map(_.getLong(0))
    val (e, eCount) = simpleEdges(canonEdges(edges), maxLocalEdges, "betweenness") match {
      case Left(adj) =>
        val vs = Supersteps.sortedDistinct(adj.keys ++ adj.vals)
        val srcArr = if (vs.length <= maxExactVerts) vs else pivots(vs.toSeq.toDF("v"))
        val dep = localBrandes(adj, srcArr)
        val scale = vs.length.toDouble / srcArr.length
        return vs.toSeq.map(v => (v, round6(dep.getOrElse(v, 0.0) * scale), srcArr.length.toLong))
          .toDF("vertex", "betweenness", "n_sources")
      case Right(d) => d
    }
    val verts = e.select(col("src").as("v"))
      .unionAll(e.select(col("dst").as("v"))).distinct().localCheckpoint()
    val nv = verts.count()
    val srcArr = if (nv <= maxExactVerts) verts.collect().map(_.getLong(0)).sorted else pivots(verts)
    val scale = nv.toDouble / srcArr.length
    val dep = distBrandes(e, eCount, srcArr, hubOutDegree)
    verts.join(dep, verts("v") === dep("vertex"), "left")
      .select(verts("v").as("vertex"),
        round(coalesce(col("dep"), lit(0.0)) * lit(scale), 6).as("betweenness"),
        lit(srcArr.length.toLong).as("n_sources"))
  }

  /** Driver-side Brandes twin (Brandes 2001, Alg. 1) for
    * sub-threshold graphs: per source, one σ-counting BFS, then the
    * backward accumulation δ(w) += σ_w/σ_v · (1+δ(v)) over
    * shortest-path-DAG out-edges (dist(v) = dist(w)+1 — no
    * predecessor lists needed with out-adjacency at hand), over the
    * distinct edges `adj`. Returns vertex → Σ_sources δ, zero entries
    * omitted.
    */
  private def localBrandes(adj: Csr, sources: Array[Long]): mutable.LongMap[Double] = {
    val total = mutable.LongMap.empty[Double]
    sources.foreach { s =>
      val dist = new java.util.HashMap[Long, Int]()
      val sigma = new java.util.HashMap[Long, Double]()
      val order = scala.collection.mutable.ArrayBuffer.empty[Long]
      dist.put(s, 0); sigma.put(s, 1.0)
      var q = scala.collection.mutable.Queue(s)
      while (q.nonEmpty) {
        val v = q.dequeue()
        order += v
        val dv = dist.get(v)
        adj.slots(v).foreach { j =>
          val w = adj.vals(j)
          if (!dist.containsKey(w)) { dist.put(w, dv + 1); q += w }
          if (dist.get(w) == dv + 1)
            sigma.merge(w, sigma.get(v), _ + _)
        }
      }
      val dep = new java.util.HashMap[Long, Double]()
      order.reverseIterator.foreach { w =>
        val dw = dist.get(w)
        var acc = 0.0
        adj.slots(w).foreach { j =>
          val v = adj.vals(j)
          if (dist.containsKey(v) && dist.get(v) == dw + 1)
            acc += (1.0 + dep.getOrDefault(v, 0.0)) / sigma.get(v)
        }
        if (acc != 0.0) dep.put(w, acc * sigma.get(w))
      }
      dep.forEach((v, d) => if (v != s) total(v) = total.getOrElse(v, 0.0) + d)
    }
    total
  }

  /** Distributed Brandes: forward level-synchronous σ-BFS (the [[bfs]]
    * loop carrying per-(tag, vertex) shortest-path counts — the
    * frontier join aggregates σ by destination, which IS the σ
    * recurrence since all shortest-path predecessors sit in the
    * previous frontier), then the backward dependency sweep one level
    * at a time over the SAME per-level checkpointed frames: each
    * backward step joins level-(l+1) vertices carrying
    * (1+δ)/σ against reversed edges and multiplies into level-l σ.
    * Geometry per direction mirrors [[bfs]]: broadcast-sized frontiers
    * join the cached edge frame shuffle-free; the first
    * super-broadcast level re-persists edges hash-partitioned on the
    * join side (src forward / dst backward — the [[hits]] twin-cache
    * trade), after which only frontier-sized frames move per level.
    * Driver state: nothing but loop counters.
    */
  private def distBrandes(e: DataFrame, eCount: Long, sources: Array[Long],
      hubOutDegree: Long): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    var srcSplit: HubSplit = null
    var dstSplit: HubSplit = null
    def bySrc(): HubSplit = {
      if (srcSplit == null) {
        val eBySrc = e.repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
        eBySrc.count()
        val od = eBySrc.groupBy("src").agg(count(lit(1)).as("od"))
        srcSplit = hubSplit(eBySrc, eCount, od, hubOutDegree)
        audit("brandes:eBySrc:MEMORY_AND_DISK")
      }
      srcSplit
    }
    // The backward copy is DISK_ONLY like [[hits]]'s: one sequential
    // read per level, and the sweep's memory footprint stays one
    // edges-sized frame (`e`) after the forward copy is released.
    // Both copies get the [[hubSplit]] peel on their own join key
    // (out-degree forward, IN-degree backward).
    def byDst(): HubSplit = {
      if (dstSplit == null) {
        val eByDst = e.repartition(col("dst")).persist(StorageLevel.DISK_ONLY)
        eByDst.count()
        val ind = eByDst.groupBy("dst").agg(count(lit(1)).as("od"))
        dstSplit = hubSplit(eByDst, eCount, ind, hubOutDegree,
          key = "dst", tailLevel = StorageLevel.DISK_ONLY)
        audit("brandes:eByDst:DISK_ONLY")
      }
      dstSplit
    }
    // frontier×edges rows over whichever layout exists, keyed by the
    // direction's join column (src forward, dst backward); probeKey is
    // the frontier column the edges key matches
    def expand(f: DataFrame, broadcastSide: Boolean, forward: Boolean,
        probeKey: String, project: (DataFrame, DataFrame) => DataFrame): DataFrame = {
      val key = if (forward) "src" else "dst"
      val built = if (forward) srcSplit else dstSplit
      if (built == null && broadcastSide) {
        val fb = broadcast(f)
        return project(e.join(fb, e(key) === fb(probeKey)), fb)
      }
      val hs = if (forward) bySrc() else byDst()
      val fb = if (broadcastSide) broadcast(f) else f
      val tailRows = project(hs.tail.join(fb, hs.tail(key) === fb(probeKey)), fb)
      hs.hub match {
        case None => tailRows
        case Some(hubE) =>
          val hubF = broadcast(f.join(
            broadcast(hs.hubDeg.get.select(col(key).as(probeKey))),
            Seq(probeKey), "left_semi"))
          tailRows.unionAll(
            project(hubE.join(hubF, hubE(key) === hubF(probeKey)), hubF))
      }
    }
    // forward: levels(l) = (tag, vertex, sigma) checkpointed per level
    var frontier = sources.toSeq.toDF("tag")
      .select(col("tag"), col("tag").as("vertex"), lit(1.0).as("sigma"))
      .coalesce(1).localCheckpoint()
    var rows = frontier.count()
    val levels = scala.collection.mutable.ArrayBuffer(frontier)
    val levelRows = scala.collection.mutable.ArrayBuffer(rows)
    // visited compaction as in [[bfs]]: bounded anti-join plan depth
    val CompactEvery = 8
    var visitedBase = frontier.select("tag", "vertex")
    val recent = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    while (rows > 0) {
      val visited = (visitedBase +: recent.toSeq).reduce(_ unionAll _)
      val small = rows <= broadcastFrontier
      val nextRaw = expand(frontier, small, forward = true, probeKey = "vertex",
          (j, _) => j.select(col("tag"), col("dst").as("vertex"), col("sigma")))
        .groupBy("tag", "vertex").agg(sum("sigma").as("sigma"))
        .join(visited, Seq("tag", "vertex"), "left_anti")
      val next = (if (rows <= 1000000) nextRaw.coalesce(1) else nextRaw)
        .localCheckpoint()
      rows = next.count()
      if (rows > 0) {
        levels += next
        levelRows += rows
        recent += next.select("tag", "vertex")
        if (recent.size >= CompactEvery) {
          visitedBase = (visitedBase +: recent.toSeq).reduce(_ unionAll _)
            .coalesce(math.max(1, e.rdd.getNumPartitions / 4)).localCheckpoint()
          recent.clear()
        }
      }
      frontier = next
    }
    // backward: δ at the deepest level is 0; each shallower level's
    // δ_u = σ_u · Σ_{u→w, w one level deeper} (1+δ_w)/σ_w.
    // The forward (by-src) copy is dead from here — the sweep joins on
    // dst only — so release it BEFORE the backward loop (r13): the
    // sweep's cache peak is one memory edges frame + the disk-resident
    // by-dst copy, not three edges-sized frames.
    if (srcSplit != null) {
      srcSplit.unpersistAll()
      srcSplit = null
      audit("brandes:eBySrc:released")
    }
    audit("brandes:backward:start")
    val maxLev = levels.size - 1
    var delta = levels(maxLev)
      .select(col("tag"), col("vertex"), lit(0.0).as("delta"))
      .localCheckpoint()
    val deltaFrames = scala.collection.mutable.ArrayBuffer(delta)
    var l = maxLev - 1
    while (l >= 0) {
      val wd = levels(l + 1).join(delta, Seq("tag", "vertex"))
        .select(col("tag"), col("vertex").as("w"),
          ((lit(1.0) + col("delta")) / col("sigma")).as("m"))
      val small = levelRows(l + 1) <= broadcastFrontier
      val contrib = expand(wd, small, forward = false, probeKey = "w",
          (j, _) => j.select(col("tag"), col("src").as("vertex"), col("m")))
        .groupBy("tag", "vertex").agg(sum("m").as("msum"))
      val dRaw = levels(l).join(contrib, Seq("tag", "vertex"), "left")
        .select(col("tag"), col("vertex"),
          (coalesce(col("msum"), lit(0.0)) * col("sigma")).as("delta"))
      delta = (if (levelRows(l) <= 1000000) dRaw.coalesce(1) else dRaw)
        .localCheckpoint()
      deltaFrames += delta
      l -= 1
    }
    if (srcSplit != null) srcSplit.unpersistAll()
    if (dstSplit != null) dstSplit.unpersistAll()
    deltaFrames.reduce(_ unionAll _)
      .where(col("vertex") =!= col("tag"))
      .groupBy("vertex").agg(sum("delta").as("dep"))
  }

  /** Weighted single-source shortest paths over a (src, dst, w) edge
    * list with non-negative integer tolls (the reference's traversals,
    * dfs_bfs.h, are unweighted). Contract: (vertex, dist) with dist =
    * minimum total toll from `source`; unreachable vertices absent;
    * `source` at 0, also when it has no edge. A row with a null is
    * dropped; a negative toll, or a distance of 2^53 or more (past what
    * a Double holds exactly), fails the call on every path with one
    * message. The edges are read once, by one weighted
    * [[Supersteps.intake]] job; at or below `maxLocalEdges` rows, driver
    * Dijkstra walks their [[Csr]] ([[localDijkstra]]) with no further
    * job. Above it runs GraphX's Pregel SSSP on the push kernel
    * ([[Supersteps.push]]): a min-merge program ([[Relaxed]]) in which a
    * vertex sends its distance only in the round after it fell, until no
    * distance falls; a round is one Spark job and plans no query
    * (audited as `sssp:round N`). At most [[ssspRoundCap]] rounds lower
    * a distance; hitting an explicit cap fails loudly.
    */
  def sssp(edges: DataFrame, source: Long, maxRounds: Int = 0,
      maxLocalEdges: Long = LocalEdgeThreshold, hubOutDegree: Long = 0L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val in = Supersteps.intake(edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("w").cast("long").as("w")), maxLocalEdges, "sssp")
    val negative = if (in.local != null) in.local.ws != null && in.local.ws.exists(_ < 0)
      else in.pairs.sparkContext.runJob(in.pairs, (it: Iterator[Pairs]) => it.exists(_.ws.exists(_ < 0))).contains(true)
    if (negative) {
      if (in.pairs != null) in.pairs.unpersist(blocking = true)
      throw new IllegalArgumentException("sssp needs non-negative tolls: an edge has w < 0")
    }
    if (in.local != null) return localDijkstra(spark, in.local.csr, source)
    Supersteps.push(spark, in, "sssp", Seq(Supersteps.Forward), hubOutDegree) { g =>
      var s = g.start(v => if (v == source) 1.0 else Unreached)
      // a source with no edge has no state
      if (s.live == 0) Seq((source, 0L)).toDF("vertex", "dist")
      else {
        val roundCap = ssspRoundCap(maxRounds, in.count) + 1 // and one in which none fell
        var rounds = 0L
        while (s.live > 0 && rounds < roundCap) {
          rounds += 1
          audit(s"sssp:round $rounds")
          s = g.round(Relaxed, Supersteps.Forward, s)
        }
        require(s.live == 0,
          s"sssp: ${s.live} distances fell in round $rounds — distances not converged; raise maxRounds")
        require(s.least > TooFar, TooFarMessage)
        g.result(("dist", s, 1.0)).where(col("dist") >= -DistanceLimit)
          .select(col("vertex"), (-col("dist") - 1).cast(LongType).as("dist"))
      }
    }
  }

  private val TooFarMessage = "sssp: a shortest distance reaches 2^53, past what a distance holds exactly"

  /** 2^53, where a Double, the push kernel's state, starts to skip integers. */
  private val DistanceLimit: Double = (1L << 53).toDouble

  /** [[sssp]]'s min-merge program. A distance d that fell in the last
    * round is the state d + 1 (> 0, so `Pushed.live` counts the
    * frontier) and is sent; a settled one is −(d + 1), in [−2^53, −1],
    * and is not. A vertex takes the least distance + toll it receives
    * if that is lower than its own. A vertex with no distance is
    * [[Unreached]]; one whose least distance so far is ≥ 2^53 is
    * [[TooFar]], the least state, so `Pushed.least` shows it until a
    * shorter path replaces it.
    */
  private val Unreached = -2 * DistanceLimit
  private val TooFar = Double.NegativeInfinity
  private val Relaxed = new Supersteps.Relax {
    def send(x: Double, deg: Int): Double = if (x > 0) x - 1 else Double.PositiveInfinity
    def update(old: Double, in: Double): Double = {
      val d = if (old > 0) old - 1 else if (old >= -DistanceLimit) -old - 1 else Double.PositiveInfinity
      if (in < d) { if (in >= DistanceLimit) TooFar else in + 1 }
      else if (old > 0) -old
      else old
    }
  }

  /** The most sssp rounds that may lower a distance: `maxRounds` if
    * > 0, else max(256, |E|), which bounds every shortest path's hop
    * depth (≤ |V|−1 ≤ |E| within a component), so the default can never
    * reject a valid deep-chain graph.
    */
  private[graft] def ssspRoundCap(maxRounds: Int, eCount: Long): Long =
    if (maxRounds > 0) maxRounds.toLong else math.max(256L, eCount)

  /** Minimum spanning forest over a (src, dst, w) edge list, treated
    * undirected (per unordered pair the minimum toll wins; a row with a
    * null src, dst or w is dropped; any toll, negative included, is
    * accepted). The composite order (w, a, b) totally orders the edge
    * set, so the MSF is UNIQUE — every correct algorithm returns the same
    * forest, which is what lets the driver Kruskal twin, the distributed
    * Borůvka loop, and the oracle's cycle-property formulation all be
    * hash-compared. Output: (src, dst, w) canonical (src < dst).
    *
    * The non-loop undirected edges are read once, by one weighted
    * intake job ([[simpleEdges]]); at or below `maxLocalEdges` rows,
    * driver Kruskal sorts them ([[localKruskal]]) with no further job.
    * Above it, over the distinct (a, b, w) rows, runs Borůvka, the MSF
    * that distributes: per round every component nominates its
    * (w, a, b)-minimum outgoing edge (one min(struct) aggregate; a
    * repeated pair's larger toll is never a minimum), nominated edges
    * join the forest, and components contract by [[connectedComponents]]
    * on the nomination graph. Components at least halve per round, so
    * ≤ log₂(V) rounds, and the surviving edge set only shrinks.
    */
  def msf(edges: DataFrame, maxRounds: Int = 64,
      maxLocalEdges: Long = LocalEdgeThreshold): DataFrame = {
    val spark = edges.sparkSession
    val undirectedTolls = edges.select(
      least(col("src"), col("dst")).cast("long").as("src"),
      greatest(col("src"), col("dst")).cast("long").as("dst"),
      col("w").cast("long").as("w"))
    val (ue, ueCount) = simpleEdges(undirectedTolls, maxLocalEdges, "msf") match {
      case Left(g) => return localKruskal(spark, g)
      case Right((d, n)) => (d.toDF("a", "b", "w"), n)
    }
    // A round reads only the previous round's cross edges and labels,
    // so those are round checkpoints; the nominations stay, because
    // the returned forest reads them.
    val hy = new RoundCheckpoints(spark.sparkContext)
    // comp: (vertex, comp), every vertex its own component at first
    var comp = hy.ckpt(ue.select(col("a").as("vertex"))
      .unionAll(ue.select(col("b").as("vertex"))).distinct()
      .select(col("vertex"), col("vertex").as("comp"))
      .repartition(col("vertex")))
    var live = ue
    val forest = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 0
    var liveRows = ueCount
    while (liveRows > 0 && round < maxRounds) {
      round += 1
      // relabel both endpoints, keep cross-component edges only
      val ca = comp.select(col("vertex").as("a"), col("comp").as("cu"))
      val cb = comp.select(col("vertex").as("b"), col("comp").as("cv"))
      val e2 = hy.ckpt(live.join(ca, "a").join(cb, "b")
        .where(col("cu") =!= col("cv")))
      liveRows = e2.count()
      if (liveRows > 0) {
        // each component nominates its (w, a, b)-minimum incident edge
        val cand = e2.select(col("cu").as("c"), col("w"), col("a"), col("b"),
            col("cu"), col("cv"))
          .unionAll(e2.select(col("cv").as("c"), col("w"), col("a"), col("b"),
            col("cu"), col("cv")))
        val sel = cand.groupBy("c")
          .agg(min(struct(col("w"), col("a"), col("b"), col("cu"), col("cv")))
            .as("m"))
          .select(col("m.w").as("w"), col("m.a").as("a"), col("m.b").as("b"),
            col("m.cu").as("cu"), col("m.cv").as("cv"))
          .distinct() // both endpoints' components may nominate the same edge
          .localCheckpoint()
        forest += sel.select("a", "b", "w")
        // contract: components connected by nominations share a label
        val cc = connectedComponents(
          sel.select(col("cu").as("src"), col("cv").as("dst")),
          maxLocalEdges = maxLocalEdges)
        val relabel = cc.select(col("vertex").as("comp"),
          col("component").as("newComp"))
        comp = hy.ckpt(comp.join(relabel, Seq("comp"), "left")
          .select(col("vertex"),
            coalesce(col("newComp"), col("comp")).as("comp"))
          .repartition(col("vertex")))
        releaseReads(cc)
        live = e2.select("a", "b", "w")
      }
      hy.endRound()
    }
    hy.drain()
    releaseReads(ue)
    // Component halving bounds convergence at log₂(V) ≤ 64 for any
    // real V, so live cross edges here can only mean a contraction bug
    // — fail loudly instead of returning a partial forest that would
    // still hash-compare as "a forest" downstream.
    require(liveRows == 0,
      s"msf: $liveRows cross-component edges alive after $maxRounds " +
        "Borůvka rounds — forest incomplete (contraction did not converge)")
    if (forest.isEmpty) {
      import spark.implicits._
      Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    } else
      forest.reduce(_ unionAll _).distinct()
        .select(col("a").as("src"), col("b").as("dst"), col("w"))
  }

  /** Driver Kruskal twin over the intake's deduplicated `g` (a → b,
    * a < b, least toll per pair): its edges in (w, a, b) order — a
    * stable sort by toll of g's (a, b) slot order — joined by union-find.
    */
  private def localKruskal(spark: SparkSession, g: Csr): DataFrame = {
    import spark.implicits._
    val p = g.pairs
    val uf = new UnionFind()
    p.xs.indices.sortBy(p.ws(_)).filter(j => uf.union(p.xs(j), p.ys(j)))
      .map(j => (p.xs(j), p.ys(j), p.ws(j))).toDF("src", "dst", "w")
  }

  /** Driver-side Dijkstra twin of the relaxation rounds over the
    * intake's weighted `g`: same (vertex, dist) min-toll contract and
    * the same 2^53 limit, identical output. Vertices are indices into
    * their sorted ids; a stale queue entry is skipped when polled.
    */
  private def localDijkstra(spark: SparkSession, g: Csr, source: Long): DataFrame = {
    import spark.implicits._
    val ids = Supersteps.sortedDistinct(g.keys ++ g.vals :+ source)
    val limit = 1L << 53
    val dist = Array.fill(ids.length)(Long.MaxValue)
    val done = new Array[Boolean](ids.length)
    val pq = new java.util.PriorityQueue[(Long, Int)](Ordering.by[(Long, Int), Long](_._1))
    pq.add((0L, java.util.Arrays.binarySearch(ids, source)))
    while (!pq.isEmpty) {
      val (d, i) = pq.poll()
      if (!done(i)) {
        require(d < limit, TooFarMessage)
        done(i) = true
        dist(i) = d
        g.slots(ids(i)).foreach { j =>
          val u = java.util.Arrays.binarySearch(ids, g.vals(j))
          val nd = if (g.ws(j) >= limit - d) limit else d + g.ws(j)
          if (nd < dist(u)) { dist(u) = nd; pq.add((nd, u)) }
        }
      }
    }
    ids.indices.filter(done).map(i => (ids(i), dist(i))).toDF("vertex", "dist")
  }
}
