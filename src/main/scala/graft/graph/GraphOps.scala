package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed graph algorithms over edge-list DataFrames.
  *
  * The graph model re-expresses the reference's adjacency-matrix files
  * (/root/reference/utilities.h + G*.txt: n, then n×n 0/1 rows) as a
  * distributed edge list `(src BIGINT, dst BIGINT)` — the only
  * representation that survives 100 TB (an n×n matrix is O(n²)).
  *
  * Traversals are level-synchronous: the reference's thread-per-vertex
  * BFS with a pthread_join barrier per level (dfs_bfs.h:111-172)
  * becomes one Spark job per level, the job boundary as the barrier
  * ([[Supersteps]]: RDD supersteps, no per-level query planning).
  * Scale notes:
  *  - the frontier is broadcast while small (the common case), so a
  *    level shuffles only its candidates, never the edges;
  *  - a larger frontier exchanges the edges by source once, and later
  *    levels expand co-partitioned with the frontier;
  *  - each level's frontier is lineage-cut as its job materializes it;
  *  - `visited` stays distributed; only frontiers under the broadcast
  *    bound are collected to the driver;
  *  - the per-partition edge blocks and visited sets are heap objects
  *    that do not spill: a task must hold its partition's share of the
  *    reachable (tag, vertex) pairs (see [[Supersteps]]).
  */
object GraphOps {

  /** Frontiers below this row count are broadcast to the edges (bfs's
    * expansion, the Brandes and sssp joins). Overridable (system property) so specs can force the
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

  private def audit(ev: String): Unit = {
    val b = cacheAudit.get()
    if (b != null) b += ev
  }

  /** Inline checkpoint hygiene for LINEAR iterative loops (each round
    * derives only from the previous round's checkpoints): localCheckpoint
    * through [[ckpt]], call [[endRound]] once per round, and the
    * PREVIOUS round's checkpoint blocks are unpersisted as soon as the
    * current round has materialized — peak checkpoint storage drops
    * from O(rounds · |E|) to O(|E|), and the superseded 59M-row sets
    * stop queueing on the ASYNC ContextCleaner (whose reclamation wave
    * was measured landing on whatever ops run next — the r18
    * dfs-family attribution, PROBES_r18.json). Only safe where no
    * frame from two rounds back is ever read again: connected
    * components' star rounds, the h-index estimate chain, rank
    * iterations — NOT the peel loops that union their per-round
    * emissions at the end. New persistent RDD ids are discovered by
    * diffing getPersistentRDDs around the eager checkpoint; the loops
    * are single-threaded per op, so the diff is exactly the
    * checkpoint's blocks.
    */
  private final class RoundCheckpoints(sc: org.apache.spark.SparkContext) {
    private var prev: Set[Int] = Set.empty
    private var cur: Set[Int] = Set.empty
    def ckpt(df: DataFrame): DataFrame = {
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint()
      // r19: capture the checkpoint's OWN RDD id from the returned
      // plan's LogicalRDD leaf — exact under concurrency (a foreign
      // persist landing in the window can no longer be captured and
      // later fatally unpersisted; localCheckpoint lineage is
      // non-recomputable). The keyset diff stays only as the fallback
      // if the leaf shape ever changes, and the spec pins the primary
      // path so a silent fallback cannot go unnoticed.
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

    /** End-of-loop hygiene (r20, verdict r19 #2): release EVERYTHING
      * still tracked — except the frames in `keep` (the op's result
      * lineage) — with BLOCKING unpersists, so the multi-GB block
      * drops are paid inside the op that owns them instead of landing
      * as an async ContextCleaner wave on whatever the bench runs
      * next (the r17-r19 dfs-family median pollution). Mid-loop
      * frees stay async ([[endRound]]); blocking is cheap here
      * because the loop is already over.
      */
    def drain(keep: Seq[DataFrame] = Nil): Unit = {
      val keepIds = keep.flatMap(RoundCheckpoints.ownRddId).toSet
      val all = prev ++ cur
      all.diff(keepIds).foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
      prev = Set.empty; cur = all intersect keepIds
    }
  }

  /** Blocking release of a localCheckpoint'd frame's blocks once its
    * last consumer has materialized — `df.unpersist` would only touch
    * the CacheManager layer, not the checkpoint RDD, so untracked
    * checkpoints otherwise wait for GC + the async ContextCleaner
    * (whose reclamation wave pollutes co-scheduled ops at sf10).
    */
  private def releaseCheckpoint(df: DataFrame): Unit =
    RoundCheckpoints.ownRddId(df).foreach { id =>
      df.sparkSession.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = true))
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
        case scala.collection.Seq(leaf) =>
          try {
            val m = leaf.getClass.getMethod("rdd")
            m.setAccessible(true)
            Some(m.invoke(leaf).asInstanceOf[org.apache.spark.rdd.RDD[_]].id)
          } catch { case _: ReflectiveOperationException => None }
        case _ => None
      }
  }

  /** Edge count below which iterative traversals run on the driver —
    * the same adaptive call AQE makes when it converts a shuffle join
    * to a local broadcast: 4M edge pairs ≈ 64 MB, matching the
    * session's autoBroadcastJoinThreshold. A graph this small costs
    * more in per-level scheduler latency than the whole traversal does
    * locally, and the reference itself materializes the full adjacency
    * matrix per query (secondary_server.c:126-137). Above the threshold
    * the level-synchronous frontier loop — the only shape that
    * works at 100 TB — is used unconditionally; specs pin both paths
    * to identical output by forcing maxLocalEdges = 0. Measured at the
    * sf1-equivalent supply graph (5.87M edges): collecting a 4M-row
    * frame costs MORE than one distributed star round over it, so
    * raising this buys nothing even where driver heap would allow it —
    * the crossover is row-collect-bound, not memory-bound.
    */
  val LocalEdgeThreshold: Long = 4000000L

  /** Per-task edge-share cap for the iterated contraction passes in
    * [[connectedComponents]]: a coalesced pass whose tasks would each
    * union-find more edges than this stops coalescing and hands the
    * graph to the star rounds. The per-task open-addressing map is
    * O(min(task endpoints, |V|)) entries (16 B each), so 16M
    * edges/task bounds a task's map near 512 MB — safe at local[32]
    * heaps and a deliberate executor-memory-shaped knob at scale.
    * The BFS supersteps size their partition count by it too, so an
    * exchanged edge block stays under ≈ 256 MB.
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
    def put(k: Long, v: Long): Unit = {
      if (k == Long.MinValue) { hasMin = true; minVal = v; return }
      if ((n + 1) * 10 >= cap * 7) grow()
      var i = slot(k)
      while (keys(i) != Long.MinValue && keys(i) != k) i = (i + 1) & mask
      if (keys(i) == Long.MinValue) { keys(i) = k; n += 1 }
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
  private[graph] final class UnionFind(initialCapacity: Int = 1 << 16) {
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
    /** Every vertex ever hung under another, with its root. */
    def foreachNonRoot(f: (Long, Long) => Unit): Unit =
      parent.foreachKey { v => val r = find(v); if (r != v) f(r, v) }
  }

  private def canonEdges(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))

  /** Collect a 2-long-column frame as pairs (the local twins' input). */
  private def collectPairs(df: DataFrame): Array[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)))

  /** Driver-side adjacency list from collected edge pairs. */
  private def adjacencyOf(pairs: Array[(Long, Long)])
      : java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]] = {
    val adj = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
    pairs.foreach { case (a, b) =>
      adj.computeIfAbsent(a, _ => scala.collection.mutable.ArrayBuffer.empty[Long]) += b
    }
    adj
  }

  /** Multi-source, tagged BFS. `sources` has columns (vertex[, tag]);
    * result is (tag, vertex, level) with level = min-hop distance from
    * the tag's source set. Untagged callers get a constant tag they
    * can drop. This is the deterministic contract of the reference's
    * BFS (dfs_bfs.h:111-172): levels are well-defined, intra-level
    * order is not.
    */
  def bfs(edges: DataFrame, sources: DataFrame, maxDepth: Int = Int.MaxValue,
      maxLocalEdges: Long = LocalEdgeThreshold, hubOutDegree: Long = 0L): DataFrame = {
    val e = canonEdges(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val tagged =
      if (sources.columns.contains("tag")) sources.select(col("tag").cast("long"), col("vertex").cast("long"))
      else sources.select(lit(0L).as("tag"), col("vertex").cast("long"))
    val eCount = e.count()
    if (eCount <= maxLocalEdges) {
      val out = localBfs(e, tagged, maxDepth)
      e.unpersist()
      return out
    }
    Supersteps.bfs(e, eCount, tagged, maxDepth, hubOutDegree, broadcastFrontier)
  }

  /** Driver-side twin of the frontier loop for sub-threshold graphs:
    * same (tag, vertex, level) min-hop contract, identical output.
    */
  private def localBfs(e: DataFrame, tagged: DataFrame, maxDepth: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    // Flat adjacency map (vertex → growable neighbor array): O(E) build
    // with primitive arrays — a Scala groupBy here costs more than the
    // traversal itself at millions of edges.
    val adj = new java.util.HashMap[Long, Array[Long]]()
    val fill = new java.util.HashMap[Long, Int]()
    e.collect().foreach { r =>
      val s = r.getLong(0); val d = r.getLong(1)
      val cur = adj.get(s)
      if (cur == null) { adj.put(s, Array(d, 0L, 0L, 0L)); fill.put(s, 1) }
      else {
        val used = fill.get(s)
        val arr = if (used == cur.length) {
          val g = java.util.Arrays.copyOf(cur, cur.length * 2); adj.put(s, g); g
        } else cur
        arr(used) = d
        fill.put(s, used + 1)
      }
    }
    val srcs = collectPairs(tagged).distinct
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    srcs.groupBy(_._1).foreach { case (tag, seeds) =>
      val level = new java.util.HashMap[Long, Int]()
      var frontier = seeds.map(_._2).distinct.toArray
      frontier.foreach(v => level.put(v, 0))
      var lvl = 0
      while (frontier.nonEmpty && lvl < maxDepth) {
        lvl += 1
        val next = scala.collection.mutable.ArrayBuffer.empty[Long]
        frontier.foreach { v =>
          val ns = adj.get(v)
          if (ns != null) {
            val used = fill.get(v)
            var i = 0
            while (i < used) {
              val w = ns(i)
              if (!level.containsKey(w)) { level.put(w, lvl); next += w }
              i += 1
            }
          }
        }
        frontier = next.toArray
      }
      level.forEach((v, l) => out += ((tag, v, l)))
    }
    out.toSeq.toDF("tag", "vertex", "level")
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
    * adjacency matrix per query (secondary_server.c:126-137). We
    * collect the edge list to the driver — guarded — and recurse with
    * neighbors in ascending order. For scale-path traversal use
    * `bfs`/`reach`; this op exists for reference parity.
    */
  def dfsPreorder(edges: DataFrame, source: Long, maxEdges: Long = 5000000L): DataFrame = {
    val spark = edges.sparkSession
    val es = canonEdges(edges).distinct()
    val cnt = es.count()
    require(cnt <= maxEdges, s"dfsPreorder is a driver-side op; $cnt edges > $maxEdges")
    val adj = es.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    val seen = scala.collection.mutable.HashSet[Long]()
    val order = scala.collection.mutable.ArrayBuffer[Long]()
    // explicit stack (no JVM recursion limit); push children reversed
    // so the smallest neighbor is explored first
    val stack = scala.collection.mutable.Stack[Long](source)
    while (stack.nonEmpty) {
      val v = stack.pop()
      if (!seen(v)) {
        seen += v
        order += v
        adj.getOrElse(v, Array.empty[Long]).reverseIterator.foreach { w =>
          if (!seen(w)) stack.push(w)
        }
      }
    }
    import spark.implicits._
    order.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("pos", "vertex")
  }

  /** Terminal ("leaf") vertices of a traversal from `source` — the
    * race-independent core of the reference DFS's output
    * (dfs_bfs.h:70-77: the reference returns vertices that spawned no
    * child threads, i.e. the last vertex on each thread's path; WHICH
    * already-visited-neighbor vertices qualify is thread-race
    * dependent, but a reachable vertex with no out-neighbors always
    * does). Deterministic contract: reachable ∧ out-degree 0. One
    * frontier reach + one anti-join against the distinct src set.
    */
  def dfsLeaves(edges: DataFrame, source: DataFrame,
      srcVertices: Option[DataFrame] = None): DataFrame = {
    // No edge-list checkpoint here: duplicates cannot change the answer
    // (reach dedups its frontiers; the anti-join's probe set is
    // distinct), the reach traversal persists its own layout inside
    // [[bfs]], and the gate path hands in a catalog-checkpointed frame
    // anyway — a copy here was a full redundant edge materialization
    // (59M rows at sf10) for nothing.
    // `srcVertices`: callers holding a degree frame (the catalog-served
    // gate path) pass the out_deg > 0 vertex set directly — the
    // anti-join probe then reads a vertex-sized frame instead of
    // re-distincting the full edge list (59M rows at sf10 for a 1.5M
    // vertex probe).
    val e = canonEdges(edges)
    val probe = srcVertices.getOrElse(
      e.select(col("src").as("vertex")).distinct())
    reach(e, source).join(probe, Seq("vertex"), "left_anti")
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

  /** Undirected connected components via the alternating
    * large-star/small-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014): O(log n) rounds,
    * pure shuffle ops, no driver state — unlike label propagation,
    * which needs O(diameter) rounds. Returns (vertex, component) with
    * component = min vertex id of the component.
    */
  def connectedComponents(edges: DataFrame,
      maxLocalEdges: Long = LocalEdgeThreshold): DataFrame = {
    // One checkpoint of the raw edge list: the self-loop vertex scan
    // and (on the local path) the collect both read it — without this
    // each consumer re-runs the caller's derivation pipeline. SKIPPED
    // when the caller's frame already IS a checkpoint (single
    // LogicalRDD leaf — the catalog's derived graphs and the dedup
    // callers' pair frames): re-materializing 58.7M cached rows into a
    // second checkpoint cost 8 s at the ×100 rung and bought nothing,
    // the casts are narrow over the cached blocks. `ceOwned` guards
    // the release so a caller's catalog frame is never unpersisted.
    val ceOwned = RoundCheckpoints.ownRddId(edges).isEmpty
    val ce =
      if (ceOwned) canonEdges(edges).localCheckpoint() else canonEdges(edges)
    val spark = edges.sparkSession
    import spark.implicits._
    // NO .distinct() here (r21): every consumer below is a union-find
    // pass (duplicate edges are free re-unions) or a bounded driver
    // collect, so the full-width dedup exchange the old path paid on
    // the raw edge list (29 s on the ×100 supply graph) bought
    // nothing. Canonical u < v is kept — it is narrow — so the star
    // fallback's invariant still holds.
    val e1 = ce
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
    val n0 = e1.count()
    if (n0 <= maxLocalEdges) return localCc(spark, e1, ce)
    // Iterated local contraction (the two-phase optimization of
    // Kiveris et al. §6, applied to a fixpoint): each partition
    // union-finds its OWN edges — a narrow pass, zero shuffle — and
    // emits one (root, v) spanning-forest edge per non-root vertex it
    // saw. Forest union ≡ same components, and a forest pass PRESERVES
    // the vertex set (every input vertex reappears as a root or a
    // leaf), so output is bounded by Σ per-partition distinct
    // vertices. One pass at the natural partitioning barely shrinks a
    // graph whose vertex set is visible from every partition (×100
    // supply graph: 58.7M → 36M with 32 partitions each seeing ~1.4M
    // of the 1.6M vertices); COALESCING 4× down between passes (narrow
    // — no exchange) makes the bound drop geometrically until the
    // forest reaches its floor of ~|V| edges, which either fits the
    // driver threshold or has genuinely large |V| — then the star
    // rounds take over. Per-task state is O(min(task endpoints, |V|))
    // — the same bound the single pass already accepted. Roots are
    // per-partition minima, so u < v canonical form is preserved for
    // the star loop below.
    def contract(in: DataFrame): DataFrame = in.select("u", "v")
      .as[(Long, Long)].mapPartitions { it =>
        val uf = new UnionFind()
        it.foreach { case (a, b) => uf.union(a, b) }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        uf.foreachNonRoot((r, v) => out += ((r, v)))
        out.iterator
      }.toDF("u", "v")
    var e = contract(e1).localCheckpoint()
    var n = e.count()
    var parts = e.rdd.getNumPartitions
    var prevCkpt = e
    var pass = 1
    // keep quartering while it still shrinks ≥ 20% per pass — a stall
    // means the forest floor (~|V| edges) is above the local threshold
    // and the star rounds are the right tool — and while the next
    // pass's per-task edge share stays under ContractTaskEdgeBound
    // (the union-find map is O(min(task endpoints, |V|)); unbounded
    // coalescing would hand a web-scale graph to one task)
    var prevN = n0
    while (n > maxLocalEdges && parts > 1 && n <= (prevN * 4) / 5 &&
        n / math.max(1, parts / 4) <= ContractTaskEdgeBound && pass < 16) {
      pass += 1
      parts = math.max(1, parts / 4)
      prevN = n
      val next = contract(e.coalesce(parts)).localCheckpoint()
      n = next.count()
      releaseCheckpoint(prevCkpt)
      e = next; prevCkpt = next
    }
    if (n <= maxLocalEdges) {
      val out = localCc(spark, e, ce)
      // blocking release: the local result is driver-built, so the
      // contraction checkpoints and the raw-edge frame free inside
      // this op's own wall (r19 verdict #2 discipline)
      releaseCheckpoint(e)
      if (ceOwned) releaseCheckpoint(ce)
      return out
    }
    // allVerts only exists on the star-rounds path, and derives from
    // the CONTRACTED forest (≈ |V| rows) plus ce's self-loop-only
    // vertices — not from the full raw edge list (2·|E| rows through
    // a dedup exchange, 57 s at ×100 — wasted whenever the loop
    // drops to local).
    val allVerts = e.select(col("u").as("vertex"))
      .unionAll(e.select(col("v").as("vertex")))
      .unionAll(ce.where(col("src") === col("dst")).select(col("src").as("vertex")))
      .distinct().localCheckpoint()
    val eContracted = e // pre-loop contraction checkpoint, released at drain
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
    val hy = new RoundCheckpoints(spark.sparkContext)
    while (!converged && rounds < 64) {
      rounds += 1
      // Each star half consumes its bidirected edge frame TWICE on the
      // same key (the per-s min aggregate, then the equi-join back) —
      // unpartitioned, that is two edge-sized exchanges per half per
      // round. Hash-partitioning the frame by s once (checkpointed —
      // the checkpoint scan keeps the partitioning, so both consumers
      // and the join's min side plan exchange-free) makes the star
      // rounds' network cost one edge exchange per half, the geometry
      // that survives a web-scale edge set.
      // large-star: every neighbor larger than u links to u's min
      val bi = hy.ckpt(e.select(col("u").as("s"), col("v").as("d"))
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
      val low = hy.ckpt(bi2.where(col("d") <= col("s"))
        .repartition(col("s")))
      val mins2 = low.groupBy("s").agg(min("d").as("mn"))
        .select(col("s"), least(col("s"), col("mn")).as("m"))
      val ss = hy.ckpt(low.join(mins2, "s").select(col("d").as("x"), col("m"))
        .unionAll(mins2.select(col("s").as("x"), col("m")))
        .where(col("x") =!= col("m"))
        .select(col("m").as("u"), col("x").as("v"))
        .distinct())
      val nsig = checksum(ss)
      converged = nsig == sig
      sig = nsig
      e = ss
      hy.endRound()
      // adaptive drop-to-local: every star round preserves the
      // component partition (Kiveris et al. §3), so once the
      // SHRINKING edge set fits the driver threshold, a union-find
      // finish is exact and skips the remaining O(log n) distributed
      // rounds — on the sf1 supply graph round 1 shrinks 5.9M → 4.0M
      // edges and this cuts the loop from 4 rounds to 1. At true
      // scale the set stays above threshold and the loop runs on.
      if (!converged && nsig._1 <= maxLocalEdges)
        return localCc(edges.sparkSession, e, ce)
    }
    val labels = e.select(col("v").as("vertex"), col("u").as("component"))
      .unionAll(e.select(col("u").as("vertex"), col("u").as("component")))
      .distinct()
    // end-of-loop hygiene: the result reads only the FINAL round's ss
    // (`e`) and allVerts — every other tracked checkpoint (the 2×|E|
    // bidirected frames of the last round, all superseded rounds, the
    // raw-edge and contraction inputs) releases BLOCKING here, inside
    // this op's own wall, instead of as an async cleaner wave on the
    // next co-scheduled op (r19 verdict #2)
    hy.drain(keep = Seq(e))
    if (ceOwned) releaseCheckpoint(ce)
    releaseCheckpoint(eContracted)
    allVerts.join(labels, Seq("vertex"), "left")
      .select(col("vertex"), coalesce(col("component"), col("vertex")).as("component"))
  }

  /** Driver-side union-find twin for sub-threshold graphs (see
    * [[LocalEdgeThreshold]]): identical (vertex, min-id component)
    * labels. The vertex set is the undirected frame's endpoints plus
    * `allEdges`' SELF-LOOP vertices (the only vertices the u ≠ v
    * filter dropped — contraction passes preserve every other vertex,
    * so this avoids the 2·|E|-row dedup exchange over the raw edge
    * list the old path paid, 49 s at ×100).
    */
  private def localCc(spark: SparkSession, undirected: DataFrame,
      allEdges: DataFrame): DataFrame = {
    import spark.implicits._
    val es = collectPairs(undirected)
    val uc = undirected.columns
    val verts = undirected.select(col(uc(0)).as("vertex"))
      .unionAll(undirected.select(col(uc(1)).as("vertex")))
      .unionAll(allEdges.where(col("src") === col("dst"))
        .select(col("src").as("vertex")))
      .distinct().collect().map(_.getLong(0))
    val uf = new UnionFind()
    es.foreach { case (a, b) => uf.union(a, b) }
    verts.map(v => (v, uf.find(v))).toSeq.toDF("vertex", "component")
  }

  /** Hub floor for the push-loop two-frame split: a source only counts
    * as a hub when its out-edge list both exceeds an ideal partition's
    * share (edges / shuffle partitions) AND this absolute floor —
    * below it the "straggler" fits any executor and the split's extra
    * frames would cost more than they save.
    */
  val HubMinOutDegree: Long = 1L << 16

  /** Two-frame hub split of a src-partitioned push-loop edge cache
    * (the r12-documented answer to power-law hub skew — salting the
    * shared frame is NOT it, because the per-iteration join requires
    * ClusteredDistribution(src) and a (src, salt) partitioning would
    * re-exchange the full edge set every round):
    *  - `tail` keeps HashPartitioning(src) (the broadcast anti-join
    *    preserves the cached partitioning, so the loop's exchange-free
    *    edge side survives), with every hub source's edges REMOVED —
    *    its max partition is bounded by the tail degree distribution;
    *  - `hub` holds the hub sources' edges spread round-robin across
    *    all partitions (no per-src clustering to preserve — hub ranks
    *    ride in by broadcast, so any layout joins without a shuffle);
    *  - `hubDeg` is the (src, od) hub catalog — by construction at
    *    most edges/threshold rows (auto threshold ⇒ ≤ #partitions),
    *    small enough to broadcast each iteration.
    * `hubOutDegree` 0 = auto: max([[HubMinOutDegree]], edges/parts) —
    * on every shipped graph that yields zero hubs and the layout (and
    * plan) is bit-identical to the pre-split code.
    */
  private[graft] final case class HubSplit(tail: DataFrame, tailDeg: DataFrame,
      hub: Option[DataFrame], hubDeg: Option[DataFrame], threshold: Long) {
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
      tailLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      releaseOnError: Seq[DataFrame] = Nil): HubSplit = {
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
      releaseOnError.foreach(_.unpersist())
      throw tooManyHubs(nHubs, key, threshold)
    }
    if (nHubs == 0) HubSplit(e, deg, None, None, threshold)
    else {
      val hubKeys = broadcast(hubDeg.select(key))
      val tail = e.join(hubKeys, Seq(key), "left_anti").persist(tailLevel)
      val hub = e.join(hubKeys, Seq(key), "left_semi")
        .repartition(parts).persist(tailLevel)
      tail.count(); hub.count()
      e.unpersist()
      HubSplit(tail, deg.join(hubKeys, Seq(key), "left_anti"),
        Some(hub), Some(hubDeg), threshold)
    }
  }

  /** One push-loop iteration's (dst, rank/outdeg) contributions over a
    * [[HubSplit]] layout: the tail side is the classic exchange-free
    * join (only `ranks` shuffles to src); the hub side joins the
    * round-robin hub frame against the BROADCAST hub-rank slice, so a
    * hub's edges are processed by every partition in parallel instead
    * of one straggler task.
    */
  private def pushContribs(hs: HubSplit, ranks: DataFrame): DataFrame = {
    val tailC = hs.tail.join(hs.tailDeg, "src")
      .join(ranks.withColumnRenamed("v", "src"), "src")
      .select(col("dst").as("v"), (col("r") / col("od")).as("c"))
    hs.hub match {
      case None => tailC
      case Some(h) =>
        val hubRanks = ranks
          .join(broadcast(hs.hubDeg.get.withColumnRenamed("src", "v")), "v")
          .select(col("v").as("src"), col("r"), col("od"))
        tailC.unionAll(
          h.join(broadcast(hubRanks), "src")
            .select(col("dst").as("v"), (col("r") / col("od")).as("c")))
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
    * of a web/citation graph. Same fixed-iteration push loop as
    * [[pagerank]] (one join + one aggregation per round, shuffled on
    * the vertex id; dangling mass dropped by the same convention on
    * both engines); the seed set rides along as a broadcast literal
    * — it is user-input-sized, not graph-sized.
    */
  def ppr(edges: DataFrame, seeds: Seq[Long], iters: Int, d: Double = 0.85,
      maxLocalEdges: Long = LocalEdgeThreshold, hubOutDegree: Long = 0L): DataFrame = {
    require(seeds.nonEmpty, "PPR needs a non-empty seed set")
    rankPush(edges, Some(seeds), iters, d, maxLocalEdges, hubOutDegree)
  }

  /** The push loop behind [[pagerank]] (`seeds` None: uniform reset,
    * base (1−d)/N, start 1/N) and [[ppr]] (reset share s = 1/|seeds|
    * on each seed, base (1−d)·s, start s): each round
    * r ← base + d·Σ(in-neighbor r / outdeg).
    */
  private def rankPush(edges: DataFrame, seeds: Option[Seq[Long]], iters: Int,
      d: Double, maxLocalEdges: Long, hubOutDegree: Long): DataFrame = {
    // repartition(src) BEFORE distinct: HashPartitioning(src) satisfies
    // the dedup aggregation's ClusteredDistribution(src, dst), so the
    // cached frame is born hash-partitioned by src for ONE exchange —
    // and every iteration's edge⋈outdeg⋈ranks join then plans
    // exchange-free on the edge side (only the vertex-sized rank frame
    // shuffles per round). Without it the loop re-exchanges the full
    // edge set each iteration — O(iters × edges) network, the same
    // scale-killer the BFS frontier loop fixed in r11.
    //
    // Hub skew: HashPartitioning(src) places EVERY out-edge of a
    // vertex in one partition, and once the frame is persisted AQE can
    // no longer split it, so on a power-law graph a 100M-out-degree
    // hub makes one straggler task per iteration. Salting the source
    // key is NOT an answer: the per-iteration join requires
    // ClusteredDistribution(src), which a (src, salt) partitioning
    // does not satisfy — a salted frame would re-exchange the full
    // edge set every iteration, re-creating the exact O(iters × edges)
    // cost this layout exists to avoid. The answer is [[hubSplit]]'s
    // two-frame layout (r13): sources whose out-degree exceeds an
    // ideal partition's share move to a RoundRobin-spread frame joined
    // via broadcast hub ranks, the long tail keeps this layout — max
    // cached partition bounded, per-iteration plan otherwise
    // unchanged, and on hub-free graphs (every shipped one) the split
    // is a no-op with the identical pre-r13 plan.
    val e = canonEdges(edges).repartition(col("src")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val eCount = e.count()
    if (eCount <= maxLocalEdges) {
      val out = localRankPush(edges.sparkSession, e, seeds, iters, d)
      e.unpersist()
      return out
    }
    val verts = e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v")))
      .distinct().localCheckpoint()
    // (frame each round joins into, its base term, the start ranks):
    // uniform PageRank needs only the vertex set; PPR carries the
    // per-vertex reset share `s` in a checkpointed reset frame
    val (frame, base, start) = seeds match {
      case None =>
        val n = verts.count()
        (verts, lit((1.0 - d) / n), verts.withColumn("r", lit(1.0 / n)))
      case Some(ss) =>
        val reset = verts.withColumn("s",
          when(col("v").isInCollection(ss), lit(1.0 / ss.size)).otherwise(lit(0.0)))
          .localCheckpoint()
        (reset, lit(1.0 - d) * col("s"), reset.select(col("v"), col("s").as("r")))
    }
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("od"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val hs = hubSplit(e, eCount, outdeg, hubOutDegree)
    var ranks = start
    for (_ <- 1 to iters) {
      val contribs = pushContribs(hs, ranks)
      ranks = frame.join(contribs.groupBy("v").agg(sum("c").as("in")), Seq("v"), "left")
        .select(col("v"), (base + lit(d) * coalesce(col("in"), lit(0.0))).as("r"))
        .localCheckpoint()
    }
    hs.unpersistAll(); outdeg.unpersist()
    ranks.select(col("v").as("vertex"), col("r").as("rank"))
  }

  /** Driver-side twin of [[rankPush]] for sub-threshold graphs, same
    * base and start terms. Contribution sums accumulate in a different
    * order than the distributed aggregation, but callers round ranks
    * (6 dp) ~10 orders of magnitude above double-summation reorder
    * noise.
    */
  private def localRankPush(spark: SparkSession, e: DataFrame,
      seeds: Option[Seq[Long]], iters: Int, d: Double): DataFrame = {
    import spark.implicits._
    val es = collectPairs(e)
    val verts = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val (base, start): (Long => Double, Long => Double) = seeds match {
      case None =>
        val n = verts.length
        (_ => (1.0 - d) / n, _ => 1.0 / n)
      case Some(ss) =>
        val seedSet = ss.toSet
        val reset = (v: Long) => if (seedSet(v)) 1.0 / ss.size else 0.0
        (v => (1.0 - d) * reset(v), reset)
    }
    val outdeg = new java.util.HashMap[Long, Long]()
    es.foreach { case (s, _) => outdeg.merge(s, 1L, _ + _) }
    var rank = new java.util.HashMap[Long, Double]()
    verts.foreach(v => rank.put(v, start(v)))
    for (_ <- 1 to iters) {
      val acc = new java.util.HashMap[Long, Double]()
      es.foreach { case (s, t) =>
        acc.merge(t, rank.get(s) / outdeg.get(s), _ + _)
      }
      val next = new java.util.HashMap[Long, Double]()
      verts.foreach(v => next.put(v, base(v) + d * acc.getOrDefault(v, 0.0)))
      rank = next
    }
    verts.map(v => (v, rank.get(v))).toSeq.toDF("vertex", "rank")
  }

  /** k-core decomposition membership: iteratively strip vertices of
    * undirected degree < k until fixpoint; returns each surviving
    * vertex with its degree inside the core subgraph. Each round is
    * one degree aggregation + two semi-joins (shuffle on vertex id);
    * round count is bounded by the longest peel chain, and edges only
    * shrink — the standard distributed formulation. Convergence is
    * detected on the edge count (pruning is monotone).
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = Int.MaxValue,
      maxLocalEdges: Long = LocalEdgeThreshold): DataFrame = {
    var e = canonEdges(edges)
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint()
    var n = e.count()
    if (n <= maxLocalEdges) return localKCore(edges.sparkSession, e, k)
    var prev = -1L
    var rounds = 0
    // linear prune chain: round N reads only round N-1's edge frame,
    // so superseded edge checkpoints free inline (RoundCheckpoints)
    val hy = new RoundCheckpoints(edges.sparkSession.sparkContext)
    while (n != prev && n > 0 && rounds < maxRounds) {
      rounds += 1
      prev = n
      val deg = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
        .groupBy("x").agg(count(lit(1)).as("d"))
      val keep = deg.where(col("d") >= k).select("x")
      e = hy.ckpt(e.join(keep.select(col("x").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("x").as("v")), Seq("v"), "left_semi"))
      n = e.count()
      hy.endRound()
    }
    e.select(col("u").as("vertex")).unionAll(e.select(col("v").as("vertex")))
      .groupBy("vertex").agg(count(lit(1)).as("core_deg"))
  }

  /** Round count of the last DISTRIBUTED [[coreness]] run on this
    * driver (h-index fixpoint rounds should track influence-chain
    * depth, far below the bucket-peel's degeneracy-bound round count;
    * GraphSpec bounds it on a hub-skewed graph).
    */
  @volatile private[graft] var lastCorenessRounds: Int = 0

  /** Full core decomposition (coreness per vertex — Batagelj &
    * Zaveršnik 2003): coreness(v) = max k such that v survives the
    * k-core prune. Distributed shape is the vertex-local H-INDEX
    * FIXPOINT (Montresor, De Pellegrini & Miorandi 2011, "Distributed
    * k-core decomposition"): every vertex starts at its degree and
    * repeatedly lowers its estimate to the h-index of its neighbors'
    * estimates (the largest h with ≥ h neighbors estimating ≥ h);
    * the estimates decrease monotonically and the unique fixpoint is
    * exactly the coreness. Unlike the bucket-peel — whose global
    * rounds serialize on the graph's DEGENERACY (67 sequential rounds
    * ≈ 650 s on the sf10 supply graph) — every vertex refines in the
    * SAME round, so convergence takes only as many rounds as the
    * longest chain of influence, an order of magnitude fewer on real
    * graphs. Each round is frontier-delta: only vertices with a
    * changed neighbor recompute (their own estimate never feeds their
    * own h-index), so per-round work collapses with the dirty set —
    * one semi-join to find the recompute set, one gather join against
    * the estimate frame, one partitioned row_number window for the
    * h-index, one merge join; all hash-partitioned on vertex id, no
    * growing re-union, lineage cut per round. The bucket-peel is kept
    * as [[corenessPeel]] — a second, independently-shaped
    * implementation the spec cross-checks the fixpoint against. Every
    * vertex incident to an edge is emitted (coreness ≥ 1); driver twin
    * under the edge threshold (spec pins all three paths identical on
    * planted graphs).
    */
  def coreness(edges: DataFrame,
      maxLocalEdges: Long = LocalEdgeThreshold): DataFrame = {
    val spark = edges.sparkSession
    val e = canonEdges(edges)
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint()
    if (e.count() <= maxLocalEdges) return localCoreness(spark, e)
    corenessHIndex(e)
  }

  /** Distributed h-index fixpoint core for [[coreness]] on a canonical
    * checkpointed `(u, v)` frame. Estimates start at the degree; each
    * round recomputes ONLY vertices adjacent to a vertex whose
    * estimate changed last round (round 1: everyone), takes the
    * h-index of the neighbors' current estimates, and clamps
    * monotonically. Terminates when no estimate moves. The two
    * adjacency orientations are each persisted pre-partitioned (by
    * recompute key and by neighbor key) so every per-round join is
    * exchange-free on the 2m-row side; everything shuffled per round
    * is proportional to the dirty frontier.
    *
    * r19: the h-index is computed from the COUNT HISTOGRAM, not a
    * per-vertex sort — h = max over distinct clipped estimate values c
    * of min(c, |neighbors with est ≥ c|). One map-side-combined hash
    * aggregation collapses the gathered rows to (v, est, count), the
    * values clip at the vertex's own estimate (the monotone clamp
    * bound, so a hub's whole high tail merges into one bucket), and
    * the cumulative count runs over the per-vertex DISTINCT-value
    * histogram. r18's row_number window sorted every gathered neighbor
    * row per key — on a 10M-degree hub that per-key sort is a
    * straggler; the histogram form is skew-immune and provably
    * output-identical (clipping at est(v) commutes with the final
    * least(h, est) clamp).
    */
  private[graft] def corenessHIndex(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // symmetric adjacency, once per run, partitioned both ways.
    // DISK_ONLY: each copy is scanned exactly once per round, so
    // pinning 2×2m rows in the unified region would only starve the
    // per-round aggregation/sort of execution memory (measured: the
    // sf10 probe's first degree agg OOMs at default driver heap with
    // MEMORY_AND_DISK here; DISK_ONLY streams at disk bandwidth and
    // leaves execution the whole region)
    val adjV = e.select(col("u").as("v"), col("v").as("w"))
      .unionAll(e.select(col("v").as("v"), col("u").as("w")))
      .repartition(col("v")).persist(StorageLevel.DISK_ONLY)
    val adjW = adjV.repartition(col("w"))
      .persist(StorageLevel.DISK_ONLY)
    // linear chain: round N reads only round N-1's merged frame, so
    // the superseded estimate checkpoints free inline (RoundCheckpoints)
    // — est_0 included (it feeds only round 1's merge)
    val hy = new RoundCheckpoints(e.sparkSession.sparkContext)
    // est_0 = degree — exchange-free on the pre-partitioned adjacency
    var est = hy.ckpt(adjV.groupBy("v").agg(count(lit(1)).as("est")))
    var dirty = est.select("v")
    var nDirty = est.count()
    var rounds = 0
    while (nDirty > 0) {
      rounds += 1
      require(rounds <= (1 << 20), "coreness: h-index round guard tripped")
      // vertices owning a dirty neighbor; their own estimate never
      // feeds their own h-index, so nobody else can change this round
      val recompute =
        if (rounds == 1) dirty
        else adjW.join(dirty.select(col("v").as("w")), Seq("w"), "left_semi")
          .select("v").distinct()
      // neighbor-estimate histogram: one map-side-combined hash agg
      // (no per-key sort anywhere), then clip each value at the
      // vertex's own estimate — h can never exceed it (the clamp
      // below), so a hub's whole high tail merges into one bucket
      val hist = adjV.join(recompute, Seq("v"), "left_semi")
        .join(est.select(col("v").as("w"), col("est").as("ew")), Seq("w"))
        .groupBy(col("v"), col("ew")).agg(count(lit(1)).as("cnt"))
        .join(est.select(col("v"), col("est").as("cap")), Seq("v"))
        .select(col("v"), least(col("ew"), col("cap")).as("cw"), col("cnt"))
        .groupBy(col("v"), col("cw")).agg(sum(col("cnt")).as("cnt"))
      // h = max over distinct clipped values c of min(c, |est ≥ c|) —
      // the h-index from cumulative counts; the window orders the
      // per-vertex DISTINCT-value histogram, not raw neighbor rows
      val win = Window.partitionBy("v").orderBy(col("cw").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val newEst = hist.withColumn("cum", sum(col("cnt")).over(win))
        .groupBy("v").agg(max(least(col("cw"), col("cum"))).as("h"))
      // monotone clamp (the operator is provably non-increasing from
      // est_0 = degree; the clamp also makes termination unconditional)
      val merged = hy.ckpt(est.join(newEst, Seq("v"), "left")
        .select(col("v"),
          least(coalesce(col("h"), col("est")), col("est")).as("est2"),
          (coalesce(col("h"), col("est")) < col("est")).as("chg")))
      dirty = merged.where(col("chg")).select("v")
      nDirty = dirty.count()
      est = merged.select(col("v"), col("est2").as("est"))
      hy.endRound()
    }
    lastCorenessRounds = rounds
    // re-materialize the caller-facing result, then free the final
    // round's merged checkpoint too — nothing of the loop's 2x|V|-row
    // block sets outlives the function except the result itself
    val out = hy.ckpt(est.select(col("v").as("vertex"), col("est").as("coreness")))
    // blocking end-of-loop release (r19 verdict #2): the final round's
    // superseded estimate chain and the two 2×|E| DISK_ONLY adjacency
    // copies drop inside this op's wall, not as an async cleaner wave
    // on the next op
    hy.drain(keep = Seq(out))
    adjV.unpersist(blocking = true); adjW.unpersist(blocking = true)
    out
  }

  /** The previous distributed shape — the degeneracy-serialized
    * BUCKET-PEEL (each round jumps k to the remaining min degree,
    * peels every vertex of degree ≤ k, prunes, and emits
    * prune-isolated survivors at k) — retained as the independent
    * cross-check for [[corenessHIndex]]: two different algorithms
    * agreeing on the same output is the strongest oracle available
    * for an op DuckDB cannot express directly. Not on any query path.
    */
  private[graft] def corenessPeel(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    var e = canonEdges(edges)
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint()
    var n = e.count()
    val peeled = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var k = 0L
    var guard = 0
    while (n > 0) {
      guard += 1
      require(guard <= (1 << 20), "coreness: peel-round guard tripped")
      // one degree frame per round, checkpointed: feeds the min-degree
      // probe, the peel emit, and the prune — never recomputed
      val deg = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
        .groupBy("x").agg(count(lit(1)).as("d")).localCheckpoint()
      val kmin = deg.agg(min(col("d"))).head().getLong(0)
      if (kmin > k) k = kmin
      peeled += deg.where(col("d") <= k)
        .select(col("x").as("vertex"), lit(k).as("coreness")).localCheckpoint()
      val keep = deg.where(col("d") > k).select("x")
      e = e.join(keep.select(col("x").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("x").as("v")), Seq("v"), "left_semi")
        .localCheckpoint()
      n = e.count()
      // A kept vertex (degree > k) whose neighbors were ALL peeled this
      // round loses every incident edge in the prune, so it never
      // appears in a later degree frame — yet its sequential-peel level
      // is exactly k (its degree falls to ≤ k as the neighbors leave:
      // it is in the k-core but cannot be in the (k+1)-core, whose
      // whole component just vanished). Emit those prune-isolated
      // vertices now at coreness k — e.g. a star hub, whose leaves get
      // coreness 1 while the hub would otherwise silently vanish.
      val isolated = keep.join(
        e.select(col("u").as("x")).unionAll(e.select(col("v").as("x"))).distinct(),
        Seq("x"), "left_anti")
      peeled += isolated
        .select(col("x").as("vertex"), lit(k).as("coreness")).localCheckpoint()
    }
    lastCorenessRounds = guard
    peeled.foldLeft(Seq.empty[(Long, Long)].toDF("vertex", "coreness"))(_ unionAll _)
  }

  /** Driver-side coreness twin: the same incremental peel on a
    * collected edge array.
    */
  private def localCoreness(spark: SparkSession, undirected: DataFrame): DataFrame = {
    import spark.implicits._
    var es = collectPairs(undirected)
    val core = new java.util.HashMap[Long, Long]()
    es.foreach { case (u, v) => core.put(u, 1L); core.put(v, 1L) }
    var k = 2L
    while (es.nonEmpty) {
      var changed = true
      while (changed && es.nonEmpty) {
        val deg = new java.util.HashMap[Long, Long]()
        es.foreach { case (u, v) => deg.merge(u, 1L, _ + _); deg.merge(v, 1L, _ + _) }
        val next = es.filter { case (u, v) => deg.get(u) >= k && deg.get(v) >= k }
        changed = next.length != es.length
        es = next
      }
      es.foreach { case (u, v) => core.put(u, k); core.put(v, k) }
      k += 1
    }
    import scala.jdk.CollectionConverters._
    core.asScala.toSeq.map { case (v, c) => (v, c) }.toDF("vertex", "coreness")
  }

  /** Densest subgraph, 2.2-approx (Charikar 2000's greedy peel in the
    * parallel threshold form of Bahmani, Kumar & Vassilvitskii 2012):
    * each round removes EVERY vertex whose degree is ≤ 2(1+ε)·(m/n)
    * with ε = 0.1, remembers the round's (n, m, vertex set), and the
    * answer is the vertex set of the densest snapshot (max m/n;
    * earliest round on ties), each vertex carrying the rounded
    * density. The threshold compare is INTEGER — keep iff
    * 10·deg·n > 22·m, evaluated in decimal so it cannot overflow at
    * any scale — and the best-round pick is an exact cross-multiply,
    * so both engines peel and pick identically with zero FP until the
    * single final ROUND(m/n, 6). Rounds are O(log n): at most n/1.1
    * vertices can exceed 1.1× the average degree, so the vertex set
    * shrinks geometrically — the property that makes the peel viable
    * as a fixed driver loop at 100 TB (vs the sequential
    * one-vertex-per-step classic). Retention is O(|V|) TOTAL: instead
    * of holding every round's full checkpointed degree frame alive
    * until the best-round pick (O(V·rounds) ≈ 30× vertex-set storage
    * at scale), each round contributes one small removal-tag delta —
    * only the vertices that LEFT the degree frame this round, tagged
    * with the round index — and only the (n, m) pair is snapshotted
    * per round. The deltas partition the vertex set (each vertex is
    * tagged exactly once, the round it disappears), so membership in
    * the best round's snapshot is exactly `removal_round ≥ best`, and
    * no growing re-union is ever checkpointed (the same delta-frame
    * discipline as [[coreness]]'s peel). Driver twin under the edge
    * threshold; spec pins both paths identical on a planted
    * clique+tail graph and pins the partition property of the deltas.
    */
  def densestSubgraph(edges: DataFrame,
      maxLocalEdges: Long = LocalEdgeThreshold): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = canonEdges(edges)
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint()
    val m0 = e.count()
    if (m0 <= maxLocalEdges) return localDensest(spark, e)
    val (removedAt, stats) = densestPeelRounds(e, m0)
    if (stats.isEmpty) return Seq.empty[(Long, Double)].toDF("vertex", "density")
    // exact-rational argmax of m/n across rounds; earliest on ties
    var best = 0
    for (i <- 1 until stats.length)
      if (BigInt(stats(i)._2) * BigInt(stats(best)._1) >
          BigInt(stats(best)._2) * BigInt(stats(i)._1)) best = i
    val (bn, bm) = stats(best)
    removedAt
      .foldLeft(Seq.empty[(Long, Int)].toDF("vertex", "removal_round"))(_ unionAll _)
      .where(col("removal_round") >= best + 1)
      .select(col("vertex"))
      .withColumn("density",
        round(lit(bm).cast("double") / lit(bn).cast("double"), 6))
  }

  /** Distributed threshold-peel core for [[densestSubgraph]]: runs the
    * Bahmani rounds on a canonical checkpointed edge frame and returns
    * (per-round removal-tag deltas, per-round (n, m) stats). The deltas
    * are vertex-disjoint `(vertex, removal_round)` frames summing to
    * |V| rows across the whole run — a vertex is tagged in the round it
    * leaves the degree frame, whether threshold-peeled or kept-but-
    * isolated by the prune. Package-private so the spec can assert the
    * partition property (= the O(V) retention contract) directly.
    */
  private[graft] def densestPeelRounds(e0: DataFrame, m0: Long)
      : (Seq[DataFrame], Seq[(Long, Long)]) = {
    var e = e0
    var m = m0
    val removedAt = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var r = 0
    while (m > 0) {
      r += 1
      require(r <= 10000, "densestSubgraph: round guard tripped")
      val deg = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
        .groupBy("x").agg(count(lit(1)).as("d")).localCheckpoint()
      val n = deg.count()
      stats += ((n, m))
      // min degree ≤ avg = 2m/n ≤ 2.2·m/n, so every round removes at
      // least the min-degree vertex: n and m strictly shrink
      val keep = deg.where(
        col("d").cast("decimal(38,0)") * lit(10L) * lit(n) > lit(22L) * lit(m))
        .select("x")
      e = e.join(keep.select(col("x").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("x").as("v")), Seq("v"), "left_semi")
        .localCheckpoint()
      m = e.count()
      // everything in this round's degree frame that is absent from the
      // surviving edge endpoints left THIS round (threshold peel +
      // prune-isolated kept vertices alike); checkpointing the delta
      // cuts its lineage to this round's deg/e so neither stays live
      removedAt += deg.select("x").join(
        e.select(col("u").as("x")).unionAll(e.select(col("v").as("x"))).distinct(),
        Seq("x"), "left_anti")
        .select(col("x").as("vertex"), lit(r).as("removal_round")).localCheckpoint()
    }
    (removedAt.toSeq, stats.toSeq)
  }

  /** Driver-side densest-subgraph twin: the identical threshold peel
    * and exact-rational best-round pick on a collected edge array.
    */
  private def localDensest(spark: SparkSession, undirected: DataFrame): DataFrame = {
    import spark.implicits._
    var es = collectPairs(undirected)
    val snaps = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Array[Long])]
    while (es.nonEmpty) {
      val deg = new java.util.HashMap[Long, Long]()
      es.foreach { case (u, v) => deg.merge(u, 1L, _ + _); deg.merge(v, 1L, _ + _) }
      val n = deg.size.toLong
      val m = es.length.toLong
      import scala.jdk.CollectionConverters._
      snaps += ((n, m, deg.keySet().asScala.map(x => x: Long).toArray))
      val keep = deg.asScala.collect {
        case (x, d) if BigInt(d) * 10 * n > BigInt(22) * m => x
      }.toSet
      es = es.filter { case (u, v) => keep(u) && keep(v) }
    }
    if (snaps.isEmpty) return Seq.empty[(Long, Double)].toDF("vertex", "density")
    val (bn, bm, bverts) = snaps.reduceLeft { (a, b) =>
      if (BigInt(b._2) * BigInt(a._1) > BigInt(a._2) * BigInt(b._1)) b else a
    }
    val density = BigDecimal(bm.toDouble / bn.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    bverts.sorted.toSeq.map(v => (v, density)).toDF("vertex", "density")
  }

  /** Driver-side k-core twin for sub-threshold graphs: identical
    * monotone-prune fixpoint, exact integer degrees.
    */
  private def localKCore(spark: SparkSession, undirected: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    var es = collectPairs(undirected)
    var changed = true
    while (changed && es.nonEmpty) {
      val deg = new java.util.HashMap[Long, Long]()
      es.foreach { case (u, v) => deg.merge(u, 1L, _ + _); deg.merge(v, 1L, _ + _) }
      val next = es.filter { case (u, v) => deg.get(u) >= k && deg.get(v) >= k }
      changed = next.length != es.length
      es = next
    }
    val deg = new java.util.HashMap[Long, Long]()
    es.foreach { case (u, v) => deg.merge(u, 1L, _ + _); deg.merge(v, 1L, _ + _) }
    import scala.jdk.CollectionConverters._
    deg.asScala.toSeq.map { case (v, c) => (v, c) }.toDF("vertex", "core_deg")
  }

  /** k-truss decomposition of the undirected simple graph: the maximal
    * subgraph in which every edge closes ≥ k−2 triangles *within the
    * subgraph* — the standard cohesion refinement one notch above
    * k-core (Cohen's definition). Returns the surviving edges with
    * their final in-truss support.
    *
    * Distributed shape: the same monotone prune-to-fixpoint loop as
    * [[kCore]], but each round's metric is per-EDGE triangle support —
    * the low→high oriented wedge join of [[triangleCounts]] (each
    * triangle a<b<c enumerated once, crediting its three edges),
    * never an all-pairs product. The edge set only shrinks, so rounds
    * ≤ |E| with one checkpointed wedge join + semi-join per round;
    * driver twin below the edge threshold (spec pins both paths
    * identical). Requires k ≥ 3 (at k ≥ 3 every surviving edge closes
    * a triangle, so the final support join is inner).
    */
  def kTruss(edges: DataFrame, k: Int, maxRounds: Int = 64,
      maxLocalEdges: Long = LocalEdgeThreshold): DataFrame = {
    require(k >= 3, s"kTruss needs k >= 3, got $k")
    var e = canonEdges(edges)
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint()
    var n = e.count()
    if (n <= maxLocalEdges) return localKTruss(edges.sparkSession, e, k)
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

  /** Driver-side k-truss twin for sub-threshold graphs: identical
    * monotone prune fixpoint via neighbor-set intersections.
    */
  private def localKTruss(spark: SparkSession, undirected: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    def supportOf(es: Seq[(Long, Long)]): Map[(Long, Long), Long] = {
      val adj = es.flatMap { case (u, v) => Seq(u -> v, v -> u) }
        .groupBy(_._1).map { case (x, ps) => x -> ps.map(_._2).toSet }
      es.map { case (u, v) => (u, v) -> (adj(u) & adj(v)).size.toLong }.toMap
    }
    var es: Seq[(Long, Long)] = collectPairs(undirected).toSeq
    var changed = true
    while (changed && es.nonEmpty) {
      val sup = supportOf(es)
      val next = es.filter(p => sup(p) >= k - 2)
      changed = next.length != es.length
      es = next
    }
    val sup = supportOf(es)
    es.map { case (u, v) => (u, v, sup((u, v))) }.toDF("u", "v", "support")
  }

  /** Per-vertex triangle participation counts over the undirected
    * simple graph. Edges are oriented low→high so each triangle is
    * enumerated exactly once (a<b<c) — the standard shuffle-minimal
    * formulation; the wedge join is the only heavy stage.
    */
  def triangleCounts(edges: DataFrame,
      maxLocalEdges: Long = LocalEdgeThreshold): DataFrame = {
    val u = canonEdges(edges)
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    if (u.count() <= maxLocalEdges) {
      val out = localTriangles(edges.sparkSession, u)
      u.unpersist()
      return out
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
    tri.unpersist(); u.unpersist()
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
    val u = canonEdges(edges)
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct().localCheckpoint()
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
    val u = canonEdges(edges)
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct().localCheckpoint()
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
    * chain-of-cycles spec pins this. Sub-threshold graphs run Kosaraju
    * on the driver.
    *
    * `maxRounds` bounds the refinement generations; a remainder that
    * resists that many refinements (each round strictly refines, so
    * this needs an adversarial nesting ≥ maxRounds deep) falls back to
    * driver Kosaraju, guarded by [[LocalEdgeThreshold]] — past both,
    * the op fails loudly rather than grinding.
    */
  def scc(edges: DataFrame, maxLocalEdges: Long = LocalEdgeThreshold,
      maxRounds: Int = 64): DataFrame = {
    val ce = canonEdges(edges).where(col("src") =!= col("dst"))
      .distinct().localCheckpoint()
    val verts = ce.select(col("src").as("v")).unionAll(ce.select(col("dst").as("v")))
      .distinct().localCheckpoint()
    if (ce.count() <= maxLocalEdges) return localScc(edges.sparkSession, ce, verts)

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
      val remEdges = e
        .join(cls.select(col("v").as("src")), Seq("src"), "left_semi")
        .join(cls.select(col("v").as("dst")), Seq("dst"), "left_semi")
        .localCheckpoint()
      require(remEdges.count() <= maxLocalEdges,
        s"scc: $remaining vertices unresolved after $maxRounds refinement rounds " +
          "and the remainder exceeds the driver fallback threshold")
      out += localScc(edges.sparkSession, remEdges, cls.select(col("v")))
    }
    out.reduce(_ unionAll _)
  }

  /** Driver-side Kosaraju twin for sub-threshold graphs: two iterative
    * DFS passes (finish order on G, assignment on Gᵀ), components
    * relabeled by their minimum vertex id.
    */
  private def localScc(spark: SparkSession, e: DataFrame, verts: DataFrame): DataFrame = {
    import spark.implicits._
    val es = collectPairs(e)
    val vs = verts.collect().map(_.getLong(0)).sorted
    val adj = adjacencyOf(es)
    val radj = adjacencyOf(es.map(_.swap))
    // pass 1: iterative DFS finish order on G
    val seen = new java.util.HashSet[Long]()
    val finish = scala.collection.mutable.ArrayBuffer.empty[Long]
    vs.foreach { start =>
      if (!seen.contains(start)) {
        val stack = scala.collection.mutable.Stack[(Long, Int)]((start, 0))
        seen.add(start)
        while (stack.nonEmpty) {
          val (v, i) = stack.pop()
          val ns = adj.getOrDefault(v, scala.collection.mutable.ArrayBuffer.empty)
          if (i < ns.length) {
            stack.push((v, i + 1))
            val w = ns(i)
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
          radj.getOrDefault(v, scala.collection.mutable.ArrayBuffer.empty).foreach { w =>
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
    * one top-1 reduction per round, edges cached across rounds.
    */
  def labelPropagation(edges: DataFrame, iters: Int,
      maxLocalEdges: Long = LocalEdgeThreshold): DataFrame = {
    val ce = canonEdges(edges).localCheckpoint() // one derivation, two branches
    val und = ce
      .select(col("src").as("a"), col("dst").as("b"))
      .unionAll(ce.select(col("dst"), col("src")))
      .where(col("a") =!= col("b")).distinct().localCheckpoint()
    if (und.count() <= maxLocalEdges)
      return localLpa(edges.sparkSession, und, iters)
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

  /** Driver-side sync-LPA twin for sub-threshold graphs. */
  private def localLpa(spark: SparkSession, und: DataFrame, iters: Int): DataFrame = {
    import spark.implicits._
    val adj = adjacencyOf(collectPairs(und))
    import scala.jdk.CollectionConverters._
    val verts = adj.keySet().asScala.toArray.sorted
    var lab = new java.util.HashMap[Long, Long]()
    verts.foreach(v => lab.put(v, v))
    for (_ <- 1 to iters) {
      val next = new java.util.HashMap[Long, Long]()
      verts.foreach { v =>
        val freq = new java.util.HashMap[Long, Long]()
        adj.get(v).foreach(n => freq.merge(lab.get(n), 1L, _ + _))
        var bestLab = Long.MaxValue
        var bestC = 0L
        freq.forEach { (l, c) =>
          if (c > bestC || (c == bestC && l < bestLab)) { bestC = c; bestLab = l }
        }
        next.put(v, bestLab)
      }
      lab = next
    }
    verts.map(v => (v, lab.get(v))).toSeq.toDF("vertex", "community")
  }

  /** HITS hubs & authorities (Kleinberg 1999), fixed iteration count
    * with L1 normalization after each half-step: starting from h=1,
    * each round computes a(v) = Σ_{u→v} h(u) (then a ← a/Σa) and
    * h(v) = Σ_{v→u} a(u) (then h ← h/Σh). Sum-normalization keeps the
    * oracle a plain unrolled CTE chain (no sqrt). Each half-step is one
    * join + one aggregation shuffled on the vertex id; the L1 total is
    * a scalar aggregate (at 100 TB: a tree-reduce, not a collect of
    * vectors). Callers round (6 dp) — normalization noise is ~1e-15.
    */
  def hits(edges: DataFrame, iters: Int,
      maxLocalEdges: Long = LocalEdgeThreshold, hubOutDegree: Long = 0L): DataFrame = {
    // Born hash-partitioned by src (one exchange, see [[pagerank]]).
    val e = canonEdges(edges).repartition(col("src")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val eCount = e.count()
    if (eCount <= maxLocalEdges) {
      val out = localHits(edges.sparkSession, e, iters)
      e.unpersist()
      return out
    }
    // The hub half-step joins on dst, so a by-dst copy makes BOTH
    // half-steps exchange-free on the edge side — the star-rounds
    // pattern: 2× edge cache buys away 2×iters full-edge exchanges,
    // leaving only the vertex-sized score frames shuffling per step.
    // The copy is DISK_ONLY (r13): each half-step reads it exactly
    // once sequentially, so disk residency costs one scan — never an
    // exchange — and the loop family's MEMORY cache footprint stays
    // one edges-sized frame instead of pressure-evicting neighbors on
    // tight executors. Both caches release before the final joins.
    val eByDst = e.repartition(col("dst")).persist(StorageLevel.DISK_ONLY)
    eByDst.count()
    audit("hits:eByDst:DISK_ONLY")
    val verts = e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v")))
      .distinct().localCheckpoint()
    // Power-law skew splits BOTH directions (same [[hubSplit]] layout
    // as pagerank): out-degree hubs straggle the authority step's
    // by-src partition, IN-degree hubs the hub step's by-dst
    // partition. Auto threshold ⇒ no-op on every shipped graph.
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("od"))
    val srcSplit = hubSplit(e, eCount, outdeg, hubOutDegree)
    val indeg = eByDst.groupBy("dst").agg(count(lit(1)).as("od"))
    val dstSplit = hubSplit(eByDst, eCount, indeg, hubOutDegree,
      key = "dst", tailLevel = StorageLevel.DISK_ONLY)
    var h = verts.withColumn("s", lit(1.0))
    var a = h
    def halfStep(scores: DataFrame, inCol: String, outCol: String): DataFrame = {
      val split = if (inCol == "src") srcSplit else dstSplit
      val tailRows = split.tail.join(scores.withColumnRenamed("v", inCol), inCol)
        .select(col(outCol).as("v"), col("s"))
      val rows = split.hub match {
        case None => tailRows
        case Some(hubE) =>
          val hubScores = scores
            .join(broadcast(split.hubDeg.get
              .withColumnRenamed(inCol, "v").select("v")), "v")
            .withColumnRenamed("v", inCol)
          tailRows.unionAll(
            hubE.join(broadcast(hubScores), inCol)
              .select(col(outCol).as("v"), col("s")))
      }
      val pushed = rows.groupBy("v").agg(sum(col("s")).as("x"))
      val raw = verts.join(pushed, Seq("v"), "left")
        .select(col("v"), coalesce(col("x"), lit(0.0)).as("x"))
        .localCheckpoint()
      val tot = raw.agg(sum(col("x"))).head().getDouble(0)
      raw.select(col("v"), (col("x") / tot).as("s"))
    }
    for (_ <- 1 to iters) {
      a = halfStep(h, "src", "dst") // authority ← in-edge hub mass
      h = halfStep(a, "dst", "src") // hub ← out-edge authority mass
    }
    // halfStep localCheckpoints each score frame, so the edge caches
    // are no longer needed for the final join — release them here (the
    // local path above unpersists too; leaving them cached leaks
    // blocks across bench iterations).
    srcSplit.unpersistAll(); dstSplit.unpersistAll()
    verts.join(a.withColumnRenamed("s", "authority"), "v")
      .join(h.withColumnRenamed("s", "hub"), "v")
      .select(col("v").as("vertex"), col("authority"), col("hub"))
  }

  /** Driver-side HITS twin for sub-threshold graphs: identical
    * half-step/normalize schedule.
    */
  private def localHits(spark: SparkSession, e: DataFrame, iters: Int): DataFrame = {
    import spark.implicits._
    val es = collectPairs(e)
    val verts = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    var h = verts.map(_ -> 1.0).toMap
    var a = h
    def halfStep(scores: Map[Long, Double], pairs: Array[(Long, Long)]): Map[Long, Double] = {
      val acc = new java.util.HashMap[Long, Double]()
      pairs.foreach { case (from, to) => acc.merge(to, scores(from), _ + _) }
      val raw = verts.map(v => v -> acc.getOrDefault(v, 0.0)).toMap
      val tot = verts.iterator.map(raw).sum
      raw.map { case (v, x) => v -> x / tot }
    }
    for (_ <- 1 to iters) {
      a = halfStep(h, es)          // along src→dst
      h = halfStep(a, es.map(_.swap)) // along dst→src
    }
    verts.map(v => (v, a(v), h(v))).toSeq.toDF("vertex", "authority", "hub")
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

  /** Driver-side triangle-count twin for sub-threshold graphs: oriented
    * higher-neighbor intersection, each triangle a<b<c counted once.
    */
  private def localTriangles(spark: SparkSession, u: DataFrame): DataFrame = {
    import spark.implicits._
    val es = collectPairs(u)
    val up = new java.util.HashMap[Long, scala.collection.mutable.TreeSet[Long]]()
    es.foreach { case (a, b) =>
      up.computeIfAbsent(a, _ => scala.collection.mutable.TreeSet.empty[Long]) += b
    }
    val counts = new java.util.HashMap[Long, Long]()
    es.foreach { case (a, b) =>
      val na = up.get(a)
      val nb = up.get(b)
      if (na != null && nb != null) {
        val (small, large) = if (na.size <= nb.size) (na, nb) else (nb, na)
        small.foreach { c =>
          if (c != a && c != b && large.contains(c)) {
            counts.merge(a, 1L, _ + _)
            counts.merge(b, 1L, _ + _)
            counts.merge(c, 1L, _ + _)
          }
        }
      }
    }
    import scala.jdk.CollectionConverters._
    counts.asScala.toSeq.map { case (v, c) => (v, c) }.toDF("vertex", "n_tri")
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
    *  - execution: driver-local Brandes under [[LocalEdgeThreshold]]
    *    edges (the reference's whole-matrix-per-query regime,
    *    secondary_server.c:126-137), else the distributed
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
    val e = canonEdges(edges).where(col("src") =!= col("dst"))
      .distinct().localCheckpoint()
    val verts = e.select(col("src").as("v"))
      .unionAll(e.select(col("dst").as("v"))).distinct().localCheckpoint()
    val nv = verts.count()
    // source list is driver-state by design: ≤ maxExactVerts ids when
    // exact, ≤ sampleSources when sampled — never corpus-sized
    val srcArr: Array[Long] =
      if (nv <= maxExactVerts) verts.collect().map(_.getLong(0)).sorted
      else verts
        .orderBy(xxhash64(lit(BetweennessPivotSeed), col("v")), col("v"))
        .limit(sampleSources).collect().map(_.getLong(0))
    val scale = nv.toDouble / srcArr.length
    val dep =
      if (e.count() <= maxLocalEdges) localBrandes(spark, collectPairs(e), srcArr)
      else distBrandes(e, srcArr, hubOutDegree)
    verts.join(dep, verts("v") === dep("vertex"), "left")
      .select(verts("v").as("vertex"),
        round(coalesce(col("dep"), lit(0.0)) * lit(scale), 6).as("betweenness"),
        lit(srcArr.length.toLong).as("n_sources"))
  }

  /** Driver-side Brandes twin (Brandes 2001, Alg. 1) for
    * sub-threshold graphs: per source, one σ-counting BFS, then the
    * backward accumulation δ(w) += σ_w/σ_v · (1+δ(v)) over
    * shortest-path-DAG out-edges (dist(v) = dist(w)+1 — no
    * predecessor lists needed with out-adjacency at hand). Returns
    * (vertex, dep) = Σ_sources δ, zero rows omitted.
    */
  private def localBrandes(spark: SparkSession, pairs: Array[(Long, Long)],
      sources: Array[Long]): DataFrame = {
    import spark.implicits._
    val adj = adjacencyOf(pairs)
    val total = new java.util.HashMap[Long, Double]()
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
        val ns = adj.get(v)
        if (ns != null) ns.foreach { w =>
          if (!dist.containsKey(w)) { dist.put(w, dv + 1); q += w }
          if (dist.get(w) == dv + 1)
            sigma.merge(w, sigma.get(v), _ + _)
        }
      }
      val dep = new java.util.HashMap[Long, Double]()
      order.reverseIterator.foreach { w =>
        val dw = dist.get(w)
        val ns = adj.get(w)
        if (ns != null) {
          var acc = 0.0
          ns.foreach { v =>
            if (dist.containsKey(v) && dist.get(v) == dw + 1)
              acc += (1.0 + dep.getOrDefault(v, 0.0)) / sigma.get(v)
          }
          if (acc != 0.0) dep.put(w, acc * sigma.get(w))
        }
      }
      dep.forEach((v, d) => if (v != s) total.merge(v, d, _ + _))
    }
    import scala.jdk.CollectionConverters._
    total.asScala.toSeq.map { case (v, d) => (v, d) }.toDF("vertex", "dep")
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
  private def distBrandes(e0: DataFrame, sources: Array[Long],
      hubOutDegree: Long = 0L): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    val e = e0.persist(StorageLevel.MEMORY_AND_DISK)
    val eCount = e.count()
    var srcSplit: HubSplit = null
    var dstSplit: HubSplit = null
    def bySrc(): HubSplit = {
      if (srcSplit == null) {
        val eBySrc = e.repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
        eBySrc.count()
        val od = eBySrc.groupBy("src").agg(count(lit(1)).as("od"))
        srcSplit = hubSplit(eBySrc, eCount, od, hubOutDegree,
          releaseOnError = Seq(e))
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
          key = "dst", tailLevel = StorageLevel.DISK_ONLY,
          releaseOnError = Seq(e))
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
    e.unpersist()
    if (srcSplit != null) srcSplit.unpersistAll()
    if (dstSplit != null) dstSplit.unpersistAll()
    deltaFrames.reduce(_ unionAll _)
      .where(col("vertex") =!= col("tag"))
      .groupBy("vertex").agg(sum("delta").as("dep"))
  }

  /** Weighted single-source shortest paths over a (src, dst, w) edge
    * list with non-negative integer tolls. Contract: (vertex, dist)
    * with dist = minimum total toll from `source`; unreachable vertices
    * absent. The reference's traversals are unweighted (dfs_bfs.h); the
    * weighted variant is the natural extension every road/trade-network
    * user asks of a graph engine.
    *
    * Execution is frontier relaxation — Bellman-Ford restricted to the
    * vertices whose distance improved last round (delta-stepping's
    * one-bucket degenerate form, the shape that distributes):
    *  - per round, the improved frontier joins the cached edge frame
    *    (broadcast while small; past the broadcast bound the edges are
    *    re-persisted hash-partitioned by src once, the BFS-loop trade),
    *  - candidate distances min-combine per dst (map-side partial),
    *  - the vertex-partitioned dist frame full-outer-merges the
    *    candidates exchange-free (both sides already hash(vertex)), and
    *    the rows that improved become the next frontier.
    *  - Rounds are bounded by [[ssspRoundCap]]: `maxRounds` 0 (the
    *    default) auto-scales the cap to max(256, |E|). Label-correcting
    *    relaxation can legitimately need up to the weighted
    *    shortest-path hop depth (≤ |V|−1 ≤ |E|+1 per component)
    *    rounds, so the auto cap can NEVER reject a valid input — it
    *    only stops a genuinely non-terminating loop (which, with
    *    non-negative integer tolls, cannot occur; the cap is a
    *    backstop, and hitting it still fails loudly).
    * Driver Dijkstra below `maxLocalEdges` (the same adaptive split as
    * every other traversal; specs force 0 to pin both paths equal).
    */
  def sssp(edges: DataFrame, source: Long, maxRounds: Int = 0,
      maxLocalEdges: Long = LocalEdgeThreshold, hubOutDegree: Long = 0L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val eCount = e.count()
    if (eCount <= maxLocalEdges) {
      val out = localDijkstra(spark, e, source)
      e.unpersist()
      return out
    }
    var dist = Seq((source, 0L)).toDF("vertex", "dist")
      .repartition(col("vertex")).localCheckpoint()
    var frontier = dist
    var frontierRows = 1L
    // Same lazily-built partitioned layout as the BFS loop, with the
    // same [[hubSplit]] hub peel: past the broadcast bound only the
    // frontier shuffles per round, and a power-law source's edges are
    // relaxed by every partition (broadcast of the frontier's hub
    // slice) instead of one straggler task.
    var eSplit: HubSplit = null
    def partitionedSplit(): HubSplit = {
      if (eSplit == null) {
        val eBySrc = e.repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
        eBySrc.count()
        val od = eBySrc.groupBy("src").agg(count(lit(1)).as("od"))
        eSplit = hubSplit(eBySrc, eCount, od, hubOutDegree,
          releaseOnError = Seq(e))
        e.unpersist()
      }
      eSplit
    }
    // frontier×edges candidate rows for one round over whichever
    // layout exists (mirrors the BFS expand)
    def relaxed(f: DataFrame, broadcastSide: Boolean): DataFrame = {
      if (eSplit == null && broadcastSide)
        return e.join(broadcast(f), e("src") === f("vertex"))
          .select(col("dst").as("vertex"), (f("dist") + col("w")).as("nd"))
      val hs = partitionedSplit()
      val fb = if (broadcastSide) broadcast(f) else f
      val tailRows = hs.tail.join(fb, hs.tail("src") === fb("vertex"))
        .select(col("dst").as("vertex"), (fb("dist") + col("w")).as("nd"))
      hs.hub match {
        case None => tailRows
        case Some(hubE) =>
          val hubF = broadcast(f.join(
            broadcast(hs.hubDeg.get.select(col("src").as("vertex"))),
            Seq("vertex"), "left_semi"))
          tailRows.unionAll(
            hubE.join(hubF, hubE("src") === hubF("vertex"))
              .select(col("dst").as("vertex"), (hubF("dist") + col("w")).as("nd")))
      }
    }
    val roundCap = ssspRoundCap(maxRounds, eCount)
    var round = 0L
    while (frontierRows > 0 && round < roundCap) {
      round += 1
      val small = frontierRows <= broadcastFrontier
      val cand = relaxed(frontier, small)
        .groupBy("vertex").agg(min("nd").as("nd"))
      // dist is hash(vertex)-partitioned (repartition at birth, then
      // each round's merge retains the join partitioning through the
      // checkpoint), and cand leaves its aggregate hash(vertex)-
      // partitioned too — the full-outer merge plans exchange-free.
      val merged = dist.join(cand, Seq("vertex"), "full_outer")
        .select(col("vertex"),
          least(coalesce(col("dist"), col("nd")),
            coalesce(col("nd"), col("dist"))).as("dist"),
          (col("nd").isNotNull &&
            (col("dist").isNull || col("nd") < col("dist"))).as("improved"))
        .localCheckpoint()
      // The frontier is a filter over the merged checkpoint's cached
      // blocks — no second job.
      frontier = merged.where(col("improved")).select("vertex", "dist")
      frontierRows = frontier.count()
      dist = merged.select("vertex", "dist")
    }
    e.unpersist()
    if (eSplit != null) eSplit.unpersistAll()
    // Mirror scc's contract: an exhausted round budget with a live
    // frontier means the returned distances are NOT final — fail loudly
    // rather than emit silently-wrong output (bfs's precedent is an
    // unbounded default; sssp's bound exists only to cap a pathological
    // toll chain, so hitting it is an error, not a result).
    require(frontierRows == 0,
      s"sssp: frontier still has $frontierRows improvable vertices after " +
        s"$roundCap rounds — distances not converged; raise maxRounds")
    dist
  }

  /** The sssp round budget as a pure function of (caller request,
    * edge count) — spec-pinned in all three regimes. `maxRounds` > 0
    * is an explicit caller cap, taken verbatim; 0 auto-scales to
    * max(256, |E|), an upper bound on the hop depth of any weighted
    * shortest path (≤ |V|−1 ≤ |E|+1 within a component), so the
    * default can never reject a valid deep-chain graph.
    */
  private[graft] def ssspRoundCap(maxRounds: Int, eCount: Long): Long =
    if (maxRounds > 0) maxRounds.toLong else math.max(256L, eCount)

  /** Minimum spanning forest over a (src, dst, w) edge list, treated
    * undirected (per unordered pair the minimum toll wins). The
    * composite order (w, a, b) totally orders the edge set, so the MSF
    * is UNIQUE — every correct algorithm returns the same forest,
    * which is what lets the driver Kruskal twin, the distributed
    * Borůvka loop, and the oracle's cycle-property formulation all be
    * hash-compared. Output: (src, dst, w) canonical (src < dst).
    *
    * Distributed execution is Borůvka — the textbook MSF that
    * distributes: per round every component nominates its (w, a, b)-
    * minimum outgoing edge (one min(struct) aggregate = map-side
    * partial), nominated edges join the forest, and components
    * contract by running [[connectedComponents]] on the nomination
    * graph (component-count-sized, itself adaptive). Components at
    * least halve per round → ≤ log₂(V) rounds; each round's network
    * is two label joins + one aggregate over surviving cross edges,
    * and the surviving edge set only shrinks. Driver Kruskal under
    * `maxLocalEdges` (same adaptive split as every traversal).
    */
  def msf(edges: DataFrame, maxRounds: Int = 64,
      maxLocalEdges: Long = LocalEdgeThreshold): DataFrame = {
    val spark = edges.sparkSession
    val ue = edges.select(
      least(col("src"), col("dst")).cast("long").as("a"),
      greatest(col("src"), col("dst")).cast("long").as("b"),
      col("w").cast("long").as("w"))
      .where(col("a") =!= col("b"))
      .groupBy("a", "b").agg(min("w").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ueCount = ue.count()
    if (ueCount <= maxLocalEdges) {
      val out = localKruskal(spark, ue)
      ue.unpersist()
      return out
    }
    // comp: (vertex, comp) — every vertex starts as its own component.
    var comp = ue.select(col("a").as("vertex"))
      .unionAll(ue.select(col("b").as("vertex"))).distinct()
      .select(col("vertex"), col("vertex").as("comp"))
      .repartition(col("vertex")).localCheckpoint()
    var live = ue
    val forest = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 0
    var liveRows = ueCount
    while (liveRows > 0 && round < maxRounds) {
      round += 1
      // relabel both endpoints, keep cross-component edges only
      val ca = comp.select(col("vertex").as("a"), col("comp").as("cu"))
      val cb = comp.select(col("vertex").as("b"), col("comp").as("cv"))
      val e2 = live.join(ca, "a").join(cb, "b")
        .where(col("cu") =!= col("cv"))
        .localCheckpoint()
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
        comp = comp.join(relabel, Seq("comp"), "left")
          .select(col("vertex"),
            coalesce(col("newComp"), col("comp")).as("comp"))
          .repartition(col("vertex")).localCheckpoint()
        live = e2.select("a", "b", "w")
      }
    }
    ue.unpersist()
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

  /** Driver Kruskal twin: sort by (w, a, b), union-find. */
  private def localKruskal(spark: SparkSession, ue: DataFrame): DataFrame = {
    import spark.implicits._
    val es = ue.collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1)))
      .sortBy(identity)
    val uf = new UnionFind()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    es.foreach { case (w, a, b) => if (uf.union(a, b)) out += ((a, b, w)) }
    out.toSeq.toDF("src", "dst", "w")
  }

  /** Driver-side Dijkstra twin of the relaxation loop: same
    * (vertex, dist) min-toll contract, identical output.
    */
  private def localDijkstra(spark: SparkSession, e: DataFrame, source: Long): DataFrame = {
    import spark.implicits._
    val adj = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[(Long, Long)]]()
    e.collect().foreach { r =>
      adj.computeIfAbsent(r.getLong(0),
        _ => scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]) +=
        ((r.getLong(1), r.getLong(2)))
    }
    val dist = new java.util.HashMap[Long, Long]()
    val pq = new java.util.PriorityQueue[(Long, Long)](
      (a: (Long, Long), b: (Long, Long)) => java.lang.Long.compare(a._1, b._1))
    pq.add((0L, source))
    while (!pq.isEmpty) {
      val (d, v) = pq.poll()
      if (!dist.containsKey(v)) {
        dist.put(v, d)
        val ns = adj.get(v)
        if (ns != null) ns.foreach { case (u, w) =>
          if (!dist.containsKey(u)) pq.add((d + w, u))
        }
      }
    }
    import scala.jdk.CollectionConverters._
    dist.asScala.toSeq.map { case (v, d) => (v, d) }.toDF("vertex", "dist")
  }
}
