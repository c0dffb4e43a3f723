package graft.graph

import java.util.Arrays

import scala.collection.mutable

import org.apache.spark.Partitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Graft's level-synchronous graph loops as RDD supersteps over
  * primitive per-partition blocks, the way GraphX runs Pregel
  * (PAPERS.md: GraphX, OSDI'14): the BFS frontier loop behind
  * [[GraphOps.bfs]], and the push rounds of a vertex [[Program]] —
  * the sums behind PageRank, PPR, HITS and the k-core peel, and the
  * histogram tallies behind coreness and the densest-subgraph peel.
  * Each level or round is ONE Spark job and no Catalyst planning.
  *
  * A call reads its edges exactly once, in one [[intake]] job: the
  * (src, dst) pairs local-checkpointed as primitive arrays, their
  * count, and — at or below the call's driver bound — every pair, on
  * which the driver twin runs with no further job. Above the bound the
  * loop builds its blocks from the checkpointed intake, so no later job
  * reads, counts or caches the input, and no frame enters Spark's
  * `CacheManager`. Duplicate edges are not planned away in front of the
  * intake: a kernel drops them where a source's edges first meet
  * ([[Csr.deduped]]) — the driver's one block, or an exchanged
  * by-source block.
  *
  * A BFS level expands the frontier over the edge blocks, shuffles the
  * candidate (tag, vertex) pairs by vertex, and drops the visited ones
  * in a co-partitioned `zipPartitions` against `visited`. A push round
  * ([[push]]) sends each vertex's message along its out-edges, merges
  * them per destination inside the map task (a sum, or a histogram of
  * (value, count) entries), and updates each vertex from what it
  * received in the reduce task that owns it. The job materializes
  * the next frontier or state (lineage cut by `localCheckpoint`) and
  * returns its size — plus the BFS frontier's rows while it is under the
  * broadcast bound, or the push state's count and total of states > 0.
  *
  * Scale geometry:
  *  - edges are CSR blocks (distinct sorted keys, offsets, values;
  *    ≈ 16 B per edge), built once per call from the intake; an
  *    exchanged block holds each of its sources' edges once;
  *  - a loop's partition count is the session's shuffle partitions,
  *    raised so an exchanged edge partition holds at most
  *    [[GraphOps.ContractTaskEdgeBound]] edges;
  *  - while a BFS frontier is under `graft.bfs.broadcastFrontier` it is
  *    broadcast and the edge blocks keep their input layout;
  *  - the first larger frontier, and each push direction ([[Dir]]:
  *    along the edges, against them, or both as their symmetric
  *    closure), exchanges the edges once by source ([[bySource]]) into
  *    the partitioning of the frontier, `visited` or the vertex state,
  *    so only candidates or per-destination messages shuffle;
  *  - sources above the hub out-degree ([[GraphOps.hubThreshold]]) move
  *    to round-robin hub blocks, fed by broadcast of the frontier's hub
  *    slice or the hubs' messages, so no task holds a whole hub alone;
  *  - `visited` is the union of the last compaction and the frontiers
  *    since; every [[CompactEvery]] levels it is merged into one set per
  *    partition, materialized in that level's job;
  *  - a job that sends rows back (the intake's pairs, a level's
  *    frontier) sends at most `bound` in all: a partition ships its
  *    rows only within its 1/partitions share of the bound, and when
  *    the whole fits the bound the partitions that held theirs back are
  *    fetched by a second job over the cached RDD ([[collectBounded]]);
  *  - every block a call built is released before return; only the
  *    returned level frontiers or result states stay persisted.
  * At or below `maxLocalEdges` the push rounds run the same block
  * functions on the driver, over one block of the intake's pairs per
  * direction.
  *
  * Memory: every per-partition structure is a heap object that cannot
  * spill — an edge block (≈ 16 B per edge; at most
  * ContractTaskEdgeBound edges once exchanged, ≈ 256 MB), a visited set
  * and a map task's deduplicated candidates (16 B per slot, 23-46 B per
  * (tag, vertex) pair), a push state or a map task's sums (16 B per
  * vertex; a round holds its input and output state), a map task's
  * tallies (16 B per entry, at most one per edge). A task's heap
  * must hold its partition's share of the reachable (tag, vertex) pairs
  * or of the vertices; a set past 2^30 slots (≈ 750M pairs) fails
  * rather than grow. Unlike a DataFrame anti-join or aggregation,
  * nothing here spills to disk, and AQE does not coalesce or split
  * these RDD shuffles.
  */
private[graft] object Supersteps {

  /** Levels between `visited` compactions. */
  val CompactEvery = 8

  private val Empty = Long.MinValue

  /** Parallel primitive arrays: (tag, vertex) frontier rows, (src, dst)
    * edges on their way through an exchange, or a push round's
    * (vertex, [[Histogram]] entry) tallies on their way to its state.
    */
  final case class Pairs(xs: Array[Long], ys: Array[Long]) {
    def size: Int = xs.length
  }

  private def concat(ps: Iterator[Pairs]): Pairs = {
    val xs = new mutable.ArrayBuilder.ofLong
    val ys = new mutable.ArrayBuilder.ofLong
    ps.foreach { p => xs.addAll(p.xs); ys.addAll(p.ys) }
    Pairs(xs.result(), ys.result())
  }

  /** Slots past which a [[PairSet]] fails instead of growing. */
  val MaxSetCapacity: Int = 1 << 30

  /** Open-addressing set of (tag, vertex) pairs (linear probing,
    * power-of-2 capacity, two flat long arrays). The pair
    * (MinValue, MinValue) marks an empty slot and, as a real pair, is
    * carried in a side flag. A set stops changing once a task returns
    * it: it is then a cached block other levels read.
    *
    * The probe rules are [[GraphOps.LongLongOpenMap]]'s, but that map
    * cannot hold these keys: a key here is two longs, and the set is a
    * serializable cached block. Its hash must also differ from
    * [[partOf]]'s: a partition's vertices all hash to one residue mod
    * the partition count, so with that hash (and a power-of-2 count)
    * its pairs would land on 1/partitions of the slots.
    */
  final class PairSet(expected: Long = 8) extends Serializable {
    private var cap = {
      var c = 16L
      while (c < expected * 2L) c <<= 1
      checkCapacity(c)
    }
    private var mask = cap - 1
    private var tags = new Array[Long](cap)
    private var verts = new Array[Long](cap)
    Arrays.fill(tags, Empty); Arrays.fill(verts, Empty)
    private var n = 0
    private var hasEmpty = false

    def size: Int = n + (if (hasEmpty) 1 else 0)

    @inline private def slot(t: Long, v: Long): Int = {
      var x = t * 0x9E3779B97F4A7C15L ^ v
      x = (x ^ (x >>> 33)) * 0xFF51AFD7ED558CCDL
      ((x ^ (x >>> 33)) & mask).toInt
    }

    def contains(t: Long, v: Long): Boolean = {
      if (t == Empty && v == Empty) return hasEmpty
      var i = slot(t, v)
      while (true) {
        val a = tags(i); val b = verts(i)
        if (a == t && b == v) return true
        if (a == Empty && b == Empty) return false
        i = (i + 1) & mask
      }
      false // unreachable
    }

    /** Adds the pair; false if it was already present. */
    def add(t: Long, v: Long): Boolean = {
      if (t == Empty && v == Empty) { val fresh = !hasEmpty; hasEmpty = true; return fresh }
      if ((n + 1) * 10L >= cap * 7L) grow()
      var i = slot(t, v)
      while (true) {
        val a = tags(i); val b = verts(i)
        if (a == t && b == v) return false
        if (a == Empty && b == Empty) { tags(i) = t; verts(i) = v; n += 1; return true }
        i = (i + 1) & mask
      }
      false // unreachable
    }

    private def checkCapacity(c: Long): Int = {
      if (c > MaxSetCapacity) throw new IllegalStateException(
        s"a BFS partition holds more than ${MaxSetCapacity * 7L / 10} (tag, vertex) pairs; " +
          "raise spark.sql.shuffle.partitions")
      c.toInt
    }

    private def grow(): Unit = {
      val ot = tags; val ov = verts
      cap = checkCapacity(cap * 2L); mask = cap - 1; n = 0
      tags = new Array[Long](cap); verts = new Array[Long](cap)
      Arrays.fill(tags, Empty); Arrays.fill(verts, Empty)
      var i = 0
      while (i < ot.length) {
        if (ot(i) != Empty || ov(i) != Empty) add(ot(i), ov(i))
        i += 1
      }
    }

    def foreach(f: (Long, Long) => Unit): Unit = {
      var i = 0
      while (i < cap) {
        if (tags(i) != Empty || verts(i) != Empty) f(tags(i), verts(i))
        i += 1
      }
      if (hasEmpty) f(Empty, Empty)
    }

    /** The pairs whose vertex passes `keep`, as (tags, vertices). */
    def pairs(keep: Long => Boolean = _ => true): Pairs = {
      val xs = new mutable.ArrayBuilder.ofLong
      val ys = new mutable.ArrayBuilder.ofLong
      foreach((t, v) => if (keep(v)) { xs.addOne(t); ys.addOne(v) })
      Pairs(xs.result(), ys.result())
    }
  }

  /** Sorts `vs(from until to)` and writes its distinct values from
    * `vs(at)` on (`at` ≤ `from`); returns the index past the last.
    */
  private def sortUnique(vs: Array[Long], from: Int, to: Int, at: Int): Int = {
    Arrays.sort(vs, from, to)
    var w = at
    var j = from
    while (j < to) {
      if (w == at || vs(j) != vs(w - 1)) { vs(w) = vs(j); w += 1 }
      j += 1
    }
    w
  }

  /** The distinct values of `xs`, sorted. */
  private[graph] def sortedDistinct(xs: Array[Long]): Array[Long] = {
    val sorted = Arrays.copyOf(xs, xs.length)
    Arrays.copyOf(sorted, sortUnique(sorted, 0, sorted.length, 0))
  }

  /** Compressed adjacency: distinct sorted `keys`; the values of
    * `keys(i)` are `vals(offs(i) until offs(i + 1))`, in input order.
    * An edge block maps src → dst; a frontier index maps vertex → tag;
    * a push block maps dst → sender; a round's tallies vertex → entry.
    */
  final class Csr(val keys: Array[Long], val offs: Array[Int], val vals: Array[Long])
      extends Serializable {
    def degree(i: Int): Int = offs(i + 1) - offs(i)

    /** The slots in `vals` of key `k`'s values; empty if `k` is absent. */
    def slots(k: Long): Range = {
      val i = Arrays.binarySearch(keys, k)
      if (i < 0) Range(0, 0) else Range(offs(i), offs(i + 1))
    }

    /** This block minus the sources in sorted `drop`. */
    def without(drop: Array[Long]): Csr = {
      val ks = new mutable.ArrayBuilder.ofLong
      val vs = new mutable.ArrayBuilder.ofLong
      foreachEdge((s, d) => if (Arrays.binarySearch(drop, s) < 0) { ks.addOne(s); vs.addOne(d) })
      Csr(ks.result(), vs.result())
    }

    /** This block with each key's values sorted and repeats dropped. */
    def deduped: Csr = {
      val vs = Arrays.copyOf(vals, vals.length)
      val os = new Array[Int](keys.length + 1)
      keys.indices.foreach(i => os(i + 1) = sortUnique(vs, offs(i), offs(i + 1), os(i)))
      new Csr(keys, os, Arrays.copyOf(vs, os(keys.length)))
    }

    /** Its edges as (key, value) arrays, in slot order. */
    def pairs: Pairs = Pairs(keys.indices.toArray.flatMap(i => Array.fill(degree(i))(keys(i))), vals)

    def foreachEdge(f: (Long, Long) => Unit): Unit = {
      var i = 0
      while (i < keys.length) {
        var j = offs(i)
        while (j < offs(i + 1)) { f(keys(i), vals(j)); j += 1 }
        i += 1
      }
    }
  }

  object Csr {
    def apply(ks: Array[Long], vs: Array[Long]): Csr = {
      val n = ks.length
      val keys = sortedDistinct(ks)
      val d = keys.length
      val at = new Array[Int](n)
      val offs = new Array[Int](d + 1)
      var i = 0
      while (i < n) { at(i) = Arrays.binarySearch(keys, ks(i)); offs(at(i) + 1) += 1; i += 1 }
      i = 0
      while (i < d) { offs(i + 1) += offs(i); i += 1 }
      val fill = Arrays.copyOf(offs, d)
      val vals = new Array[Long](n)
      i = 0
      while (i < n) { vals(fill(at(i))) = vs(i); fill(at(i)) += 1; i += 1 }
      new Csr(keys, offs, vals)
    }

    /** vertex → tags index of frontier rows. */
    def byVertex(rows: Pairs): Csr = Csr(rows.ys, rows.xs)
  }

  /** The shuffle keys ARE the target partitions. */
  final case class BlockPartitioner(numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** The partition that owns vertex `v`: its frontier and visited
    * pairs or its push state, and — once exchanged — its out-edges.
    */
  def partOf(v: Long, parts: Int): Int =
    java.lang.Math.floorMod(GraphOps.mix64(v), parts.toLong).toInt

  /** A loop's partitioning: the session's shuffle partitions, raised so
    * an exchanged edge partition holds at most
    * [[GraphOps.ContractTaskEdgeBound]] edges.
    */
  private def partitioner(spark: SparkSession, eCount: Long): BlockPartitioner =
    BlockPartitioner(math.max(spark.sessionState.conf.numShufflePartitions,
      ((eCount + GraphOps.ContractTaskEdgeBound - 1) / GraphOps.ContractTaskEdgeBound).toInt))

  /** Each partition of `e`'s (src, dst) rows as one [[Pairs]]; a row
    * with a null endpoint is dropped.
    */
  private[graph] def edgePairs(e: DataFrame): RDD[Pairs] =
    e.select("src", "dst").queryExecution.toRdd.mapPartitions { rows =>
      val ss = new mutable.ArrayBuilder.ofLong
      val ds = new mutable.ArrayBuilder.ofLong
      rows.foreach(r => if (!r.isNullAt(0) && !r.isNullAt(1)) { ss.addOne(r.getLong(0)); ds.addOne(r.getLong(1)) })
      Iterator(Pairs(ss.result(), ds.result()))
    }

  /** Routed records gathered into one [[Pairs]] per target partition. */
  private def exchange(recs: RDD[(Int, Pairs)], part: BlockPartitioner): RDD[Pairs] =
    new ShuffledRDD[Int, Pairs, Pairs](recs, part)
      .mapPartitions(in => Iterator(concat(in.map(_._2))), preservesPartitioning = true)

  /** Edges exchanged by source: `tail` holds each partition's own
    * sources' edges; the sources above the hub out-degree
    * ([[GraphOps.hubThreshold]]) are `hubs` (sorted; null when there
    * are none), with out-degrees `hubDeg`, and their edges are `hub`,
    * dealt round-robin over all partitions.
    */
  final case class SourceLayout(tail: RDD[Csr], hub: RDD[Csr], hubs: Broadcast[Array[Long]],
      hubDeg: Array[Int])

  /** Exchanges `edges` by source into `part`'s partitioning, once, and
    * splits off the hubs: the BFS loop's exchanged layout and both push
    * directions are built here. An exchanged block is the first place
    * all of a source's edges meet, so it drops repeated edges there
    * ([[Csr.deduped]]), before hubs are picked and degrees counted.
    * `edges` is unpersisted once exchanged.
    * Every RDD it leaves persisted (at `level`) is registered through
    * `own`; the caller destroys `hubs`.
    */
  def bySource(edges: RDD[Csr], eCount: Long, part: BlockPartitioner, hubOutDegree: Long,
      level: StorageLevel, name: String, own: (RDD[Csr], String) => RDD[Csr]): SourceLayout = {
    val sc = edges.sparkContext
    val parts = part.numPartitions
    val bySrc = own(exchange(edges.mapPartitions { it =>
      val c = it.next()
      val ss = Array.fill(parts)(new mutable.ArrayBuilder.ofLong)
      val ds = Array.fill(parts)(new mutable.ArrayBuilder.ofLong)
      c.foreachEdge { (s, d) => val p = partOf(s, parts); ss(p).addOne(s); ds(p).addOne(d) }
      (0 until parts).iterator.map(p => (p, Pairs(ss(p).result(), ds(p).result())))
        .filter(_._2.size > 0)
    }, part).map(p => Csr(p.xs, p.ys).deduped).persist(level), s"$name edges by src")
    val threshold = GraphOps.hubThreshold(eCount, parts, hubOutDegree)
    val found = sc.runJob(bySrc, (it: Iterator[Csr]) => {
      val c = it.next()
      val hs = c.keys.indices.filter(c.degree(_) > threshold)
      (hs.length, if (hs.length <= GraphOps.MaxHubs) hs.map(i => (c.keys(i), c.degree(i))).toArray else null)
    })
    edges.unpersist(blocking = true)
    val nHubs = found.map(_._1.toLong).sum
    if (nHubs > GraphOps.MaxHubs) throw GraphOps.tooManyHubs(nHubs, "src", threshold)
    if (nHubs == 0) return SourceLayout(bySrc, null, null, Array.empty)
    val (keys, degs) = found.flatMap(_._2).sortBy(_._1).unzip
    val hubs = sc.broadcast(keys)
    val tail = own(bySrc.mapPartitions(it => Iterator(it.next().without(hubs.value)),
      preservesPartitioning = true).persist(level), s"$name tail edges")
    // The hub sources' edges, dealt round-robin over all partitions.
    val hub = own(exchange(bySrc.mapPartitions { it =>
      val c = it.next()
      val ss = new mutable.ArrayBuilder.ofLong
      val ds = new mutable.ArrayBuilder.ofLong
      hubs.value.foreach { k =>
        val i = Arrays.binarySearch(c.keys, k)
        if (i >= 0) (c.offs(i) until c.offs(i + 1)).foreach { j => ss.addOne(k); ds.addOne(c.vals(j)) }
      }
      val (s, d) = (ss.result(), ds.result())
      (0 until parts).iterator.map { p =>
        val (lo, hi) = (s.length.toLong * p / parts, s.length.toLong * (p + 1) / parts)
        (p, Pairs(s.slice(lo.toInt, hi.toInt), d.slice(lo.toInt, hi.toInt)))
      }.filter(_._2.size > 0)
    }, part).map(p => Csr(p.xs, p.ys)).persist(level), s"$name hub edges")
    sc.runJob(tail.zipPartitions(hub)((a, b) => Iterator(a.size + b.size)), (it: Iterator[Int]) => it.size)
    bySrc.unpersist(blocking = true)
    SourceLayout(tail, hub, hubs, degs)
  }

  /** Candidate pairs routed to their vertex's partition, deduplicated
    * map-side.
    */
  final class Router(parts: Int) {
    private val sets = new Array[PairSet](parts)
    def add(t: Long, v: Long): Unit = {
      val p = partOf(v, parts)
      if (sets(p) == null) sets(p) = new PairSet()
      sets(p).add(t, v)
    }
    def records: Iterator[(Int, Pairs)] =
      sets.indices.iterator.filter(sets(_) != null).map(p => (p, sets(p).pairs()))
  }

  /** Every (tag, dst) with (tag, v) in `front` and v → dst in `edges`:
    * the smaller key set is walked, the larger binary-searched.
    */
  def expand(edges: Csr, front: Csr, out: Router): Unit = {
    def cross(i: Int, j: Int): Unit = {
      var a = front.offs(i)
      while (a < front.offs(i + 1)) {
        val t = front.vals(a)
        var b = edges.offs(j)
        while (b < edges.offs(j + 1)) { out.add(t, edges.vals(b)); b += 1 }
        a += 1
      }
    }
    if (front.keys.length <= edges.keys.length) {
      var i = 0
      while (i < front.keys.length) {
        val j = Arrays.binarySearch(edges.keys, front.keys(i))
        if (j >= 0) cross(i, j)
        i += 1
      }
    } else {
      var j = 0
      while (j < edges.keys.length) {
        val i = Arrays.binarySearch(front.keys, edges.keys(j))
        if (i >= 0) cross(i, j)
        j += 1
      }
    }
  }

  /** One level's candidates that no visited set holds, deduplicated. */
  private def fresh(in: Iterator[(Int, Pairs)], visited: Array[PairSet]): PairSet = {
    val out = new PairSet()
    in.foreach { case (_, p) =>
      var i = 0
      while (i < p.size) {
        val t = p.xs(i); val v = p.ys(i)
        var k = 0
        while (k < visited.length && !visited(k).contains(t, v)) k += 1
        if (k == visited.length) out.add(t, v)
        i += 1
      }
    }
    out
  }

  /** Runs `job` (an RDD of one `T` per partition, over the materialized
    * `cached`: `cached` itself or a zip with it) and returns the sum of
    * `size`, every partition's `rows` if `ship` and that sum is at most
    * `bound` (else null), and every partition's `side` slice (null if
    * `side` is). The job sends back at most `bound` rows: a partition
    * ships its rows only within its 1/partitions share of the bound, and
    * the partitions that held theirs back are fetched from `cached` by a
    * second job only when the whole fits the bound.
    */
  private def collectBounded[T](job: RDD[T], cached: RDD[T], bound: Long, ship: Boolean,
      size: T => Long, rows: T => Pairs, side: T => Pairs): (Long, Pairs, Pairs) = {
    val share = if (ship) bound / math.max(1, job.partitions.length) else -1L
    val sums = job.sparkContext.runJob(job, (it: Iterator[T]) => {
      val t = it.next()
      val n = size(t)
      (n, if (n <= share) rows(t) else null, if (side == null) null else side(t))
    })
    val count = sums.map(_._1).sum
    val all =
      if (!ship || count > bound) null
      else {
        val held = sums.indices.filter(sums(_)._2 == null)
        val byPart =
          if (held.isEmpty) Map.empty[Int, Pairs]
          else held.zip(cached.sparkContext.runJob(cached, (it: Iterator[T]) => rows(it.next()), held)).toMap
        concat(sums.indices.iterator.map(p => byPart.getOrElse(p, sums(p)._2)))
      }
    (count, all, if (side == null) null else concat(sums.iterator.map(_._3)))
  }

  /** Runs `job` (an RDD over the materialized frontier `front`: `front`
    * itself or a zip with it) and returns `front`'s size, its rows if
    * `shipRows` and the size is at most `bound` (else null), and its
    * hub slice if `hubs` is set (else null), by [[collectBounded]]'s rule.
    */
  def summarize(job: RDD[PairSet], front: RDD[PairSet], bound: Long, shipRows: Boolean,
      hubs: Broadcast[Array[Long]]): (Long, Pairs, Pairs) =
    collectBounded[PairSet](job, front, bound, shipRows, _.size.toLong, _.pairs(),
      if (hubs == null) null else { s => val hk = hubs.value; s.pairs(v => Arrays.binarySearch(hk, v) >= 0) })

  /** A call's edges as [[intake]] read them: their `count`; at or below
    * the intake's bound every pair in `local` (`pairs` null, released);
    * above it `local` null and the checkpointed `pairs`, which the
    * caller releases.
    */
  final case class Intake(count: Long, local: Pairs, pairs: RDD[Pairs])

  /** Reads `e`'s (src, dst) edges exactly once, for every unweighted
    * graph op (listed at [[GraphOps.LocalEdgeThreshold]]): ONE job over
    * [[edgePairs]] (a row with a null endpoint is dropped; a repeated
    * edge is kept), local-checkpointed MEMORY_AND_DISK so no later job's
    * lineage reaches `e`, returns their count and, when it is at most
    * `bound`, every pair by [[collectBounded]]'s rule — a held-back
    * partition comes from the checkpoint, not from `e`. The driver
    * receives ≈ 16 B per edge.
    */
  def intake(e: DataFrame, bound: Long, name: String): Intake = {
    val pairs = edgePairs(e).setName(s"$name edges").localCheckpoint()
    try {
      val (count, local, _) = collectBounded[Pairs](pairs, pairs, bound, ship = true, _.size.toLong, p => p, null)
      if (local == null) Intake(count, null, pairs)
      else { pairs.unpersist(blocking = true); Intake(count, local, null) }
    } catch { case t: Throwable => pairs.unpersist(blocking = true); throw t }
  }

  /** The (tag, vertex, level) rows of a BFS, on either path. */
  val BfsSchema: StructType = StructType(Seq(StructField("tag", LongType, nullable = false),
    StructField("vertex", LongType, nullable = false), StructField("level", IntegerType, nullable = false)))

  /** (tag, vertex, level) min-hop rows of a tagged BFS over `edges`,
    * the checkpointed pairs of an [[intake]] of `eCount` edges, which
    * this call releases. `bound` is the broadcast-frontier row bound.
    */
  def bfs(edges: RDD[Pairs], eCount: Long, tagged: DataFrame, maxDepth: Int,
      hubOutDegree: Long, bound: Long): DataFrame = {
    val spark = tagged.sparkSession
    val sc = spark.sparkContext
    val part = partitioner(spark, eCount)
    val parts = part.numPartitions
    val owned = mutable.ArrayBuffer.empty[RDD[_]]
    val levels = mutable.ArrayBuffer.empty[RDD[PairSet]]
    // this level's broadcast frontier slices, destroyed after its job
    val shared = mutable.ArrayBuffer.empty[Broadcast[_]]
    def own[T](r: RDD[T], name: String): RDD[T] = { owned += r; r.setName(name) }
    def release(r: RDD[_]): Unit = r.unpersist(blocking = true)
    def share(v: Csr): Broadcast[Csr] = { val b = sc.broadcast(v); shared += b; b }

    /** The next frontier: candidates minus `visited`, lineage cut. */
    def step(cands: RDD[(Int, Pairs)], visited: Seq[RDD[PairSet]], level: Int): RDD[PairSet] = {
      val shuffled = new ShuffledRDD[Int, Pairs, Pairs](cands, part)
      val next =
        if (visited.isEmpty)
          shuffled.mapPartitions(in => Iterator(fresh(in, Array.empty)), preservesPartitioning = true)
        else shuffled.zipPartitions(sc.union(visited), preservesPartitioning = true) {
          (in, vs) => Iterator(fresh(in, vs.toArray))
        }
      next.setName(s"bfs level $level").localCheckpoint()
    }

    var hubs: Broadcast[Array[Long]] = null

    try {
      val blocks = own(edges.map(p => Csr(p.xs, p.ys))
        .persist(StorageLevel.MEMORY_AND_DISK), "bfs edge layout")
      var tail: RDD[Csr] = null
      var hub: RDD[Csr] = null

      val sources = tagged.queryExecution.toRdd.mapPartitions { rows =>
        val r = new Router(parts)
        rows.foreach(row => if (!row.isNullAt(0) && !row.isNullAt(1)) r.add(row.getLong(0), row.getLong(1)))
        r.records
      }
      var front = step(sources, Nil, 0)
      levels += front
      var (count, rows, hubRows) = summarize(front, front, bound, shipRows = true, hubs)
      var base = front
      val recent = mutable.ArrayBuffer.empty[RDD[PairSet]]
      var level = 0
      while (count > 0 && level < maxDepth) {
        level += 1
        if (tail == null && rows == null) {
          // First frontier over the bound: exchange the edges by source
          // into the frontier's partitioning, once, and split off hubs.
          val l = bySource(blocks, eCount, part, hubOutDegree, StorageLevel.MEMORY_AND_DISK, "bfs", own)
          tail = l.tail; hub = l.hub; hubs = l.hubs
          if (hubs != null) {
            val hk = hubs
            hubRows = concat(sc.runJob(front, (it: Iterator[PairSet]) =>
              it.next().pairs(v => Arrays.binarySearch(hk.value, v) >= 0)).iterator)
          }
        }
        val cands =
          if (tail == null) {
            val fb = share(Csr.byVertex(rows))
            blocks.mapPartitions { it => val r = new Router(parts); expand(it.next(), fb.value, r); r.records }
          } else {
            val local = tail.zipPartitions(front) { (t, f) =>
              val r = new Router(parts); expand(t.next(), Csr.byVertex(f.next().pairs()), r); r.records
            }
            if (hub == null || hubRows.size == 0) local
            else {
              val hb = share(Csr.byVertex(hubRows))
              local.union(hub.mapPartitions { it => val r = new Router(parts); expand(it.next(), hb.value, r); r.records })
            }
          }
        val compacting = recent.size >= CompactEvery
        val superseded = base
        if (compacting) {
          base = own(sc.union((base +: recent).toSeq).mapPartitions({ sets =>
            val all = sets.toArray
            val m = new PairSet(all.map(_.size.toLong).sum)
            all.foreach(_.foreach((t, v) => m.add(t, v)))
            Iterator(m)
          }, preservesPartitioning = true).localCheckpoint(), "bfs visited")
          recent.clear()
        }
        val next = step(cands, (base +: recent).toSeq, level)
        // The job runs over `next` zipped with a fresh compaction so both
        // get their lineage cut, in one job.
        val job = if (compacting) next.zipPartitions(base, preservesPartitioning = true)((n, _) => n) else next
        val (c, rs, hrs) = summarize(job, next, bound, shipRows = tail == null, hubs)
        count = c; rows = rs; hubRows = hrs
        shared.foreach(_.destroy()); shared.clear()
        if (level == 1) edges.unpersist(blocking = true)
        if (compacting && (superseded ne levels.head)) { release(superseded); owned -= superseded }
        if (count == 0) release(next)
        else { levels += next; recent += next; front = next }
      }

      val out = sc.union(levels.zipWithIndex.map { case (f, l) =>
        f.mapPartitions(_.map(s => (l, s)), preservesPartitioning = true) }.toSeq)
        .flatMap { case (l, s) =>
          val rows = mutable.ArrayBuffer.empty[Row]
          s.foreach((t, v) => rows += Row(t, v, l))
          rows
        }
      spark.createDataFrame(out, BfsSchema)
    } catch {
      case t: Throwable => levels.foreach(release); throw t
    } finally {
      shared.foreach(_.destroy())
      if (hubs != null) hubs.destroy()
      owned.foreach(release)
      edges.unpersist(blocking = true)
    }
  }

  /** A vertex program of push rounds: each round a vertex with state `x`
    * and out-degree `deg` sends `send(x, deg)` along each out-edge, and
    * takes its next state from what it received, merged as the
    * program's kind says: [[Push]] sums, [[Tally]] counts. A round
    * reports how many states are > 0 and their sum ([[Pushed]]), so a
    * program can mark a vertex it is done with by a state ≤ 0.
    */
  sealed trait Program extends Serializable {
    def send(x: Double, deg: Int): Double
  }

  /** Sum merge: `v` takes `update(v, in)`, `in` the sum of what it received. */
  trait Push extends Program {
    def update(v: Long, in: Double): Double
  }

  /** Histogram merge, for messages that are integers in [0, 2^31): a map
    * task sends each destination one (value, count) entry per distinct
    * value it sent there, so a hub's equal messages from one task arrive
    * as one entry. A vertex with state `old` takes `update(old, h)`, `h`
    * the histogram of what it received.
    */
  trait Tally extends Program {
    def update(old: Double, h: Histogram): Double
  }

  /** One vertex's received (value, count) entries, values ascending; a
    * value sent from several map tasks has an entry from each. An entry
    * is packed as value << 32 | count.
    */
  final class Histogram private[Supersteps] (es: Array[Long], from: Int, until: Int) {
    def size: Int = until - from
    def value(i: Int): Long = es(from + i) >>> 32
    def count(i: Int): Long = es(from + i) & 0xFFFFFFFFL
  }

  /** Per-vertex values, `xs(i)` of `ids(i)`: a partition's push state,
    * or a map task's sums on their way to one.
    */
  private final class State(val ids: Array[Long], val xs: Array[Double]) extends Serializable

  /** An edge direction push rounds run along: `block` lays out a pair
    * partition's edges of it, `copies` per pair, persisted at `level`.
    */
  sealed abstract class Dir(val name: String, val copies: Int, val level: StorageLevel,
      val block: Pairs => Csr) extends Serializable

  case object Forward extends Dir("forward", 1, StorageLevel.MEMORY_AND_DISK, p => Csr(p.xs, p.ys))

  /** Against the edges: read once a round, so on disk, one scan. */
  case object Reverse extends Dir("reverse", 1, StorageLevel.DISK_ONLY, p => Csr(p.ys, p.xs))

  /** Along and against the edges at once: their symmetric closure. */
  case object Undirected extends Dir("undirected", 2, StorageLevel.MEMORY_AND_DISK,
    p => Csr(p.xs ++ p.ys, p.ys ++ p.xs))

  /** A partition of one push direction: its vertices `ids` (sorted),
    * their out-degrees `deg` over its own edges, and its in-edges `in`,
    * dst → sender: `ids(s)` for s ≥ 0, else hub −1 − s, whose edges were
    * dealt here round-robin.
    */
  private final class PushBlock(val ids: Array[Long], val deg: Array[Int], val in: Csr) extends Serializable

  /** The block of `ids` over their out-edges `tail` and a share `hub`
    * (or null) of the sorted `hubKeys`' edges.
    */
  private def pushBlock(ids: Array[Long], tail: Csr, hub: Csr, hubKeys: Array[Long]): PushBlock = {
    val deg = new Array[Int](ids.length)
    val ds = new mutable.ArrayBuilder.ofLong
    val from = new mutable.ArrayBuilder.ofLong
    tail.foreachEdge { (s, d) => val at = Arrays.binarySearch(ids, s); deg(at) += 1; ds.addOne(d); from.addOne(at) }
    if (hub != null) hub.foreachEdge { (h, d) => ds.addOne(d); from.addOne(-1L - Arrays.binarySearch(hubKeys, h)) }
    new PushBlock(ids, deg, Csr(ds.result(), from.result()))
  }

  /** The message from in-edge sender `from` (see [[PushBlock]]). */
  @inline private def sent(from: Long, msg: Array[Double], hubMsg: Array[Double]): Double =
    if (from >= 0) msg(from.toInt) else hubMsg((-1L - from).toInt)

  /** A block's round from its vertices' states `xs` and the hubs'
    * messages `hubMsg`: what each destination receives, merged map-side
    * by `p`'s kind — one [[State]] sum or [[Pairs]] of (destination,
    * histogram entry) — keyed by its partition.
    */
  private def messages(b: PushBlock, xs: Array[Double], hubMsg: Array[Double], p: Program,
      parts: Int): Iterator[(Int, AnyRef)] = {
    val msg = Array.tabulate(b.ids.length)(i => if (b.deg(i) > 0) p.send(xs(i), b.deg(i)) else 0.0)
    val c = b.in
    val ks = Array.fill(parts)(new mutable.ArrayBuilder.ofLong)
    val out: Int => AnyRef = p match {
      case _: Push =>
        val vs = Array.fill(parts)(new mutable.ArrayBuilder.ofDouble)
        var k = 0
        while (k < c.keys.length) {
          var s = 0.0
          var j = c.offs(k)
          while (j < c.offs(k + 1)) { s += sent(c.vals(j), msg, hubMsg); j += 1 }
          val q = partOf(c.keys(k), parts)
          ks(q).addOne(c.keys(k)); vs(q).addOne(s)
          k += 1
        }
        q => new State(ks(q).result(), vs(q).result())
      case _: Tally =>
        val es = Array.fill(parts)(new mutable.ArrayBuilder.ofLong)
        val buf = new Array[Long](if (c.keys.isEmpty) 0 else c.keys.indices.map(c.degree).max)
        var k = 0
        while (k < c.keys.length) {
          val n = c.degree(k)
          var j = 0
          while (j < n) { buf(j) = sent(c.vals(c.offs(k) + j), msg, hubMsg).toLong; j += 1 }
          Arrays.sort(buf, 0, n)
          val q = partOf(c.keys(k), parts)
          j = 0
          while (j < n) {
            var e = j + 1
            while (e < n && buf(e) == buf(j)) e += 1
            require(buf(j) >= 0 && buf(j) < (1L << 31), s"a tally message must be an integer in [0, 2^31): ${buf(j)}")
            ks(q).addOne(c.keys(k)); es(q).addOne((buf(j) << 32) | (e - j))
            j = e
          }
          k += 1
        }
        q => Pairs(ks(q).result(), es(q).result())
    }
    (0 until parts).iterator.filter(ks(_).length > 0).map(q => (q, out(q)))
  }

  /** The next state of `s`'s vertices from the messages routed to them. */
  private def gather(s: State, in: Iterator[AnyRef], p: Program): State = p match {
    case p: Push =>
      val acc = new Array[Double](s.ids.length)
      in.map(_.asInstanceOf[State]).foreach(m => m.ids.indices.foreach(j => acc(Arrays.binarySearch(s.ids, m.ids(j))) += m.xs(j)))
      new State(s.ids, Array.tabulate(s.ids.length)(i => p.update(s.ids(i), acc(i))))
    case p: Tally =>
      val got = concat(in.map(_.asInstanceOf[Pairs]))
      val byDst = Csr(got.xs, got.ys)
      new State(s.ids, Array.tabulate(s.ids.length) { i =>
        val r = byDst.slots(s.ids(i))
        Arrays.sort(byDst.vals, r.start, r.end)
        p.update(s.xs(i), new Histogram(byDst.vals, r.start, r.end))
      })
  }

  /** A state after a round: the count `live` of its states > 0 and
    * their `total`; on the driver, `state`; distributed, its
    * materialized `blocks` and the hubs' entries.
    */
  final class Pushed private[Supersteps] (val total: Double, val live: Long, private[Supersteps] val state: State,
      private[Supersteps] val blocks: RDD[State], private[Supersteps] val hubs: Map[Long, Double])

  /** The sum and the count of the states > 0 in `xs`. */
  private def positive(xs: Array[Double]): (Double, Long) = {
    var (total, live) = (0.0, 0L)
    xs.foreach(x => if (x > 0) { total += x; live += 1 })
    (total, live)
  }

  /** A graph laid out for push rounds along each of its call's
    * directions: [[start]] gives every vertex `v` the state `f(v)`,
    * [[round]] runs `p` from `s` along one of them, and [[result]], the
    * last step, gives (vertex, one column per state divided by its norm)
    * rows.
    */
  sealed abstract class PushGraph {
    def vertices: Long
    def start(f: Long => Double): Pushed
    def round(p: Program, along: Dir, s: Pushed): Pushed
    def result(cols: (String, Pushed, Double)*): DataFrame
  }

  private def resultSchema(cols: Seq[(String, Pushed, Double)]): StructType =
    StructType(StructField("vertex", LongType, nullable = false) +:
      cols.map(c => StructField(c._1, DoubleType, nullable = false)))

  private def resultRows(ss: Seq[State], norms: Seq[Double]): Iterator[Row] =
    ss.head.ids.indices.iterator.map(i => Row.fromSeq(ss.head.ids(i) +: ss.indices.map(c => ss(c).xs(i) / norms(c))))

  /** Runs `body` over the distinct (src, dst) `edges` with no null
    * endpoint, read as given by one [[intake]], laid out along `dirs`:
    * see the other [[push]].
    */
  def push(edges: DataFrame, maxLocalEdges: Long, name: String, dirs: Seq[Dir],
      hubOutDegree: Long)(body: PushGraph => DataFrame): DataFrame =
    push(edges.sparkSession, intake(edges, maxLocalEdges, name), name, dirs, hubOutDegree)(body)

  /** Runs `body` over the distinct edges of `in`: on the driver over its
    * pairs if it shipped them, else as RDD supersteps over its
    * checkpointed pairs, which this call releases. Each executor drops
    * repeated edges in its blocks ([[Csr.deduped]]), so no DataFrame
    * `distinct` runs in front.
    */
  def push(spark: SparkSession, in: Intake, name: String, dirs: Seq[Dir],
      hubOutDegree: Long)(body: PushGraph => DataFrame): DataFrame =
    if (in.local != null) body(new LocalPush(spark, in.local))
    else {
      val g = new RddPush(spark, in.pairs, in.count, name, dirs, hubOutDegree)
      try { g.build(); body(g) } finally g.close()
    }

  /** The driver executor: one deduplicated block of the intake's pairs
    * `es` per direction, built when first run along; no hubs, no job per
    * round.
    */
  private final class LocalPush(spark: SparkSession, es: Pairs) extends PushGraph {
    private val ids = sortedDistinct(es.xs ++ es.ys)
    private val blocks = mutable.Map.empty[Dir, PushBlock]
    private def pushed(s: State) = { val (total, live) = positive(s.xs); new Pushed(total, live, s, null, null) }

    def vertices: Long = ids.length
    def start(f: Long => Double): Pushed = pushed(new State(ids, ids.map(f)))
    def round(p: Program, along: Dir, s: Pushed): Pushed = {
      val b = blocks.getOrElseUpdate(along, pushBlock(ids, along.block(es).deduped, null, null))
      pushed(gather(s.state, messages(b, s.state.xs, null, p, 1).map(_._2), p))
    }
    def result(cols: (String, Pushed, Double)*): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(resultRows(cols.map(_._2.state), cols.map(_._3)).toSeq: _*), resultSchema(cols))
  }

  /** The RDD-superstep executor. Vertex state is co-partitioned with each
    * direction's blocks by [[partOf]]; a round is one job, which
    * materializes the next state and returns its live count, total and
    * hub entries.
    */
  private final class RddPush(spark: SparkSession, pairs: RDD[Pairs], eCount: Long, name: String,
      dirs: Seq[Dir], hubOutDegree: Long) extends PushGraph {
    private val sc = spark.sparkContext
    private val part = partitioner(spark, eCount * dirs.map(_.copies).max)
    private val owned = mutable.ArrayBuffer.empty[RDD[_]]
    private val hubCasts = mutable.ArrayBuffer.empty[Broadcast[Array[Long]]]
    // states not yet released; a round reads only the one it is given
    private val live = mutable.ArrayBuffer.empty[RDD[State]]
    private var kept = Seq.empty[RDD[State]]
    // per direction: its blocks, hub keys (sorted) and hub out-degrees
    private var laid = Map.empty[Dir, (RDD[PushBlock], Array[Long], Array[Int])]
    private var hubKeys: Broadcast[Array[Long]] = null
    private var rounds = 0
    var vertices = 0L

    private def own[T](r: RDD[T], name: String): RDD[T] = { owned += r; r.setName(name) }

    def build(): Unit = {
      val parts = part.numPartitions
      // the vertices, sorted, in their owners' partitions
      val ids = exchange(pairs.mapPartitions { it =>
        val (ps, r) = (it.next(), new Router(parts))
        ps.xs.indices.foreach { i => r.add(0L, ps.xs(i)); r.add(0L, ps.ys(i)) }
        r.records
      }, part).map(p => sortedDistinct(p.ys))
      laid = dirs.map { d =>
        val l = bySource(pairs.map(d.block), eCount * d.copies, part, hubOutDegree, d.level, s"$name ${d.name}", own[Csr])
        val hk = l.hubs
        if (hk != null) hubCasts += hk
        val blocks = own((
          if (hk == null) ids.zipPartitions(l.tail)((i, t) => Iterator(pushBlock(i.next(), t.next(), null, null)))
          else ids.zipPartitions(l.tail, l.hub)((i, t, h) => Iterator(pushBlock(i.next(), t.next(), h.next(), hk.value)))
        ).persist(d.level), s"$name ${d.name} blocks")
        if (d.level == StorageLevel.DISK_ONLY) GraphOps.audit(s"$name:eByDst:DISK_ONLY")
        vertices = sc.runJob(blocks, (it: Iterator[PushBlock]) => it.next().ids.length.toLong).sum
        (Seq(l.tail) ++ Option(l.hub)).foreach(_.unpersist(blocking = true))
        d -> (blocks, if (hk == null) Array.empty[Long] else hk.value, l.hubDeg)
      }.toMap
      val keys = laid.values.flatMap(_._2).toSeq.distinct.sorted.toArray
      if (keys.nonEmpty) { hubKeys = sc.broadcast(keys); hubCasts += hubKeys }
      pairs.unpersist(blocking = true)
    }

    def start(f: Long => Double): Pushed = materialize(laid(dirs.head)._1.map(b => new State(b.ids, b.ids.map(f))))

    def round(p: Program, along: Dir, s: Pushed): Pushed = {
      val (blocks, keys, degs) = laid(along)
      val hubMsg = if (keys.isEmpty) null else sc.broadcast(keys.indices.map(j => p.send(s.hubs(keys(j)), degs(j))).toArray)
      val parts = part.numPartitions
      val sent = blocks.zipPartitions(s.blocks) { (bs, ss) =>
        messages(bs.next(), ss.next().xs, if (hubMsg == null) null else hubMsg.value, p, parts)
      }
      val next = try materialize(new ShuffledRDD[Int, AnyRef, AnyRef](sent, part)
        .zipPartitions(s.blocks, preservesPartitioning = true)((in, ss) => Iterator(gather(ss.next(), in.map(_._2), p))))
        finally if (hubMsg != null) hubMsg.destroy()
      val old = live.filter(r => (r ne s.blocks) && (r ne next.blocks))
      old.foreach(_.unpersist(blocking = true)); live --= old
      next
    }

    /** Lineage-cuts `states` in a job returning their [[positive]] sum
      * and count, and their hub entries.
      */
    private def materialize(states: RDD[State]): Pushed = {
      val next = states.setName(s"$name state $rounds").localCheckpoint()
      rounds += 1
      live += next
      val hk = hubKeys
      val got = sc.runJob(next, (it: Iterator[State]) => {
        val s = it.next()
        val at = if (hk == null) Array.empty[Int] else hk.value.map(Arrays.binarySearch(s.ids, _)).filter(_ >= 0)
        (positive(s.xs), at.map(i => s.ids(i) -> s.xs(i)))
      })
      new Pushed(got.map(_._1._1).sum, got.map(_._1._2).sum, null, next, got.flatMap(_._2).toMap)
    }

    def result(cols: (String, Pushed, Double)*): DataFrame = {
      kept = cols.map(_._2.blocks)
      val norms = cols.map(_._3)
      val zipped = kept.tail.foldLeft(kept.head.map(Vector(_))) { (acc, r) =>
        acc.zipPartitions(r)((a, b) => Iterator(a.next() :+ b.next()))
      }
      spark.createDataFrame(zipped.flatMap(resultRows(_, norms)), resultSchema(cols))
    }

    /** Releases every block the call built but the result's states. */
    def close(): Unit = {
      hubCasts.foreach(_.destroy())
      (owned ++ live.filterNot(r => kept.exists(_ eq r))).foreach(_.unpersist(blocking = true))
      pairs.unpersist(blocking = true)
    }
  }
}
