package graft.graph

import java.util.Arrays

import scala.collection.mutable

import org.apache.spark.Partitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** The distributed BFS frontier loop behind [[GraphOps.bfs]], run as
  * RDD supersteps over primitive per-partition blocks, the way GraphX
  * runs Pregel (PAPERS.md: GraphX, OSDI'14).
  *
  * Each level is ONE Spark job and no Catalyst planning: expand the
  * frontier over the edge blocks, shuffle the candidate (tag, vertex)
  * pairs by vertex, and drop the visited ones in a co-partitioned
  * `zipPartitions` against `visited`. The job materializes the next
  * frontier (lineage cut by `localCheckpoint`) and returns its size —
  * plus, while it is under the broadcast bound, its rows, which the
  * driver broadcasts to the next level's expansion.
  *
  * Scale geometry:
  *  - edges are CSR blocks (distinct sorted sources, offsets,
  *    destinations; ≈ 16 B per edge), built once per call;
  *  - the loop's partition count is the session's shuffle partitions,
  *    raised so an exchanged edge partition holds at most
  *    [[GraphOps.ContractTaskEdgeBound]] edges;
  *  - while the frontier is under `graft.bfs.broadcastFrontier` it is
  *    broadcast and the edge blocks keep their input layout: no edge
  *    exchange;
  *  - the first larger frontier exchanges the edges once by source
  *    vertex, into the partitioning the frontier and `visited` already
  *    have, so every later level expands its frontier partition against
  *    the co-located edge partition and only candidates shuffle;
  *  - sources above the hub out-degree ([[GraphOps.hubThreshold]]) move
  *    to round-robin hub blocks, probed by broadcast of the frontier's
  *    hub slice, so no task expands a whole hub alone;
  *  - `visited` is the union of the last compaction and the frontiers
  *    since; every [[CompactEvery]] levels it is merged into one set per
  *    partition, materialized in that level's job;
  *  - a level's job sends back at most `bound` frontier rows in all:
  *    a partition ships its rows only within its 1/partitions share of
  *    the bound, and when the whole frontier fits the bound the
  *    partitions that held theirs back are fetched by a second job
  *    over the cached frontier;
  *  - every block this loop built — the edge layouts, superseded
  *    compactions, the empty last frontier — is released before return;
  *    only the returned level frontiers stay persisted.
  *
  * Memory: every per-partition structure is a heap object that cannot
  * spill — an edge block (≈ 16 B per edge; at most
  * ContractTaskEdgeBound edges once exchanged, ≈ 256 MB), a visited set
  * and a map task's deduplicated candidates (16 B per slot, 23-46 B per
  * (tag, vertex) pair). A task's heap must hold its partition's share
  * of the reachable (tag, vertex) pairs; a set past 2^30 slots
  * (≈ 750M pairs) fails rather than grow. Unlike a DataFrame
  * anti-join, nothing here spills to disk, and AQE does not coalesce
  * or split these RDD shuffles.
  */
private[graft] object Supersteps {

  /** Levels between `visited` compactions. */
  val CompactEvery = 8

  private val Empty = Long.MinValue

  /** Parallel primitive arrays: (tag, vertex) frontier rows, or
    * (src, dst) edges on their way through an exchange.
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

  /** Compressed adjacency: distinct sorted `keys`; the values of
    * `keys(i)` are `vals(offs(i) until offs(i + 1))`, in input order.
    * An edge block maps src → dst; a frontier index maps vertex → tag.
    */
  final class Csr(val keys: Array[Long], val offs: Array[Int], val vals: Array[Long])
      extends Serializable {
    def degree(i: Int): Int = offs(i + 1) - offs(i)

    /** This block minus the sources in sorted `drop`. */
    def without(drop: Array[Long]): Csr = {
      val ks = new mutable.ArrayBuilder.ofLong
      val vs = new mutable.ArrayBuilder.ofLong
      foreachEdge((s, d) => if (Arrays.binarySearch(drop, s) < 0) { ks.addOne(s); vs.addOne(d) })
      Csr(ks.result(), vs.result())
    }

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
      val sorted = Arrays.copyOf(ks, n)
      Arrays.sort(sorted)
      var d = 0
      var i = 0
      while (i < n) {
        if (i == 0 || sorted(i) != sorted(d - 1)) { sorted(d) = sorted(i); d += 1 }
        i += 1
      }
      val keys = Arrays.copyOf(sorted, d)
      val at = new Array[Int](n)
      val offs = new Array[Int](d + 1)
      i = 0
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
    * pairs, and — once exchanged — its out-edges.
    */
  def partOf(v: Long, parts: Int): Int =
    java.lang.Math.floorMod(GraphOps.mix64(v), parts.toLong).toInt

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

  /** What a level's job returns per partition: the frontier size; its
    * rows if they fit the partition's share of the broadcast bound
    * (else null); its hub slice once hub blocks exist (else null).
    */
  final case class Summary(count: Long, rows: Pairs, hubRows: Pairs)

  /** One partition's [[Summary]]: rows only if at most `share` (a
    * negative share ships none), hub slice only given `hubKeys`.
    */
  def summary(s: PairSet, share: Long, hubKeys: Array[Long]): Summary =
    Summary(s.size,
      if (s.size <= share) s.pairs() else null,
      if (hubKeys == null) null else s.pairs(v => Arrays.binarySearch(hubKeys, v) >= 0))

  /** Runs `job` (an RDD over the materialized frontier `front`: `front`
    * itself or a zip with it) and returns `front`'s size, its rows if
    * `shipRows` and the size is at most `bound` (else null), and its
    * hub slice if `hubs` is set (else null). The job sends back at most
    * `bound` rows; partitions over their share are fetched from the
    * cached `front` only when the whole frontier fits the bound.
    */
  def summarize(job: RDD[PairSet], front: RDD[PairSet], bound: Long, shipRows: Boolean,
      hubs: Broadcast[Array[Long]]): (Long, Pairs, Pairs) = {
    val share = if (shipRows) bound / job.partitions.length else -1L
    val sums = job.sparkContext.runJob(job,
      (it: Iterator[PairSet]) => summary(it.next(), share, if (hubs == null) null else hubs.value))
    val count = sums.map(_.count).sum
    val rows =
      if (!shipRows || count > bound) null
      else {
        val held = sums.indices.filter(sums(_).rows == null)
        val byPart =
          if (held.isEmpty) Map.empty[Int, Pairs]
          else held.zip(front.sparkContext.runJob(front, (it: Iterator[PairSet]) => it.next().pairs(), held)).toMap
        concat(sums.indices.iterator.map(p => byPart.getOrElse(p, sums(p).rows)))
      }
    val hubRows = if (hubs == null) null else concat(sums.iterator.map(_.hubRows))
    (count, rows, hubRows)
  }

  /** (tag, vertex, level) min-hop rows of a tagged BFS over `e`, a
    * persisted (src, dst) frame of `eCount` rows that this call
    * unpersists. `bound` is the broadcast-frontier row bound.
    */
  def bfs(e: DataFrame, eCount: Long, tagged: DataFrame, maxDepth: Int,
      hubOutDegree: Long, bound: Long): DataFrame = {
    val spark = e.sparkSession
    val sc = spark.sparkContext
    val parts = math.max(spark.sessionState.conf.numShufflePartitions,
      ((eCount + GraphOps.ContractTaskEdgeBound - 1) / GraphOps.ContractTaskEdgeBound).toInt)
    val part = BlockPartitioner(parts)
    val owned = mutable.ArrayBuffer.empty[RDD[_]]
    val levels = mutable.ArrayBuffer.empty[RDD[PairSet]]
    // this level's broadcast frontier slices, destroyed after its job
    val shared = mutable.ArrayBuffer.empty[Broadcast[_]]
    def own[T](r: RDD[T], name: String): RDD[T] = { owned += r; r.setName(name) }
    def release(r: RDD[_]): Unit = r.unpersist(blocking = true)
    def share(v: Csr): Broadcast[Csr] = { val b = sc.broadcast(v); shared += b; b }
    def exchange(recs: RDD[(Int, Pairs)]): RDD[Pairs] =
      new ShuffledRDD[Int, Pairs, Pairs](recs, part)
        .mapPartitions(in => Iterator(concat(in.map(_._2))), preservesPartitioning = true)

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
      val blocks = own(e.select("src", "dst").queryExecution.toRdd.mapPartitions { rows =>
        val ss = new mutable.ArrayBuilder.ofLong
        val ds = new mutable.ArrayBuilder.ofLong
        rows.foreach(r => if (!r.isNullAt(0) && !r.isNullAt(1)) { ss.addOne(r.getLong(0)); ds.addOne(r.getLong(1)) })
        Iterator(Csr(ss.result(), ds.result()))
      }.persist(StorageLevel.MEMORY_AND_DISK), "bfs edge layout")
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
          val bySrc = own(exchange(blocks.mapPartitions { it =>
            val c = it.next()
            val ss = Array.fill(parts)(new mutable.ArrayBuilder.ofLong)
            val ds = Array.fill(parts)(new mutable.ArrayBuilder.ofLong)
            c.foreachEdge { (s, d) => val p = partOf(s, parts); ss(p).addOne(s); ds(p).addOne(d) }
            (0 until parts).iterator.map(p => (p, Pairs(ss(p).result(), ds(p).result())))
              .filter(_._2.size > 0)
          }).map(p => Csr(p.xs, p.ys)).persist(StorageLevel.MEMORY_AND_DISK), "bfs edge layout by src")
          val threshold = GraphOps.hubThreshold(eCount, parts, hubOutDegree)
          val found = sc.runJob(bySrc.zipPartitions(front)((b, f) => Iterator((b.next(), f.next()))),
            (it: Iterator[(Csr, PairSet)]) => {
              val (c, f) = it.next()
              val keys = c.keys.indices.filter(c.degree(_) > threshold).map(c.keys).toArray
              (keys.length, if (keys.length <= GraphOps.MaxHubs) keys else null,
                f.pairs(v => Arrays.binarySearch(keys, v) >= 0))
            })
          release(blocks)
          val nHubs = found.map(_._1.toLong).sum
          if (nHubs > GraphOps.MaxHubs) throw GraphOps.tooManyHubs(nHubs, "src", threshold)
          if (nHubs == 0) tail = bySrc
          else {
            hubs = sc.broadcast(found.flatMap(_._2).sorted)
            val hk = hubs
            tail = own(bySrc.mapPartitions(it => Iterator(it.next().without(hk.value)),
              preservesPartitioning = true).persist(StorageLevel.MEMORY_AND_DISK), "bfs tail edges")
            // The hub sources' edges, dealt round-robin over all partitions.
            hub = own(exchange(bySrc.mapPartitions { it =>
              val c = it.next()
              val ss = new mutable.ArrayBuilder.ofLong
              val ds = new mutable.ArrayBuilder.ofLong
              hk.value.foreach { k =>
                val i = Arrays.binarySearch(c.keys, k)
                if (i >= 0) (c.offs(i) until c.offs(i + 1)).foreach { j => ss.addOne(k); ds.addOne(c.vals(j)) }
              }
              val (s, d) = (ss.result(), ds.result())
              (0 until parts).iterator.map { p =>
                val (lo, hi) = (s.length.toLong * p / parts, s.length.toLong * (p + 1) / parts)
                (p, Pairs(s.slice(lo.toInt, hi.toInt), d.slice(lo.toInt, hi.toInt)))
              }.filter(_._2.size > 0)
            }).map(p => Csr(p.xs, p.ys)).persist(StorageLevel.MEMORY_AND_DISK), "bfs hub edges")
            sc.runJob(tail.zipPartitions(hub)((a, b) => Iterator(a.size + b.size)), (it: Iterator[Int]) => it.size)
            release(bySrc)
            hubRows = concat(found.iterator.map(_._3))
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
        if (level == 1) e.unpersist(blocking = true)
        if (compacting && (superseded ne levels.head)) { release(superseded); owned -= superseded }
        if (count == 0) release(next)
        else { levels += next; recent += next; front = next }
      }

      val schema = StructType(Seq(StructField("tag", LongType, nullable = false),
        StructField("vertex", LongType, nullable = false), StructField("level", IntegerType, nullable = false)))
      val out = sc.union(levels.zipWithIndex.map { case (f, l) =>
        f.mapPartitions(_.map(s => (l, s)), preservesPartitioning = true) }.toSeq)
        .flatMap { case (l, s) =>
          val rows = mutable.ArrayBuffer.empty[Row]
          s.foreach((t, v) => rows += Row(t, v, l))
          rows
        }
      spark.createDataFrame(out, schema)
    } catch {
      case t: Throwable => levels.foreach(release); throw t
    } finally {
      shared.foreach(_.destroy())
      if (hubs != null) hubs.destroy()
      owned.foreach(release)
      e.unpersist(blocking = true)
    }
  }
}
