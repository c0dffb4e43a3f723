package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** A directed graph over vertices 1..n as sorted, distinct packed edges
  * (src << 32 | dst), with a CSR index for the plain-Scala oracles.
  */
final class EdgeSet(val n: Int, val packed: Array[Long]) {
  def size: Int = packed.length
  def src(i: Int): Int = (packed(i) >>> 32).toInt
  def dst(i: Int): Int = packed(i).toInt

  lazy val offsets: Array[Int] = {
    val off = new Array[Int](n + 2)
    var i = 0
    while (i < packed.length) { off(src(i) + 1) += 1; i += 1 }
    var v = 1
    while (v <= n + 1) { off(v) += off(v - 1); v += 1 }
    off
  }
  def outDegree(v: Int): Int = offsets(v + 1) - offsets(v)

  /** This set plus `extra` (which may overlap it). */
  def plus(extra: Array[Long]): EdgeSet =
    new EdgeSet(n, (packed ++ extra).sorted.distinct)

  /** The edges as a (src, dst) frame, shipped as one RDD slice per core
    * (a local Seq would be planned as one LocalRelation and copied into
    * every task of the save's shuffle).
    */
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(packed.toSeq, spark.sparkContext.defaultParallelism)
      .map(p => ((p >>> 32), p & 0xffffffffL)).toDF("src", "dst")
  }
}

object EdgeSet {
  def pack(s: Int, d: Int): Long = (s.toLong << 32) | (d.toLong & 0xffffffffL)

  /** Small graph for the graph-database traffic: out-degree uniform in
    * [0, 2 * meanDeg], destinations uniform over the other vertices.
    */
  def uniform(n: Int, meanDeg: Int, rng: java.util.SplittableRandom): EdgeSet = {
    val out = Array.newBuilder[Long]
    val seen = new java.util.HashSet[Integer]()
    var v = 1
    while (v <= n) {
      val d = math.min(rng.nextInt(2 * meanDeg + 1), n - 1)
      seen.clear()
      while (seen.size < d) {
        val w = 1 + rng.nextInt(n)
        if (w != v && seen.add(w)) out += pack(v, w)
      }
      v += 1
    }
    new EdgeSet(n, out.result().sorted)
  }

  /** `count` edges over 1..n that are not in `g`. */
  def fresh(g: EdgeSet, count: Int, rng: java.util.SplittableRandom): Array[Long] = {
    val have = new java.util.HashSet[java.lang.Long]()
    g.packed.foreach(p => have.add(p))
    val out = Array.newBuilder[Long]
    var made = 0
    while (made < count) {
      val s = 1 + rng.nextInt(g.n); val d = 1 + rng.nextInt(g.n)
      if (s != d && have.add(pack(s, d))) { out += pack(s, d); made += 1 }
    }
    out.result()
  }
}

/** The large graph: Zipf-like out-degree (a tenth of the vertices are
  * sinks, the rest Pareto(1.5) from 4, capped), uniform destinations.
  * Vertex v's out-edges depend only on (seed, v), so Spark generates
  * them in parallel and the Spark driver regenerates the identical set for
  * the oracles.
  */
object ZipfGraph {
  val MaxOutDegree = 20000

  def outEdges(seed: Long, n: Int, v: Int): Array[Int] = {
    val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + v)
    if (rng.nextDouble() < 0.1) return Array.emptyIntArray
    val u = 1.0 - rng.nextDouble()
    val d = math.min(math.min(MaxOutDegree, n - 1).toDouble, math.floor(4.0 * math.pow(u, -1.0 / 1.5))).toInt
    val seen = new java.util.HashSet[Integer]()
    while (seen.size < d) {
      val w = 1 + rng.nextInt(n)
      if (w != v) seen.add(w)
    }
    val out = new Array[Int](d)
    var i = 0
    seen.forEach { w => out(i) = w; i += 1 }
    java.util.Arrays.sort(out)
    out
  }

  def edges(seed: Long, n: Int): EdgeSet = {
    val b = Array.newBuilder[Long]
    var v = 1
    while (v <= n) { outEdges(seed, n, v).foreach(w => b += EdgeSet.pack(v, w)); v += 1 }
    new EdgeSet(n, b.result())
  }
}

/** Plain-Scala answers for every graph call the benchmark makes. */
object Oracle {
  /** Min-hop level per vertex (-1 = unreached) from `sources`. */
  def levels(g: EdgeSet, sources: Seq[Int]): Array[Int] = {
    val off = g.offsets
    val lvl = Array.fill(g.n + 1)(-1)
    var frontier = sources.distinct.toArray
    frontier.foreach(v => lvl(v) = 0)
    var depth = 0
    while (frontier.nonEmpty) {
      depth += 1
      val next = Array.newBuilder[Int]
      frontier.foreach { v =>
        var i = off(v)
        while (i < off(v + 1)) {
          val w = g.dst(i)
          if (lvl(w) < 0) { lvl(w) = depth; next += w }
          i += 1
        }
      }
      frontier = next.result()
    }
    lvl
  }

  def bfs(g: EdgeSet, source: Int): Map[Long, Int] = {
    val l = levels(g, Seq(source))
    (1 to g.n).iterator.filter(l(_) >= 0).map(v => v.toLong -> l(v)).toMap
  }

  def reach(g: EdgeSet, source: Int): Set[Long] = {
    val l = levels(g, Seq(source))
    (1 to g.n).iterator.filter(l(_) >= 0).map(_.toLong).toSet
  }

  def leaves(g: EdgeSet, source: Int): Set[Long] =
    reach(g, source).filter(v => g.outDegree(v.toInt) == 0)

  /** Lexicographic DFS preorder, smallest neighbour first. */
  def preorder(g: EdgeSet, source: Int): Seq[Long] = {
    val off = g.offsets
    val seen = new java.util.BitSet(g.n + 1)
    val order = Vector.newBuilder[Long]
    val stack = new java.util.ArrayDeque[Integer]()
    stack.push(source)
    while (!stack.isEmpty) {
      val v: Int = stack.pop()
      if (!seen.get(v)) {
        seen.set(v)
        order += v.toLong
        var i = off(v + 1) - 1
        while (i >= off(v)) { if (!seen.get(g.dst(i))) stack.push(g.dst(i)); i -= 1 }
      }
    }
    order.result()
  }

  /** Undirected components over the edges' endpoints, labelled by min id. */
  def components(g: EdgeSet): Array[Int] = {
    val parent = Array.tabulate(g.n + 1)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var i = 0
    while (i < g.size) {
      val a = find(g.src(i)); val b = find(g.dst(i))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
      i += 1
    }
    val present = new java.util.BitSet(g.n + 1)
    i = 0
    while (i < g.size) { present.set(g.src(i)); present.set(g.dst(i)); i += 1 }
    Array.tabulate(g.n + 1)(v => if (present.get(v)) find(v) else -1)
  }

  /** PageRank over the edges' endpoints, dangling mass dropped. */
  def pagerank(g: EdgeSet, iters: Int, d: Double = 0.85): Array[Double] = {
    val present = new java.util.BitSet(g.n + 1)
    var i = 0
    while (i < g.size) { present.set(g.src(i)); present.set(g.dst(i)); i += 1 }
    val nv = present.cardinality()
    var rank = Array.tabulate(g.n + 1)(v => if (present.get(v)) 1.0 / nv else 0.0)
    for (_ <- 1 to iters) {
      val acc = new Array[Double](g.n + 1)
      i = 0
      while (i < g.size) {
        val s = g.src(i)
        acc(g.dst(i)) += rank(s) / g.outDegree(s)
        i += 1
      }
      rank = Array.tabulate(g.n + 1)(v => if (present.get(v)) (1.0 - d) / nv + d * acc(v) else 0.0)
    }
    rank
  }
}

/** Duplicate-sensitive, order-independent answer fingerprint: row
  * count plus two sums of per-row xxhash64 slices, each modulo a prime
  * below 2^31 (so the sums cannot overflow). Identical rows add up
  * instead of cancelling, unlike a bit_xor.
  */
object Fingerprint {
  val P1 = 2147483647L
  val P2 = 2147483629L

  final case class FP(rows: Long, s1: Long, s2: Long) {
    override def toString: String = s"$rows:$s1:$s2"
  }

  def of(df: DataFrame): FP = {
    val h = xxhash64(df.columns.map(c => df.col("`" + c.replace("`", "``") + "`")).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(h, lit(P1))), lit(0L)),
      coalesce(sum(pmod(shiftright(h, 31), lit(P2))), lit(0L))).head()
    FP(r.getLong(0), r.getLong(1) % P1, r.getLong(2) % P2)
  }

  /** Same fingerprint over rows of long columns, computed in Scala. */
  def ofLongRows(rows: Iterator[Array[Long]]): FP = {
    var n = 0L; var s1 = 0L; var s2 = 0L
    rows.foreach { r =>
      var h = 42L
      r.foreach(v => h = XXH64.hashLong(v, h))
      n += 1
      s1 = (s1 + Math.floorMod(h, P1)) % P1
      s2 = (s2 + Math.floorMod(h >> 31, P2)) % P2
    }
    FP(n, s1, s2)
  }

  def cast(df: DataFrame, cols: String*): DataFrame =
    df.select(cols.map(c => col(c).cast("long").as(c)): _*)
}
