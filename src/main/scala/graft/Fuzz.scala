package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** Randomized differential pass: the fixed gate runs frozen queries
  * over frozen corpora, so a bug that only bites at, say, τ = 0.35 or
  * a BFS source deep in the graph can hide forever. This main draws
  * seeded random parameters for five parameterizable op families and
  * emits, per draw, BOTH the Spark result (parquet) and the matching
  * DuckDB oracle SQL (oracle_sql.json) — `tools/fuzz.py` then runs the
  * same compare the driver's correctness gate uses. Fully reproducible:
  * draw i of seed s is `new Random(s * 1000 + i)`, and every random
  * choice is derived from that stream alone.
  *
  * Families (and what varies):
  *  - agg: lineitem filter threshold + group column (predicate pushdown
  *    × decimal-snap aggregation under arbitrary selectivity)
  *  - window: orders running decimal sum over a random-length rows
  *    frame per customer (frame arithmetic at random widths)
  *  - topk: per-order top-k lines by price at random k (rank cut ties)
  *  - jaccard: dedup_ngram_jaccard at random τ ∈ [0.30, 0.80]
  *    (prefix-filter + AllPairs length-filter correctness across the
  *    threshold range — the filters' τ-algebra is the risky part)
  *  - bfs: supply-graph BFS from a random-rank source at random depth
  *    (frontier expansion from arbitrary starts, not just MIN(src))
  *  - basket: q_basket at a random support floor (r15)
  *  - contain: dedup_containment at random τ ∈ [0.50, 0.95] (r15)
  *  - ktruss: k-truss at random k ∈ [3, 6], oracle unrolled 8 rounds
  *    with the convergence sentinel (r15)
  *  - ewma: q_ewma at random α ∈ {0.1 … 0.9} (r15)
  *  - temp: q_sample_temperature at a random sqrt-chain temperature
  *    and quota scale (r15)
  *  - readability: text_readability at random integer band cuts (r15)
  *  - substr: dedup_substring_exact at random shingle width k ∈ [3, 10] (r16)
  *  - coreness: graph_coreness under random oracle unroll geometry (r16)
  *  - anngraph: ann_graph at random (degree, beam, rounds) index geometry (r16)
  *  - gini: q_gini under random customer-subset modulus × FORCED rank
  *    path (exact window / bucketed CASE / bucketed param-join) against
  *    the path-blind oracle — the bucketed machinery stays
  *    data-exercised at varying group sizes every fuzz run (r17)
  *
  * Usage: runMain graft.Fuzz <sfDir> <outDir> <seed> <nDraws>
  */
object Fuzz {

  final case class Draw(name: String, frame: DataFrame, oracle: String)

  val NumFamilies = 15

  def draws(spark: SparkSession, dir: String, seed: Long, n: Int): Seq[Draw] =
    (1 to n).map { i =>
      val rng = new scala.util.Random(seed * 1000 + i)
      rng.nextInt(NumFamilies) match {
        case 0  => aggDraw(spark, dir, i, rng)
        case 1  => windowDraw(spark, dir, i, rng)
        case 2  => topkDraw(spark, dir, i, rng)
        case 3  => jaccardDraw(spark, dir, i, rng)
        case 4  => bfsDraw(spark, dir, i, rng)
        case 5  => basketDraw(spark, dir, i, rng)
        case 6  => containDraw(spark, dir, i, rng)
        case 7  => ktrussDraw(spark, dir, i, rng)
        case 8  => ewmaDraw(spark, dir, i, rng)
        case 9  => temperatureDraw(spark, dir, i, rng)
        case 10 => readabilityDraw(spark, dir, i, rng)
        case 11 => substrDraw(spark, dir, i, rng)
        case 12 => corenessDraw(spark, dir, i, rng)
        case 13 => annGraphDraw(spark, dir, i, rng)
        case 14 => giniDraw(spark, dir, i, rng)
      }
    }

  /** lineitem filtered at a random quantity threshold, grouped by a
    * random label column; decimal-snapped sum so both engines agree
    * bit-for-bit at any selectivity.
    */
  private def aggDraw(spark: SparkSession, dir: String, i: Int,
      rng: scala.util.Random): Draw = {
    val t = 1 + rng.nextInt(50)
    val c = Seq("l_returnflag", "l_linestatus")(rng.nextInt(2))
    val frame = Tables.lineitem(spark, dir)
      .where(col("l_quantity") <= t)
      .groupBy(c)
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(c)
    val oracle = s"""
      SELECT $c, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        COUNT(*) AS n
      FROM lineitem WHERE l_quantity <= $t
      GROUP BY $c ORDER BY $c"""
    Draw(f"fz$i%03d_agg_t${t}_$c", frame, oracle)
  }

  /** Running decimal sum of order totals per customer over a random
    * rows frame (k preceding .. current), ordered by the unique
    * (o_orderdate, o_orderkey).
    */
  private def windowDraw(spark: SparkSession, dir: String, i: Int,
      rng: scala.util.Random): Draw = {
    val k = 1 + rng.nextInt(10)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-k, Window.currentRow)
    val frame = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast(DoubleType).as("run_total"))
      .orderBy("o_orderkey")
    val oracle = s"""
      SELECT o_orderkey, o_custkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN $k PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total
      FROM orders ORDER BY o_orderkey"""
    Draw(f"fz$i%03d_window_k$k", frame, oracle)
  }

  /** Top-k lineitems per order by (price desc, linenumber) at random
    * k — the rank cut with a unique tie-break.
    */
  private def topkDraw(spark: SparkSession, dir: String, i: Int,
      rng: scala.util.Random): Draw = {
    val k = 1 + rng.nextInt(5)
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
    val frame = Tables.lineitem(spark, dir)
      .withColumn("rn", row_number().over(w).cast(LongType))
      .where(col("rn") <= k)
      .select("l_orderkey", "rn", "l_linenumber", "l_extendedprice")
      .orderBy("l_orderkey", "rn")
    val oracle = s"""
      SELECT l_orderkey, rn, l_linenumber, l_extendedprice FROM (
        SELECT l_orderkey, l_linenumber, l_extendedprice,
          CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
            ORDER BY l_extendedprice DESC, l_linenumber) AS BIGINT) AS rn
        FROM lineitem)
      WHERE rn <= $k ORDER BY l_orderkey, rn"""
    Draw(f"fz$i%03d_topk_k$k", frame, oracle)
  }

  /** dedup_ngram_jaccard at a random τ: exercises the prefix filter
    * and AllPairs length filter across the whole threshold range.
    */
  private def jaccardDraw(spark: SparkSession, dir: String, i: Int,
      rng: scala.util.Random): Draw = {
    val tau = math.rint((0.30 + rng.nextDouble() * 0.50) * 100) / 100.0
    val frame = dedup.Dedup.ngramJaccardPairs(Tables.documents(spark, dir), tau)
    Draw(f"fz$i%03d_jaccard_t$tau", frame, dedup.Dedup.dedupNgramJaccardSqlAt(tau))
  }

  /** Supply-graph BFS from the r-th smallest vertex at a random depth
    * cap — arbitrary starts instead of the gate's MIN(src).
    */
  private def bfsDraw(spark: SparkSession, dir: String, i: Int,
      rng: scala.util.Random): Draw = {
    val r = rng.nextInt(100)
    val d = 2 + rng.nextInt(7)
    val e = graph.DerivedGraphs.supplyEdgesUndirected(spark, dir)
    // r-th smallest vertex, clamped into range on tiny corpora: both
    // sides derive it from the same deterministic (ORDER BY src) rank
    val src = e.select("src").distinct().orderBy("src")
      .limit(r + 1).agg(max(col("src")).as("vertex"))
    val frame = graph.GraphOps.bfsFrom(e, src, maxDepth = d)
      .select(col("vertex"), col("level").cast("long").as("level"))
      .orderBy("vertex")
    val oracle =
      s"""WITH RECURSIVE ${graph.DerivedGraphs.supplyEdgesSql},
         |su AS (SELECT src, dst FROM se UNION SELECT dst, src FROM se),
         |s0 AS (SELECT MAX(src) AS v FROM (
         |  SELECT DISTINCT src FROM su ORDER BY src LIMIT ${r + 1})),
         |b AS (
         |  SELECT v, 0 AS level FROM s0
         |  UNION
         |  SELECT su.dst, b.level + 1 FROM b JOIN su ON su.src = b.v WHERE b.level < $d
         |)
         |SELECT v AS vertex, CAST(MIN(level) AS BIGINT) AS level
         |FROM b GROUP BY v ORDER BY vertex""".stripMargin
    Draw(f"fz$i%03d_bfs_r${r}_d$d", frame, oracle)
  }

  /** q_basket at a random support floor: the rule-survival cut (and the
    * broadcast marginal joins under it) across the whole support range.
    */
  private def basketDraw(spark: SparkSession, dir: String, i: Int,
      rng: scala.util.Random): Draw = {
    val ms = 2L + rng.nextInt(9)
    Draw(f"fz$i%03d_basket_m$ms",
      operators.Relational.basketRules(spark, dir, ms),
      operators.Relational.qBasketSqlAt(ms))
  }

  /** dedup_containment at a random τ: the asymmetric A-side prefix
    * bound's τ-algebra across [0.50, 0.95].
    */
  private def containDraw(spark: SparkSession, dir: String, i: Int,
      rng: scala.util.Random): Draw = {
    val tau = math.rint((0.50 + rng.nextDouble() * 0.45) * 100) / 100.0
    Draw(f"fz$i%03d_contain_t$tau",
      dedup.Dedup.containmentPairs(Tables.documents(spark, dir), tau),
      dedup.Dedup.dedupContainmentSqlAt(tau))
  }

  /** k-truss at a random k: the monotone prune fixpoint at every
    * cohesion level the nation graph supports (the unrolled oracle's
    * convergence sentinel fires loudly if 8 rounds ever stop
    * sufficing).
    */
  private def ktrussDraw(spark: SparkSession, dir: String, i: Int,
      rng: scala.util.Random): Draw = {
    val k = 3 + rng.nextInt(4)
    Draw(f"fz$i%03d_ktruss_k$k",
      graph.GraphOps.kTruss(graph.DerivedGraphs.nationEdges(spark, dir), k)
        .orderBy("u", "v"),
      graph.GraphQueries.graphKTrussSqlAt(k, nRounds = 8))
  }

  /** q_ewma at a random α ∈ {0.1 … 0.9}: the recurrence constants
    * rendered once into both engines (β = 1 − α in driver doubles).
    */
  private def ewmaDraw(spark: SparkSession, dir: String, i: Int,
      rng: scala.util.Random): Draw = {
    val alpha = (1 + rng.nextInt(9)) / 10.0
    Draw(f"fz$i%03d_ewma_a$alpha",
      operators.Events.qEwmaAt(spark, dir, alpha),
      operators.Events.qEwmaSqlAt(alpha))
  }

  /** q_sample_temperature at a random sqrt-chain temperature
    * (T ∈ {1, 0.5, 0.25} — IEEE-exact on both engines, unlike pow)
    * and quota scale.
    */
  private def temperatureDraw(spark: SparkSession, dir: String, i: Int,
      rng: scala.util.Random): Draw = {
    val depth = rng.nextInt(3)
    val k = 20L + rng.nextInt(181)
    Draw(f"fz$i%03d_temp_d${depth}_k$k",
      operators.Sampling.qSampleTemperatureAt(spark, dir, depth, k),
      operators.Sampling.qSampleTemperatureSqlAt(depth, k))
  }

  /** text_readability at random integer band cuts: the band CASE runs
    * on the identical unrounded flesch double on both engines.
    */
  private def readabilityDraw(spark: SparkSession, dir: String, i: Int,
      rng: scala.util.Random): Draw = {
    val easy = 60 + rng.nextInt(31)
    val med = 30 + rng.nextInt(26)
    Draw(f"fz$i%03d_readability_e${easy}_m$med",
      text.TextAnalysis.textReadabilityAt(spark, dir, easy, med),
      text.TextAnalysis.textReadabilitySqlAt(easy, med))
  }

  /** dedup_substring_exact at a random shingle width k ∈ [3, 10]
    * (r16): the span machinery — inverted index, frequency filter,
    * gaps-and-islands — across the window-size range, including the
    * collapse's occ×copies frequency accounting at every k.
    */
  private def substrDraw(spark: SparkSession, dir: String, i: Int,
      rng: scala.util.Random): Draw = {
    val k = 3 + rng.nextInt(8)
    Draw(f"fz$i%03d_substr_k$k",
      dedup.Dedup.substringExactSpans(Tables.documents(spark, dir), k),
      dedup.Dedup.dedupSubstringExactSqlAt(k))
  }

  /** graph_coreness under a random oracle unroll geometry (r16):
    * maxK ∈ [10, 13] levels × rounds ∈ [7, 9] prunes per level — the
    * engine result is fixed, so every draw checks the sentinel-guarded
    * unroll reproduces it at arbitrary spare depth. The drawn maxK is
    * floored at the gate's CorenessMaxK (10) so every draw keeps the
    * gate's two-spare-level headroom: measured max coreness is already
    * 8 at sf0.01, and a corpus whose degeneracy reached 9 would make a
    * maxK=9 draw trip the -99 sentinel on a CORRECT engine result.
    */
  private def corenessDraw(spark: SparkSession, dir: String, i: Int,
      rng: scala.util.Random): Draw = {
    val maxK = 10 + rng.nextInt(4)
    val rounds = 7 + rng.nextInt(3)
    Draw(f"fz$i%03d_coreness_k${maxK}_r$rounds",
      graph.GraphOps.coreness(graph.DerivedGraphs.nationEdges(spark, dir))
        .orderBy("vertex"),
      graph.GraphQueries.graphCorenessSqlAt(maxK, rounds))
  }

  /** ann_graph at a random EXPLICIT index geometry (r16; r17 widened
    * to draw the entry count too): knn degree ∈ [8, 16], entries ∈
    * [6, 12], beam width ∈ [16, 32], rounds ∈ [3, 5] — the build +
    * beam-search contract away from the gate's adaptive point (every
    * knob passed explicitly on BOTH sides, so the adaptive defaults
    * never leak into a draw).
    */
  private def annGraphDraw(spark: SparkSession, dir: String, i: Int,
      rng: scala.util.Random): Draw = {
    val degree = 8 + rng.nextInt(9)
    val entries = 6 + rng.nextInt(7)
    val beam = 16 + rng.nextInt(17)
    val rounds = 3 + rng.nextInt(3)
    Draw(f"fz$i%03d_anngraph_d${degree}_e${entries}_b${beam}_r$rounds",
      similarity.Ann.graphBeamTopK(Tables.embeddings(spark, dir),
        degree = degree, entriesN = entries, rounds = rounds, beamW = beam),
      similarity.Ann.annGraphSqlAt(degree, entries, rounds, beam))
  }

  /** q_gini under a random customer-subset modulus (varying every
    * nation's group size) and a random FORCED rank path — exact
    * window, bucketed with the nested-CASE bucket id, or bucketed with
    * the broadcast param-join shape. The oracle is path-blind (always
    * the exact rank identity), so each draw proves the bucketed
    * machinery bit-identical on a fresh group-size profile, every fuzz
    * run.
    */
  private def giniDraw(spark: SparkSession, dir: String, i: Int,
      rng: scala.util.Random): Draw = {
    val m = 1L + rng.nextInt(8)
    val path = rng.nextInt(3) // 0 = exact window, 1 = bucketed CASE, 2 = bucketed param-join
    val tag = Seq("w", "bc", "bp")(path)
    Draw(f"fz$i%03d_gini_m${m}_$tag",
      operators.Relational.qGiniImpl(spark, dir,
        forceBucketed = path > 0, forceParamJoin = path == 2,
        forceExactWindow = path == 0, custModulus = m),
      operators.Relational.qGiniSqlAt(m))
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, seedS, nS) = args
    val (seed, n) = (seedS.toLong, nS.toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.tuned(
      SparkSession.builder().master(s"local[$cpus]"),
      shufflePartitions = cpus.toInt
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val all = draws(spark, sfDir, seed, n)
    all.foreach { d =>
      d.frame.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${d.name}")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = all.map(d => s"${q(d.name)}: ${q(d.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"FUZZ_OK draws=${all.size} seed=$seed")
    spark.stop()
  }
}
