package graft.operators

import graft.{Materialized, Op, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink format coverage beyond parquet: JSONL and CSV
  * round-trips of the documents table. Each op writes the corpus out
  * through the format's sink, reads it back through the format's
  * source with an explicit schema (schema-on-read — no inference scan
  * at scale), and aggregates. The oracle runs the same aggregation on
  * the original parquet, so any lossiness in either direction
  * (quoting, escaping, type coercion, row loss) hash-fails: the
  * per-group `min(md5(text))` pins byte-exact text survival, not just
  * row counts.
  *
  * Scale shape: both sinks/sources are splittable line formats —
  * write and read are embarrassingly parallel per partition; the
  * aggregation is the only shuffle. (Exception: the CSV read uses
  * multiLine — see [[readCsv]].)
  */
object Sources {

  /** Fixed per-op path under the session's scratch root, overwritten
    * each invocation: repeats of an op reuse one corpus copy instead
    * of writing a fresh one per call, and the root (with every copy) is
    * deleted when the session ends.
    */
  private[graft] def scratch(spark: SparkSession, name: String): String =
    Materialized.scratchRoot(spark).resolve(name).toString

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def summarize(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("total_chars"),
        min(md5(col("text").cast(BinaryType))).as("min_fp"))
      .orderBy("lang", "source")

  val summarizeSql: String = """
    SELECT lang, source, COUNT(*) AS n_docs,
      CAST(SUM(length(text)) AS BIGINT) AS total_chars,
      MIN(md5(text)) AS min_fp
    FROM documents GROUP BY lang, source ORDER BY lang, source"""

  /** documents → JSONL sink → JSONL source (explicit schema) → agg. */
  def sourceJsonl(spark: SparkSession, dir: String): DataFrame = {
    val out = s"${scratch(spark, "jsonl")}/docs"
    Tables.documents(spark, dir).write.mode("overwrite").json(out)
    summarize(spark.read.schema(DocSchema).json(out))
  }

  /** CSV sink/source with one pinned dialect so the round-trip is
    * lossless by construction (spec-verified on newline / quote /
    * empty / null texts): RFC-4180 doubled-quote escaping (escape set
    * to the quote char on both sides), nulls as the Hive `\N`
    * sentinel — distinct from an empty field, so empty-string text
    * survives instead of collapsing to null — and `multiLine` on read
    * because the writer quotes embedded newlines (without it a quoted
    * newline splits one doc into two corrupt rows). multiLine costs
    * file-level rather than block-level split granularity at scale —
    * the documented trade for correctness on corpora with newlines;
    * JSONL stays the splittable fast path.
    */
  def writeCsv(docs: DataFrame, out: String): Unit =
    docs.write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      .option("nullValue", "\\N")
      // both sides: Spark's CSV trims unquoted whitespace by default,
      // silently mutating texts with leading/trailing spaces
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(out)

  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(DocSchema)
      .option("header", "true").option("escape", "\"")
      .option("nullValue", "\\N").option("multiLine", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)

  def sourceCsv(spark: SparkSession, dir: String): DataFrame = {
    val out = s"${scratch(spark, "csv")}/docs"
    writeCsv(Tables.documents(spark, dir), out)
    summarize(readCsv(spark, out))
  }

  /** documents → ORC sink → ORC source → agg: the second columnar
    * format next to parquet. ORC is binary and typed, so the round
    * trip is lossless by construction (no dialect pinning needed —
    * nulls, empty strings, newlines, and the CSV `\N` sentinel all
    * survive; the md5 fingerprint still proves it against the parquet
    * oracle). Scale shape matches parquet: splittable stripes,
    * column pruning, min/max predicate pushdown — the explicit schema
    * skips the footer-merge inference pass over every file.
    */
  def sourceOrc(spark: SparkSession, dir: String): DataFrame = {
    val out = s"${scratch(spark, "orc")}/docs"
    Tables.documents(spark, dir).write.mode("overwrite").orc(out)
    summarize(spark.read.schema(DocSchema).orc(out))
  }

  /** Bucketed-table layout: write orders and lineitem bucketed (8
    * buckets) AND sorted by the join key, then sort-merge-join them
    * with NO shuffle on either side — Spark reads each bucket pair
    * co-located, so the join exchanges nothing (the only Exchange in
    * the plan belongs to the final tiny groupBy; the spec pins
    * exactly that). This is the layout move that matters most at
    * 100 TB: a fact-fact join on pre-bucketed tables skips the
    * dominant shuffle entirely, every run, for the cost of one
    * bucketed write. `hint("merge")` pins SMJ so the plan shape (and
    * the zero-shuffle property) is stable across stats changes.
    */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch(spark, "bucketed")
    spark.sql("DROP TABLE IF EXISTS graft_orders_b")
    spark.sql("DROP TABLE IF EXISTS graft_lineitem_b")
    Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$out/orders").saveAsTable("graft_orders_b")
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$out/lineitem").saveAsTable("graft_lineitem_b")
    val o = spark.table("graft_orders_b")
    val l = spark.table("graft_lineitem_b")
    l.hint("merge").join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 4))).cast(DoubleType).as("revenue"))
      .orderBy("o_orderstatus")
  }

  val bucketedJoinSql: String = """
    SELECT o_orderstatus, COUNT(*) AS n_items,
      CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** Partition-pruned (hive-layout) scan — the other half of the
    * layout story next to bucketing: orders written
    * `partitionBy(o_year)`, then read with a year predicate. The
    * filter resolves against directory names, so non-matching years
    * are never listed, opened, or scanned (`PartitionFilters` in the
    * scan node — the spec pins it); at 100 TB partitioning on the
    * dominant filter column is the difference between scanning one
    * year and scanning all of them. The oracle runs the same
    * aggregation + predicate over the unpartitioned original, so any
    * row lost or duplicated by the layout round-trip hash-fails.
    */
  val PartYear = 1997

  def partitionedScan(spark: SparkSession, dir: String): DataFrame = {
    val out = s"${scratch(spark, "partitioned")}/orders"
    Tables.orders(spark, dir)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(out)
    spark.read.parquet(out)
      .where(col("o_year") === PartYear)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("revenue"))
      .orderBy("status")
  }

  val partitionedScanSql: String = s"""
    SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders WHERE EXTRACT(year FROM o_orderdate) = $PartYear
    GROUP BY 1 ORDER BY 1"""

  /** Sort-clustered layout — the third leg of the layout story next
    * to bucketing (join locality) and hive partitioning (directory
    * pruning): lineitem written `repartitionByRange(l_shipdate)` +
    * `sortWithinPartitions(l_shipdate)`, then scanned with a narrow
    * date window. Range partitioning makes whole FILES disjoint in
    * the sort column, and the within-file sort makes row-group and
    * page min/max stats tight, so a selective predicate skips nearly
    * everything it doesn't need at the parquet reader — no
    * directory scheme required, works for any range predicate on the
    * cluster column. At 100 TB this is how a time-range query over an
    * unpartitioned fact avoids reading the other 99.9% of the table.
    * The spec pins the skip with scan metrics (sorted layout emits
    * ~window rows; the same data shuffled randomly emits ~all rows);
    * the oracle pins that the layout round-trip loses nothing.
    */
  val SortedLo = "1997-03-01"
  val SortedHi = "1997-05-01"

  /** The cluster column is a derived DATE (`l_shipday`), not the raw
    * timestamp: the corpus's timestamps are tz-naive, Spark reads
    * them as TIMESTAMP_NTZ, and parquet filter pushdown builds no
    * predicate for NTZ timestamps (only UTC-adjusted ones) — an NTZ
    * cluster column would carry stats nothing ever consults. DATE is
    * INT32 with full min/max + pushdown support, and a day is the
    * natural clustering grain for a time-range layout anyway.
    */
  def writeSorted(df: DataFrame, out: String, parts: Int): Unit =
    df.withColumn("l_shipday", to_date(col("l_shipdate")))
      .drop("l_shipdate")
      .repartitionByRange(parts, col("l_shipday"))
      .sortWithinPartitions("l_shipday")
      .write.mode("overwrite").parquet(out)

  def sortedWindowAgg(li: DataFrame): DataFrame =
    li.where(col("l_shipday") >= lit(SortedLo).cast(DateType) &&
        col("l_shipday") < lit(SortedHi).cast(DateType))
      .groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_qty"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 4))).cast(DoubleType).as("revenue"))
      .orderBy("flag")

  /** Cluster-file count tracks the session's shuffle parallelism — a
    * fixed constant would leave a 1000-executor write running 8 tasks.
    */
  private def layoutParts(spark: SparkSession): Int =
    math.max(8, spark.sessionState.conf.numShufflePartitions)

  def sortedScan(spark: SparkSession, dir: String): DataFrame = {
    val out = s"${scratch(spark, "sorted")}/lineitem"
    writeSorted(Tables.lineitem(spark, dir)
      .select("l_returnflag", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate"), out, parts = layoutParts(spark))
    sortedWindowAgg(spark.read.parquet(out))
  }

  val sortedScanSql: String = s"""
    SELECT l_returnflag AS flag, COUNT(*) AS n_items,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '$SortedLo'
      AND CAST(l_shipdate AS DATE) < DATE '$SortedHi'
    GROUP BY 1 ORDER BY 1"""

  /** Small-files compaction — the maintenance op every long-lived
    * 100 TB table needs: streaming sinks and incremental loads leave
    * thousands of KB-sized part files whose per-file open/footer/task
    * overhead eventually dominates scans. The compactor sizes the
    * output from the fragmented input's on-disk bytes (ceil(bytes /
    * [[CompactTargetBytes]]) files) and rewrites through `coalesce`
    * — NO shuffle: each output task concatenates a handful of input
    * files, so compaction costs one sequential read + one write of
    * the data regardless of cluster size. The op fragments the
    * documents table, compacts it, and aggregates the compacted
    * read-back against the parquet oracle (row loss / duplication
    * hash-fails); the spec pins the file-count collapse and the
    * shuffle-free plan.
    */
  val CompactTargetBytes: Long = 4L << 20

  def compactDir(spark: SparkSession, in: String, out: String): Int = {
    val bytes = dirBytes(in)
    val nFiles = math.max(1, math.ceil(bytes.toDouble / CompactTargetBytes).toInt)
    spark.read.schema(DocSchema).parquet(in)
      .coalesce(nFiles).write.mode("overwrite").parquet(out)
    nFiles
  }

  private def dirBytes(path: String): Long = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(path))
    try s.mapToLong { f =>
      if (java.nio.file.Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")) java.nio.file.Files.size(f)
      else 0L
    }.sum()
    finally s.close()
  }

  def sourceCompact(spark: SparkSession, dir: String): DataFrame = {
    val frag = s"${scratch(spark, "compact")}/fragmented"
    val out = s"${scratch(spark, "compact")}/compacted"
    Tables.documents(spark, dir).repartition(64)
      .write.mode("overwrite").parquet(frag)
    compactDir(spark, frag, out)
    summarize(spark.read.schema(DocSchema).parquet(out))
  }

  /** Z-order (multi-column) clustering — what single-column sorting
    * cannot do: cluster lineitem on BOTH l_partkey and l_suppkey by
    * interleaving the bits of their range-scaled 16-bit buckets into
    * one z-value, range-partition + sort by it, and drop it (the
    * skipping consults the stored key columns' min/max stats, which
    * the z-curve makes tight in BOTH dimensions per file). A 2-D box
    * predicate — the shape of every "this part from this supplier
    * region" query — then skips most files on either bound, where a
    * partkey-sorted layout skips nothing for a suppkey predicate
    * (spec pins exactly that three-way comparison). Bucket scaling is
    * order-preserving ((key−min)·2¹⁶/span, one tiny min/max agg), so
    * the curve survives arbitrary key ranges (ScaleUp's ×10⁹ offsets
    * included); the interleave is a 32-term shift/or projection —
    * codegen'd, no UDF. The box bounds are quarter-fractions of each
    * key's span computed identically in both engines, so the oracle
    * pins the layout round-trip exactly.
    */
  val ZBits = 16

  def interleaveBits(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until ZBits).foldLeft(lit(0L)) { (acc, i) =>
      acc.bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }

  private def zbucket(c: org.apache.spark.sql.Column, mn: Long, span: Long)
      : org.apache.spark.sql.Column =
    ((c - lit(mn)) * lit(1L << ZBits) / lit(math.max(span, 1L))).cast(LongType)

  def writeZorder(li: DataFrame, out: String, parts: Int,
      pmin: Long, pspan: Long, smin: Long, sspan: Long): Unit =
    li.withColumn("_z", interleaveBits(
        zbucket(col("l_partkey"), pmin, pspan),
        zbucket(col("l_suppkey"), smin, sspan)))
      .repartitionByRange(parts, col("_z")).sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(out)

  def zorderBoxAgg(li: DataFrame, plo: Long, phi: Long, slo: Long, shi: Long): DataFrame =
    li.where(col("l_partkey") >= lit(plo) && col("l_partkey") < lit(phi) &&
        col("l_suppkey") >= lit(slo) && col("l_suppkey") < lit(shi))
      .groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_qty"))
      .orderBy("flag")

  /** (pmin, pspan, smin, sspan) of the two key columns — one aggregate. */
  def zorderBounds(li: DataFrame): (Long, Long, Long, Long) = {
    val r = li.agg(min("l_partkey"), max("l_partkey"),
      min("l_suppkey"), max("l_suppkey")).first()
    (r.getLong(0), r.getLong(1) - r.getLong(0), r.getLong(2), r.getLong(3) - r.getLong(2))
  }

  def sourceZorder(spark: SparkSession, dir: String): DataFrame = {
    val out = s"${scratch(spark, "zorder")}/lineitem"
    val li = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey", "l_returnflag", "l_quantity")
    val (pmin, pspan, smin, sspan) = zorderBounds(li)
    writeZorder(li, out, layoutParts(spark), pmin, pspan, smin, sspan)
    zorderBoxAgg(spark.read.parquet(out),
      pmin + pspan / 4, pmin + pspan / 2, smin + sspan / 4, smin + sspan / 2)
  }

  val zorderSql: String = """
    WITH b AS (SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
                      MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax FROM lineitem)
    SELECT l_returnflag AS flag, COUNT(*) AS n_items,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem, b
    WHERE l_partkey >= pmin + (pmax - pmin) // 4
      AND l_partkey <  pmin + (pmax - pmin) // 2
      AND l_suppkey >= smin + (smax - smin) // 4
      AND l_suppkey <  smin + (smax - smin) // 2
    GROUP BY 1 ORDER BY 1"""

  /** Columns profiled by the table-statistics op. */
  val StatsCols: Seq[String] = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** ANALYZE-style column statistics over lineitem — the catalog
    * metadata every cost-based optimizer and layout decision feeds on:
    * per column, row count, non-null count, exact NDV, min and max.
    * One wide aggregate then a `stack` unpivot to long form.
    *
    * Scale shape: min/max/count are one narrow scan with partial
    * aggregation; the EXACT distinct counts make Catalyst plan an
    * Expand (one replicated stream per column) before the hash
    * aggregate — the honest cost of exactness, paid here because the
    * oracle demands bit-equality. The 100 TB variant swaps
    * `countDistinct` for `approx_count_distinct` (HLL++, one pass, no
    * Expand) — the sketch machinery is gated separately by
    * q_approx_distinct.
    */
  def sourceStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val aggs = count(lit(1)).as("n_rows") +: StatsCols.flatMap { c =>
      Seq(count(col(c)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"ndv_$c"),
        min(col(c)).cast(DoubleType).as(s"min_$c"),
        max(col(c)).cast(DoubleType).as(s"max_$c"))
    }
    val wide = li.agg(aggs.head, aggs.tail: _*)
    val stacked = StatsCols
      .map(c => s"'$c', n_rows, nn_$c, ndv_$c, min_$c, max_$c")
      .mkString(", ")
    wide.select(expr(
      s"stack(${StatsCols.length}, $stacked) AS (col_name, n_rows, n_nonnull, ndv, min_v, max_v)"))
      .orderBy("col_name")
  }

  val sourceStatsSql: String = StatsCols.map { c =>
    s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows, COUNT($c) AS n_nonnull,
       |  COUNT(DISTINCT $c) AS ndv,
       |  CAST(MIN($c) AS DOUBLE) AS min_v, CAST(MAX($c) AS DOUBLE) AS max_v
       |FROM lineitem""".stripMargin
  }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY col_name")

  def ops: Seq[Op] = Seq(
    Op("source_stats", sourceStats, Some(sourceStatsSql)),
    Op("source_jsonl", sourceJsonl, Some(summarizeSql)),
    Op("source_csv", sourceCsv, Some(summarizeSql)),
    Op("source_orc", sourceOrc, Some(summarizeSql)),
    Op("source_bucketed", bucketedJoin, Some(bucketedJoinSql)),
    Op("source_partitioned", partitionedScan, Some(partitionedScanSql)),
    Op("source_sorted", sortedScan, Some(sortedScanSql)),
    Op("source_compact", sourceCompact, Some(summarizeSql)),
    Op("source_zorder", sourceZorder, Some(zorderSql)),
  )
}
