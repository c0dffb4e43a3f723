package graft

import graft.operators.{Relational, Sources}
import org.apache.spark.sql.functions._

class SourcesSpec extends SparkSpec {

  test("source_stats: one row per profiled column, internally consistent") {
    val li = Tables.lineitem(spark, sfDir)
    val out = Sources.sourceStats(spark, sfDir).collect()
    assert(out.map(_.getString(0)).toSeq === Sources.StatsCols.sorted)
    val n = li.count()
    out.foreach { r =>
      val (nRows, nn, ndv) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nRows === n)
      assert(nn <= nRows && ndv <= nn)
      assert(ndv > 0 && r.getDouble(4) <= r.getDouble(5), r.toString)
    }
    // spot-check one column against a direct computation
    val q = li.agg(countDistinct(col("l_quantity")), min("l_quantity"), max("l_quantity")).head
    val row = out.find(_.getString(0) == "l_quantity").get
    assert(row.getLong(3) === q.getLong(0))
    assert(row.getDouble(4) === q.getDouble(1) && row.getDouble(5) === q.getDouble(2))
  }

  test("jsonl, csv, and orc round-trips preserve the corpus byte-exactly") {
    val direct = rowsOf(Sources.summarize(Tables.documents(spark, sfDir)))
    assert(rowsOf(Sources.sourceJsonl(spark, sfDir)) === direct)
    assert(rowsOf(Sources.sourceCsv(spark, sfDir)) === direct)
    assert(rowsOf(Sources.sourceOrc(spark, sfDir)) === direct)
  }

  test("csv dialect survives newline / quote / empty / null / sentinel texts") {
    import spark.implicits._
    val nasty = Seq(
      (1L, "line one\nline two\n\nline four", "en", "web", 27L),
      (2L, "she said \"hi\", then \"bye\"", "en", "web", 25L),
      (3L, "", "en", "book", 0L),          // empty string, not null
      (4L, null.asInstanceOf[String], "de", "web", 0L), // genuine null
      (6L, "trailing space ", "fr", "web", 15L),
      (7L, "comma,sep;and\ttab", "fr", "book", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = tempDir("csv-spec").toString
    Sources.writeCsv(nasty, out)
    val back = Sources.readCsv(spark, out)
      .orderBy("doc_id").collect()
    val orig = nasty.orderBy("doc_id").collect()
    assert(back.length === orig.length)
    orig.zip(back).foreach { case (o, b) => assert(b === o, s"doc ${o.getLong(0)}") }
    // Documented sentinel collision (same convention as Hive text
    // tables): a text that IS the literal 2-char string \N reads back
    // as NULL. JSONL is the lossless path for such corpora.
    val sentinel = Seq((9L, "\\N", "de", "book", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Sources.writeCsv(sentinel, out)
    assert(Sources.readCsv(spark, out).collect().head.isNullAt(1))
  }

  test("q_skew_agg: salted two-phase equals direct aggregation") {
    val li = Tables.lineitem(spark, sfDir)
    val direct = li.groupBy("l_suppkey")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n_items"))
      .orderBy("l_suppkey")
    assert(rowsOf(Relational.qSkewAgg(spark, sfDir)) === rowsOf(direct))
  }

  test("q_grouping_sets: grand total equals sum of status marginals") {
    val out = Relational.qGroupingSets(spark, sfDir).collect()
    val grand = out.filter(r => r.getString(0) == "ALL" && r.getString(1) == "ALL")
    assert(grand.length === 1)
    val statusMarginals = out.filter(r => r.getString(0) != "ALL" && r.getString(1) == "ALL")
    assert(statusMarginals.map(_.getLong(3)).sum === grand.head.getLong(3))
    assert(math.abs(statusMarginals.map(_.getDouble(2)).sum - grand.head.getDouble(2)) < 1e-6)
    // no priority-only marginal was computed (that's the point vs cube)
    assert(!out.exists(r => r.getString(0) == "ALL" && r.getString(1) != "ALL"))
  }

  test("bucketedJoin: the fact-fact join itself exchanges nothing") {
    val df = graft.operators.Sources.bucketedJoin(spark, sfDir)
    val byStatus = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // inspect the final (post-AQE) plan: sparkPlan predates
    // EnsureRequirements and never shows exchanges
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0) // final AQE plan only
    assert(plan.contains("SortMergeJoin"))
    // everything BELOW the join — its two bucketed scan inputs — must
    // be exchange-free; the groupBy/sort shuffles above it are fine
    val joinSubtree = plan.substring(plan.indexOf("SortMergeJoin"))
    assert(!joinSubtree.contains("Exchange"),
      s"bucketed join sides should not shuffle, plan:\n$plan")
    val direct = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStatus === direct)
  }

  test("sortedScan: sort-clustered layout skips row groups; shuffled layout cannot") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val li = Tables.lineitem(spark, sfDir)
      .select("l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_shipdate")
    val day = li.withColumn("l_shipday", to_date(col("l_shipdate"))).drop("l_shipdate")
    val total = li.count()
    val base = tempDir("sorted-spec").toString
    day.repartitionByRange(4, col("l_shipday")).sortWithinPartitions("l_shipday")
      .write.mode("overwrite").parquet(s"$base/sorted")
    // same rows, order destroyed: every file's min/max spans the full
    // date range, so stats can skip nothing
    day.repartition(4, pmod(hash(col("l_quantity"), col("l_extendedprice")), lit(97)))
      .write.mode("overwrite").parquet(s"$base/shuffled")
    // descend through the AQE wrapper and materialized query stages —
    // a plain collect() stops at the QueryStageExec boundary
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(allNodes)
    }
    def scanRows(path: String): (Long, Long) = {
      val df = graft.operators.Sources.sortedWindowAgg(spark.read.parquet(path))
      val out = df.collect().map(_.getLong(1)).sum
      val scans = allNodes(df.queryExecution.executedPlan)
        .collect { case f: FileSourceScanExec => f }
      assert(scans.nonEmpty, "no FileSourceScanExec in executed plan")
      (out, scans.map(_.metrics("numOutputRows").value).sum)
    }
    val (aggSorted, emittedSorted) = scanRows(s"$base/sorted")
    val (aggShuffled, emittedShuffled) = scanRows(s"$base/shuffled")
    assert(aggSorted === aggShuffled) // same answer from both layouts
    // sorted layout: the reader emits roughly the window (row-group
    // granularity slack allowed); shuffled layout: nearly everything
    // 4 range files → skip granularity is one file (~total/4 rows);
    // the window overlaps exactly one file, so emitted ≈ one file
    assert(emittedSorted < total / 3,
      s"sorted layout should skip most of $total rows, emitted $emittedSorted")
    assert(emittedShuffled > total / 2,
      s"shuffled layout cannot skip ($total rows), emitted $emittedShuffled")
    assert(rowsOf(graft.operators.Sources.sortedScan(spark, sfDir)) ===
      rowsOf(graft.operators.Sources.sortedWindowAgg(day)))
  }

  test("sourceZorder: z-curve layout skips on BOTH box dimensions; single-sort cannot") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import graft.operators.Sources
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(allNodes)
    }
    def emitted(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      allNodes(df.queryExecution.executedPlan)
        .collect { case f: FileSourceScanExec => f }
        .map(_.metrics("numOutputRows").value).sum
    }
    val li = Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_suppkey", "l_returnflag", "l_quantity")
    val total = li.count()
    val (pmin, pspan, smin, sspan) = Sources.zorderBounds(li)
    val base = tempDir("zorder-spec").toString
    // 16 files: range-partitioner boundaries are row quantiles, not
    // value-space eighths, so finer files keep the straddle slop small
    Sources.writeZorder(li, s"$base/zorder", 16, pmin, pspan, smin, sspan)
    li.repartitionByRange(16, col("l_partkey")).sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(s"$base/psorted")
    // quarter-span predicates per dimension, probed independently
    def pPred(df: org.apache.spark.sql.DataFrame) = df.where(
      col("l_partkey") >= lit(pmin + pspan / 4) && col("l_partkey") < lit(pmin + pspan / 2))
    def sPred(df: org.apache.spark.sql.DataFrame) = df.where(
      col("l_suppkey") >= lit(smin + sspan / 4) && col("l_suppkey") < lit(smin + sspan / 2))
    def cnt(df: org.apache.spark.sql.DataFrame) = df.groupBy().count()
    val z = spark.read.parquet(s"$base/zorder")
    val p = spark.read.parquet(s"$base/psorted")
    val (zp, zs) = (emitted(cnt(pPred(z))), emitted(cnt(sPred(z))))
    val (pp, ps) = (emitted(cnt(pPred(p))), emitted(cnt(sPred(p))))
    // z-order: a quarter-span on EITHER dimension constrains the
    // curve, so whole files fall out of range on both probes
    assert(zp <= total * 5 / 8, s"zorder partkey probe emitted $zp of $total")
    assert(zs <= total * 3 / 4, s"zorder suppkey probe emitted $zs of $total")
    assert(zs <= ps - total / 8, s"zorder must beat single-sort on the off-column: $zs vs $ps")
    // partkey-sorted: near-perfect on its own column...
    assert(pp <= total * 3 / 8, s"psorted partkey probe emitted $pp of $total")
    // ...and blind on the other one — every file spans all suppkeys
    assert(ps >= total * 7 / 8, s"psorted suppkey probe should read ~all, emitted $ps")
    // correctness: the gate op equals the direct computation
    val direct = Sources.zorderBoxAgg(li,
      pmin + pspan / 4, pmin + pspan / 2, smin + sspan / 4, smin + sspan / 2)
    assert(rowsOf(Sources.sourceZorder(spark, sfDir)) === rowsOf(direct))
  }

  test("sourceCompact: collapses the file count, shuffles nothing, loses nothing") {
    val direct = rowsOf(Sources.summarize(Tables.documents(spark, sfDir)))
    val compacted = Sources.sourceCompact(spark, sfDir)
    assert(rowsOf(compacted) === direct)
    def parquetFiles(p: String): Int = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(p))
      try s.filter(f => f.getFileName.toString.endsWith(".parquet")).count().toInt
      finally s.close()
    }
    val scratch = Sources.scratch(spark, "compact")
    val before = parquetFiles(s"$scratch/fragmented")
    val after = parquetFiles(s"$scratch/compacted")
    assert(before === 64)
    assert(after < before / 4, s"compaction left $after of $before files")
    // the rewrite plan is shuffle-free: coalesce, not repartition
    val rewrite = spark.read.schema(Sources.DocSchema)
      .parquet(s"$scratch/fragmented").coalesce(after)
    assert(!rewrite.queryExecution.executedPlan.toString.contains("Exchange"),
      "compaction must not shuffle")
  }

  test("partitionedScan: the year predicate prunes partitions at the scan") {
    val df = graft.operators.Sources.partitionedScan(spark, sfDir)
    val out = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the filter must be a partition filter on the scan, not a data filter
    val scan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("o_year"), s"expected o_year in PartitionFilters, got: $scan")
    val direct = Tables.orders(spark, sfDir)
      .where(year(col("o_orderdate")) === graft.operators.Sources.PartYear)
      .groupBy("o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === direct)
  }
}
