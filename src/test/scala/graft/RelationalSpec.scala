package graft

import graft.operators.Events
import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {

  test("q_approx_distinct: HLL++ estimate within 5% of exact") {
    val out = Events.qApproxDistinct(spark, sfDir)
      .withColumn("rel_err",
        abs(col("approx_users") - col("exact_users")) / col("exact_users"))
    val maxErr = out.agg(max("rel_err")).head.getDouble(0)
    assert(maxErr <= 0.05, s"max relative error $maxErr")
  }

  test("q_kmv_sketch: estimates near exact, union row = sketch of the union") {
    requireSaturatedCorpus()
    val dir = saturatedSfDir // 150 users/type saturates K=64
    val out = Events.qKmvSketch(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val ev = Tables.events(spark, dir)
    val exactType = ev.groupBy("event_type").agg(count_distinct(col("user_id")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exactType.foreach { case (t, exact) =>
      val est = out(t)._2
      assert(math.abs(est - exact) / exact <= 0.35,
        s"$t: est $est vs exact $exact")
    }
    // sketch saturated: retained pinned at K
    assert(out("click")._1 === Events.KmvK)
    // union estimate vs exact distinct-over-all
    val exactAll = ev.agg(count_distinct(col("user_id"))).head.getLong(0)
    assert(math.abs(out("union_all")._2 - exactAll) / exactAll <= 0.35)
    // intersection estimate vs exact overlap
    val byType = (t: String) => ev.where(col("event_type") === t)
      .select("user_id").distinct()
    val exactInter = byType("click").intersect(byType("purchase")).count()
    assert(math.abs(out("click_x_purchase")._2 - exactInter)
      <= math.max(12.0, 0.45 * exactInter),
      s"inter est ${out("click_x_purchase")._2} vs exact $exactInter")
    // Mergeability (the property HLL can't offer for intersections and
    // the reason theta sketches exist): the union row computed from the
    // per-type SKETCHES must equal KMV run directly on the raw union.
    val p = 2147483647L
    val x = col("user_id") % p
    val h = (((lit(1103515245L) * x) % p) + lit(12345L)) % p
    val direct = ev.select(h.as("h")).distinct()
      .agg(slice(sort_array(collect_set(col("h"))), 1, Events.KmvK).as("hs"))
      .select(element_at(col("hs"), Events.KmvK).as("kth"))
      .head.getLong(0)
    val directEst = BigDecimal((Events.KmvK - 1).toDouble * p / direct)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("union_all")._2 === directEst)
    // Plan pin: the rank-≤K filter must compile to WindowGroupLimit
    // (per-map-task partial limit before the per-type sort), so the
    // sketch build never sorts the full distinct stream in one task.
    val plan = Events.kmvSketchBuild(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$plan")
  }

  test("q_incremental merge of base+delta partials equals the one-shot aggregation") {
    val o = Tables.orders(spark, sfDir)
    val direct = o.groupBy(col("o_orderstatus").as("status"),
        date_trunc("month", col("o_orderdate")).as("mon"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("revenue"))
      .orderBy("status", "mon")
    assert(rowsOf(operators.Relational.qIncremental(spark, sfDir)) === rowsOf(direct))
    // the split is non-trivial: both sides of the pivot hold orders
    val pivot = lit(operators.Relational.IncrPivot).cast("timestamp")
    assert(o.where(col("o_orderdate") < pivot).limit(1).count() === 1)
    assert(o.where(col("o_orderdate") >= pivot).limit(1).count() === 1)
  }

  test("q_rfm: quartile scores bucket each metric, recency inverted, one row per purchaser") {
    val rows = Events.qRfm(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (rs, fs, ms, rfm) = (r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
      assert(rs >= 1 && rs <= 4 && fs >= 1 && fs <= 4 && ms >= 1 && ms <= 4)
      assert(rfm === rs * 100 + fs * 10 + ms)
    }
    // scores are monotone in their metric: frequency ↑ ⇒ f_score ↑,
    // monetary ↑ ⇒ m_score ↑, recency_days ↑ ⇒ r_score ↓ (inverted)
    def monotone(metric: org.apache.spark.sql.Row => Long,
        score: org.apache.spark.sql.Row => Long, up: Boolean): Unit =
      rows.sortBy(metric).map(score).sliding(2).foreach {
        case Array(a, b) => assert(if (up) a <= b else a >= b)
        case _ =>
      }
    monotone(_.getLong(2), _.getLong(5), up = true)
    monotone(r => math.round(r.getDouble(3) * 100), _.getLong(6), up = true)
    monotone(_.getLong(1), _.getLong(4), up = false)
    // exactly one row per user that ever purchased
    val purchasers = Events.eventsSec(spark, sfDir)
      .where(col("event_type") === "purchase")
      .select("user_id").distinct().count()
    assert(rows.length.toLong === purchasers)
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
  }

  test("q_events_anomaly: flags agree with directly recomputed per-user moments") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"))
    val stats = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"), avg("value").as("mean"),
        variance(col("value")).as("variance"))
    val expected = ev.join(stats, "user_id")
      .where(col("n") >= 10 && col("variance") > 0.0 &&
        abs((col("value") - col("mean")) / sqrt(col("variance"))) > 2.0)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val flagged = Events.qEventsAnomaly(spark, sfDir).collect()
    assert(flagged.map(_.getLong(0)).toSet === expected)
    assert(flagged.nonEmpty)
    // every reported z really exceeds the threshold
    assert(flagged.forall(r => math.abs(r.getDouble(5)) > 2.0))
  }

  test("q_scd2: intervals chain per user, one current row, events conserved") {
    val hist = Events.qScd2(spark, sfDir).collect()
    val ev = Events.eventsSec(spark, sfDir)
    val byUser = hist.groupBy(_.getLong(0))
    val evCount = ev.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    byUser.foreach { case (u, rows) =>
      // exactly one open (is_current) interval, and it is the last one
      assert(rows.count(_.getInt(4) === 1) === 1)
      val sorted = rows.sortBy(_.getLong(2))
      assert(sorted.last.getInt(4) === 1 && sorted.last.isNullAt(3))
      // valid_to of each closed row equals the next row's valid_from
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(3) === b.getLong(2))
          assert(a.getString(1) !== b.getString(1)) // runs alternate types
        case _ =>
      }
      assert(rows.map(_.getLong(5)).sum === evCount(u))
    }
  }

  test("q_bloom_semijoin: bloom prunes non-joining fact rows, never true matches") {
    val o = Tables.orders(spark, sfDir).where(col("o_orderpriority") === "1-URGENT")
    val keys = o.select("o_orderkey").collect().map(_.getLong(0)).toSet
    val bf = o.stat.bloomFilter("o_orderkey", math.max(keys.size, 1).toLong, 0.01)
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey").collect().map(_.getLong(0))
    val survivors = li.count(bf.mightContainLong)
    val trueMatches = li.count(keys.contains)
    assert(survivors >= trueMatches) // no false negatives, ever
    assert(survivors < li.length)    // and it actually prunes
    // exact result survives the bloom's false positives
    val direct = Tables.lineitem(spark, sfDir)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("revenue"))
      .orderBy("status")
    assert(rowsOf(operators.Relational.qBloomSemijoin(spark, sfDir)) === rowsOf(direct))
    // the probe is a native codegen expression, not a UDF: it must sit
    // inside a WholeStageCodegen stage ("*(n) Filter ...") with no
    // ScalaUDF codegen break on the fact scan
    val qe = operators.Relational.qBloomSemijoin(spark, sfDir).queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains("graft_might_contain"), plan)
    assert(!plan.contains("UDF"), plan)
    // the generated code of the scan stage contains the probe call —
    // i.e. it compiled INTO WholeStageCodegen rather than breaking it
    // (AQE wraps the plan pre-execution and reports 0 subtrees, so
    // turn it off for this one plan-shape assertion)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val codegen = operators.Relational.qBloomSemijoin(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      assert(codegen.contains("mightContainLong"),
        "bloom probe missing from WholeStageCodegen generated code")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q17_small_qty agrees with a direct recomputation") {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_quantity", "l_extendedprice").collect()
    val parts = Tables.part(spark, sfDir)
      .where(col("p_brand") === "Brand#1" && col("p_type") === "ECONOMY")
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    val byPart = li.groupBy(_.getLong(0))
    val avg = byPart.map { case (k, rs) =>
      k -> rs.map(r => BigDecimal(r.getDouble(1)).setScale(2)).sum.toDouble / rs.size
    }
    val hits = li.filter(r => parts.contains(r.getLong(0)) &&
      r.getDouble(1) < 0.2 * avg(r.getLong(0)))
    val expected = hits.map(r => BigDecimal(r.getDouble(2)).setScale(2)).sum.toDouble / 7.0
    val row = operators.Relational.q17SmallQty(spark, sfDir).head
    assert(row.getLong(1) === hits.length.toLong)
    assert(math.abs(row.getDouble(0) - expected) < 1e-9)
  }

  test("q_cube marginals are consistent with the base aggregation") {
    val cube = operators.Relational.qCube(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    val base = cube.filter { case ((s, p), _) => s != "ALL" && p != "ALL" }
    // grand total row equals the sum of all base cells
    val (gt, gn) = cube(("ALL", "ALL"))
    assert(gn === base.values.map(_._2).sum)
    assert(math.abs(gt - base.values.map(_._1).sum) < 1e-6)
    // each status marginal equals the sum of its base cells
    base.keys.map(_._1).toSet.foreach { st: String =>
      val cells = base.filter(_._1._1 == st).values
      val (mt, mn) = cube((st, "ALL"))
      assert(mn === cells.map(_._2).sum)
      assert(math.abs(mt - cells.map(_._1).sum) < 1e-6)
    }
    assert(gn === Tables.orders(spark, sfDir).count())
  }

  /** Adversarial single-hot-bucket distribution: 10k distinct prices
    * packed into 1/1000th of the value range (every percentile target
    * lands in one top-level bucket whose distinct count exceeds
    * [[graft.operators.Relational.SliceCap]]) plus one far outlier
    * stretching the range. The refinement must (a) keep every driver
    * collect under the cap, (b) actually refine (sub-bucket
    * histogram), (c) still produce the exact quantile_cont answer.
    */
  test("q_percentiles hard-bounds driver collects on an adversarial single-bucket distribution") {
    import spark.implicits._
    val dir = tempDir("pct_adv").toString
    val vals = (0 until 10000).map(i => 1.0 + i * 1e-7) :+ 1000.0
    vals.map(("A", _)).toDF("l_returnflag", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val tapped = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
    operators.Relational.percentileAudit.set(tapped)
    val out =
      try operators.Relational.qPercentiles(spark, dir).collect()
      finally operators.Relational.percentileAudit.remove()
    // every slice-shaped collect (carries a cum column) is cap-bounded
    val sliceTaps = tapped.filter(_.columns.contains("cum"))
    assert(sliceTaps.nonEmpty)
    sliceTaps.foreach(df => assert(df.count() <= operators.Relational.SliceCap))
    // and a refinement level actually ran
    assert(tapped.exists(_.columns.contains("sb")), "hot bucket must re-histogram, not collect")
    // exact quantile_cont reference (the operator's own arithmetic)
    val sorted = vals.sorted
    def q(p: Double): Double = {
      val idx = p * (sorted.length - 1)
      val lo = math.floor(idx).toInt
      val frac = idx - lo
      val v =
        if (lo + 1 < sorted.length) sorted(lo) + frac * (sorted(lo + 1) - sorted(lo))
        else sorted(lo)
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out.length === 1)
    val r = out.head
    assert((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)) ===
      ((q(0.25), q(0.5), q(0.9), q(0.99))))
  }

  test("q_abtest: Welch statistics agree with Spark's built-in moment aggregates") {
    val out = Events.qAbtest(spark, sfDir).collect()
    assert(out.nonEmpty)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), (col("user_id") % 2 === 0).as("a"), col("value"))
    val ref = ev.groupBy("event_type").agg(
      count(when(col("a"), 1)).as("na"), count(when(!col("a"), 1)).as("nb"),
      avg(when(col("a"), col("value"))).as("ma"),
      avg(when(!col("a"), col("value"))).as("mb"),
      var_samp(when(col("a"), col("value"))).as("va"),
      var_samp(when(!col("a"), col("value"))).as("vb"))
      .collect().map(r => r.getString(0) -> r).toMap
    out.foreach { r =>
      val x = ref(r.getString(0))
      val (na, nb) = (x.getLong(1).toDouble, x.getLong(2).toDouble)
      val (ma, mb, va, vb) =
        (x.getDouble(3), x.getDouble(4), x.getDouble(5), x.getDouble(6))
      // cohort sizes partition the type's events
      assert(r.getLong(1) + r.getLong(2) ===
        Tables.events(spark, sfDir).where(col("event_type") === r.getString(0)).count())
      assert(math.abs(r.getDouble(3) - ma) < 1e-3 && math.abs(r.getDouble(4) - mb) < 1e-3)
      val se2 = va / na + vb / nb
      val t = (mb - ma) / math.sqrt(se2)
      val df = se2 * se2 /
        (math.pow(va / na, 2) / (na - 1) + math.pow(vb / nb, 2) / (nb - 1))
      assert(math.abs(r.getDouble(7) - t) < 1e-3, s"t ${r.getDouble(7)} vs $t")
      assert(math.abs(r.getDouble(8) - df) < 1e-2, s"df ${r.getDouble(8)} vs $df")
      // Welch df is bounded by min(na,nb)-1 below and na+nb-2 above
      assert(r.getDouble(8) >= math.min(na, nb) - 1 - 1e-6)
      assert(r.getDouble(8) <= na + nb - 2 + 1e-6)
    }
  }

  test("q_basket: support/confidence/lift agree with locally recomputed basket counts") {
    val out = operators.Relational.qBasket(spark, sfDir).collect()
    assert(out.nonEmpty)
    val baskets = Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir), col("p_partkey") === col("l_partkey"))
      .select("l_orderkey", "p_brand").distinct().collect()
      .groupBy(_.getLong(0)).map { case (o, rs) => o -> rs.map(_.getString(1)).toSet }
    val n = baskets.size.toDouble
    val brandN = baskets.values.flatten.groupBy(identity).map { case (b, xs) => b -> xs.size }
    out.foreach { r =>
      val (b1, b2, both) = (r.getString(0), r.getString(1), r.getLong(2))
      assert(b1 < b2, "canonical pair ordering")
      val expect = baskets.values.count(s => s.contains(b1) && s.contains(b2)).toLong
      assert(both === expect)
      assert(both >= operators.Relational.BasketMinSupport)
      assert(math.abs(r.getDouble(3) - both / n) < 1e-5)
      assert(math.abs(r.getDouble(4) - both.toDouble / brandN(b1)) < 1e-5)
      assert(math.abs(r.getDouble(5) -
        both * n / (brandN(b1).toDouble * brandN(b2))) < 1e-4)
      // lift sanity: confidence / P(b2) identity
      assert(math.abs(r.getDouble(5) - r.getDouble(4) / (brandN(b2) / n)) < 1e-3)
    }
  }

  test("q_basket: multi-word mask path on a planted 150-brand alphabet") {
    val spk = spark
    import spk.implicits._
    // 150 brands spanning three 64-bit words; baskets drawn by a
    // deterministic hash so word-0/word-1/word-2 bits co-occur —
    // pairs crossing word boundaries are exactly what the widened
    // path must count correctly
    val brands = (0 until 150).map(i => f"BR#$i%03d").toArray
    // 30 repeating basket patterns {h, h+1, h+50, h+100}: each pattern
    // recurs ~13 times over 400 orders, so its pairs clear the support
    // floor, and the h/h+100 pairs always span words 0 and 2
    val obPairs = for {
      o <- 0 until 400
      i <- Seq(o % 30, o % 30 + 1, o % 30 + 50, o % 30 + 100)
    } yield (o.toLong, brands(i))
    val ob = obPairs.distinct.toDF("o", "b")
    val out = operators.Relational
      .basketRulesFromPairs(spark, ob, brands.sorted, minSupport = 5L)
      .collect()
    assert(out.nonEmpty)
    val baskets = obPairs.distinct.groupBy(_._1).map { case (_, xs) => xs.map(_._2).toSet }
    val n = baskets.size.toDouble
    val brandN = baskets.flatten.groupBy(identity).map { case (b, xs) => b -> xs.size }
    // exhaustive expected pair counts (150 brands → bounded local work)
    val expectPairs = baskets.toSeq.flatMap(s =>
      s.toSeq.sorted.combinations(2).map { case Seq(a, b) => (a, b) })
      .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
      .filter(_._2 >= 5L)
    assert(out.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      === expectPairs)
    // at least one surviving pair must CROSS a 64-bit word boundary
    val idx = brands.sorted.zipWithIndex.toMap
    assert(out.exists(r => idx(r.getString(0)) / 64 != idx(r.getString(1)) / 64),
      "planted corpus produced no cross-word pair — widen the draw")
    out.foreach { r =>
      val (b1, b2, both) = (r.getString(0), r.getString(1), r.getLong(2))
      assert(math.abs(r.getDouble(3) - both / n) < 1e-5)
      assert(math.abs(r.getDouble(4) - both.toDouble / brandN(b1)) < 1e-5)
      assert(math.abs(r.getDouble(5) -
        both * n / (brandN(b1).toDouble * brandN(b2))) < 1e-4)
    }
  }

  test("q_gini: matches a locally recomputed rank-formula Gini and quintile share") {
    val out = operators.Relational.qGini(spark, sfDir).collect()
    assert(out.nonEmpty)
    val spend = Tables.customer(spark, sfDir)
      .select(col("c_nationkey"), col("c_custkey"))
      .join(Tables.orders(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").cast("long").as("nk"), col("c_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("s")).collect()
      .groupBy(_.getLong(0))
      .map { case (nk, rs) =>
        nk -> rs.map(r => r.getLong(1) -> r.getDecimal(2).doubleValue).toSeq
      }
    out.foreach { row =>
      val xs = spend(row.getLong(0)).sortBy(p => (p._2, p._1)).map(_._2)
      val n = xs.length
      assert(row.getLong(1) === n.toLong)
      val total = xs.sum
      val rsum = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      val gini = 2 * rsum / (n * total) - (n + 1.0) / n
      assert(math.abs(row.getDouble(3) - gini) < 1e-4, s"gini ${row.getDouble(3)} vs $gini")
      // gini in [0, 1); top-20% share ≥ exact quintile population share
      assert(row.getDouble(3) >= 0.0 && row.getDouble(3) < 1.0)
      val topK = n / 5
      assert(row.getLong(4) === topK.toLong)
      val share = xs.takeRight(topK).sum / total
      assert(math.abs(row.getDouble(5) - share) < 1e-4)
      assert(share >= topK.toDouble / n - 1e-9, "top quintile holds at least its population share")
    }
  }

  test("q_entropy: matches a locally recomputed Shannon entropy, bounded by ln(n_types)") {
    val out = Events.qEntropy(spark, sfDir).collect()
    assert(out.nonEmpty)
    val counts = Tables.events(spark, sfDir)
      .groupBy("user_id", "event_type").count().collect()
      .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.map(_.getLong(2)) }
    out.foreach { r =>
      val cs = counts(r.getLong(0))
      val n = cs.sum.toDouble
      assert(r.getLong(1) === cs.sum)
      assert(r.getLong(2) === cs.length.toLong)
      val h = -cs.map { c => val p = c / n; p * math.log(p) }.sum
      assert(math.abs(r.getDouble(3) - h) < 1e-5, s"H ${r.getDouble(3)} vs $h")
      // 0 ≤ H ≤ ln(n_types), with equality iff degenerate/uniform
      assert(r.getDouble(3) >= -1e-9 && r.getDouble(3) <= math.log(cs.length) + 1e-9)
    }
  }

  test("q_markov: transitions match a local successor walk; rows normalize to 1") {
    val out = Events.qMarkov(spark, sfDir).collect()
    assert(out.nonEmpty)
    val ev = Events.eventsSec(spark, sfDir)
      .select("user_id", "ts_sec", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val local = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val seq = rows.sortBy(r => (r._2, r._3)).map(_._4).toSeq
      seq.zip(seq.tail)
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(out.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap === local)
    out.groupBy(_.getString(0)).foreach { case (s, rows) =>
      val p = rows.map(_.getDouble(3)).sum
      assert(math.abs(p - 1.0) < 1e-3, s"src $s probabilities sum to $p")
    }
  }

  test("q_seasonality: indexes match a local recompute and average to 1 day-weighted") {
    val out = Events.qSeasonality(spark, sfDir).collect()
    assert(out.nonEmpty)
    val daily = Events.eventsSec(spark, sfDir)
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val byType = daily.groupBy(_._1)
    out.groupBy(_.getString(0)).foreach { case (t, rows) =>
      val ds = byType(t)
      val overall = ds.map(_._3).sum / ds.length
      rows.foreach { r =>
        val dow = r.getLong(1)
        val mine = ds.filter(d => (d._2 + 4) % 7 == dow)
        assert(r.getLong(2) === mine.length.toLong)
        val avg = mine.map(_._3).sum / mine.length
        assert(math.abs(r.getDouble(3) - avg) < 5e-3)
        assert(math.abs(r.getDouble(4) - avg / overall) < 1e-4)
      }
      // day-weighted mean index is exactly 1 (the index is a decomposition)
      val wmean = rows.map(r => r.getDouble(4) * r.getLong(2)).sum /
        rows.map(_.getLong(2)).sum
      assert(math.abs(wmean - 1.0) < 1e-4, s"$t weighted mean $wmean")
    }
  }

  test("q_ewma: matches a local fold over the daily series; day one is its own baseline") {
    val out = Events.qEwma(spark, sfDir).collect()
    assert(out.nonEmpty)
    val daily = Events.eventsSec(spark, sfDir)
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    out.groupBy(_.getString(0)).foreach { case (t, rows) =>
      val got = rows.sortBy(_.getLong(1))
      val xs = daily(t).sortBy(_._2)
      assert(got.length === xs.length)
      var ew = xs.head._3
      got.zip(xs).zipWithIndex.foreach { case ((r, (_, day, x)), i) =>
        if (i > 0) ew = Events.EwmaAlpha * x + Events.EwmaBeta * ew
        assert(r.getLong(1) === day)
        assert(math.abs(r.getDouble(2) - x) < 5e-3)
        assert(math.abs(r.getDouble(3) - ew) < 1e-5,
          s"$t day $day: ewma ${r.getDouble(3)} vs $ew")
      }
    }
  }

  test("q_gini: bucketed-rank path is bit-identical to the exact window path") {
    val a = operators.Relational.qGiniImpl(spark, sfDir, forceBucketed = false).collect()
    val b = operators.Relational.qGiniImpl(spark, sfDir, forceBucketed = true).collect()
    assert(a.nonEmpty)
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    // high-group-count bucket shape (broadcast-joined (lo, width)
    // params instead of the nested CASE): identical doubles →
    // identical buckets → identical output
    val p = operators.Relational.qGiniImpl(spark, sfDir,
      forceBucketed = true, forceParamJoin = true).collect()
    assert(a.map(_.toSeq).toSeq === p.map(_.toSeq).toSeq)

    // planted heavy-nation skew corpus: one 500-customer nation dense
    // with exact spend ties (tie runs must rank consistently inside
    // their shared bucket) next to a 3-customer nation, so the
    // bucketed path sees both a populated histogram and a degenerate
    // one in the same run
    val dir = tempDir("gini_skew").toString
    import spark.implicits._
    ((1 to 500).map(i => (i.toLong, 0L)) ++ Seq((501L, 1L), (502L, 1L), (503L, 1L)))
      .toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    (1 to 503).flatMap { i =>
      val m = 1 + i % 3
      (0 until m).map(j => (i.toLong, BigDecimal((i % 7) * 100 + j * 10 + 5).setScale(2)))
    }.toDF("o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val ea = operators.Relational.qGiniImpl(spark, dir, forceBucketed = false).collect()
    val eb = operators.Relational.qGiniImpl(spark, dir, forceBucketed = true).collect()
    assert(ea.length === 2)
    assert(ea.map(_.toSeq).toSeq === eb.map(_.toSeq).toSeq)
    val ep = operators.Relational.qGiniImpl(spark, dir,
      forceBucketed = true, forceParamJoin = true).collect()
    assert(ea.map(_.toSeq).toSeq === ep.map(_.toSeq).toSeq)
  }
}
