package graft.similarity

import java.math.RoundingMode

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, BinaryType}

/** OPQ training, r19 shape: FAISS's production geometry — train on a
  * deterministic BOUNDED SAMPLE, serve the full corpus.
  *
  * r18 trained the transform with ~25 full-corpus Spark passes
  * (96.5 s of the 197.9 s cold-derive total at sf0.1, and linear in
  * corpus size — the wrong plan at 100 TB, where production OPQ/PQ
  * trains on 10⁵-10⁶ sampled vectors and serves everything else).
  * r19 splits the phases the way FAISS does:
  *
  *  1. SAMPLE (distributed, one pass): the [[Ann.NumQueries]]
  *     query/seed rows plus the [[TrainSample]] lowest rows of the
  *     rest in `(md5('opq:' || vec_id), vec_id)` order — the
  *     q_train_split salted-hash draw, a deterministic uniform sample
  *     both engines compute identically. On a cluster this is one
  *     TakeOrdered over the corpus; nothing else in training touches
  *     the full data.
  *  2. TRAIN (driver, exact decimal arithmetic): variance ranks,
  *     butterfly Schur angles, per-subspace Lloyd codebooks, Ge
  *     alternation sweeps, and the recall tournament all run over the
  *     collected ≤(16+N)-row sample matrix. Every sum is a BigDecimal
  *     at the same scale the oracle's DECIMAL CTEs use (order-free,
  *     engine-exact); every double crossing mirrors the verified
  *     DuckDB decimal→double bridge; every rotated value takes the
  *     same round9→FLOAT snap as the SQL replay. The sample matrix is
  *     model-sized BY CONSTRUCTION (≤1040 × dim), so this is the
  *     centroid-collect pattern of [[Cluster]], not a corpus collect.
  *  3. SERVE (distributed): the winning transform + codebook apply to
  *     the full corpus through [[Ann.applyOpq]] / [[Ann.pqTopK]] —
  *     codegen'd array rebuilds and the bounded-heap ADC scan.
  *
  * r19 also replaces the r18 seed-16 codebooks with per-subspace
  * LLOYD codebooks ([[LloydIters]] exact-decimal iterations seeded
  * from the vec_id<16 subvectors — [[Cluster.lloydCentroids]]'s
  * recipe restricted to a subspace), for the alternation's decode
  * step, the tournament chains, and the served encode. This is what
  * Ge et al. 2013's alternation actually alternates against; with 16
  * seed ROWS as the codebook (r18) distortion and recall measurably
  * decoupled (PROBES_r18.json: altA 127 < conc 130 hits).
  *
  * The tournament keeps plain seed-codebook PQ as candidate 0, so at
  * gate scale (sample ⊇ corpus) OPQ still can never lose to
  * [[Ann.pqTopK]] on its own training metric.
  *
  * Candidate order (tie → lower index):
  *   0 identity + seed codebook (≡ plain PQ)
  *   1 identity + Lloyd codebook
  *   2 round-robin variance layout + Lloyd
  *   3 contiguous variance layout + Lloyd
  *   4 concentrate butterfly + rr perm + Lloyd
  *   5 balance butterfly + Lloyd
  *   6 Ge alternation on 4 + Lloyd
  *   7 Ge alternation on 5 + Lloyd
  */
object OpqTrain {
  import Ann.{OpqTransform, PqSubspaces, PqCentroids, PqRerank, NumQueries, K}

  /** Training-sample bound beyond the 16 query/seed rows: ≥64 vectors
    * per centroid per subspace — far above k-means statistical need at
    * C=16, and small enough that the whole matrix is driver state.
    */
  val TrainSample = 1024

  /** Lloyd iterations per subspace codebook (matches [[Cluster.Iters]]). */
  val LloydIters = 2

  /** Ge alternation sweeps per branch. */
  val AltIters = 2

  /** codebook(m) = (clusterId, centroid) pairs in ascending-id order;
    * ids ⊆ 0..C−1 (Lloyd init = the vec_id<C rows; empty clusters
    * vanish, matching the SQL GROUP BY).
    */
  type Codebook = Array[Array[(Int, Array[Double])]]

  /** A trained OPQ model: the orthogonal transform and, for Lloyd
    * candidates, the subspace codebook trained on the sample's
    * transformed rep (None ⇒ candidate 0's seed-derived codebook,
    * which [[Ann.pqTopK]] re-derives from the corpus itself).
    */
  final case class OpqModel(transform: OpqTransform, codebook: Option[Codebook])

  // ---- exact-decimal helpers (the oracle's arithmetic, verbatim) ----

  /** `CAST(ROUND(x, s) AS DECIMAL(·, s))`: both engines recover the
    * s-dp decimal exactly at these magnitudes (the round→cast
    * composition collapses to one string-based half-up snap — the
    * semantics of Spark's `round` and decimal cast, green against
    * DuckDB since the r16 butterfly landed).
    */
  private def dec(x: Double, s: Int): BigDecimal =
    BigDecimal(java.math.BigDecimal.valueOf(x).setScale(s, RoundingMode.HALF_UP))
  private def dec9(x: Double): BigDecimal = dec(x, 9)
  private def dec10(x: Double): BigDecimal = dec(x, 10)

  private[similarity] def round9d(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(9, RoundingMode.HALF_UP).doubleValue()
  private def round6d(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue()

  /** DuckDB-exact decimal→double: `CAST(DECIMAL(·,s) AS DOUBLE)`
    * evaluates as double(unscaled) / 10^s (verified bit-exact at
    * s=18 on 20k samples; 1 ULP off BigDecimal.toDouble on ~25%).
    */
  private def duckToDouble(x: BigDecimal, s: Int): Double =
    x.underlying.setScale(s).unscaledValue.doubleValue / math.pow(10.0, s)

  /** `CAST(ROUND(e, 9) AS FLOAT)` read back as DOUBLE — the per-layer
    * snap both engines apply to every rotated value.
    */
  private def snapF(x: Double): Double = round9d(x).toFloat.toDouble

  // ---- the deterministic bounded sample ----

  /** The training sample as a DataFrame: the vec_id<[[NumQueries]]
    * query/seed rows plus the [[TrainSample]]-lowest of the rest in
    * `(md5('opq:' || vec_id), vec_id)` order. One TakeOrdered pass at
    * any corpus size; the result is ≤(16+n) rows.
    */
  private[graft] def sampleFrame(emb: DataFrame, n: Int): DataFrame = {
    val base = emb.select(col("vec_id").cast(LongType).as("vec_id"), col("embedding"))
    val rest = base.where(col("vec_id") >= NumQueries)
      .withColumn("h",
        md5(concat(lit("opq:"), col("vec_id").cast(StringType)).cast(BinaryType)))
      .orderBy(col("h"), col("vec_id"))
      .limit(n)
      .drop("h")
    base.where(col("vec_id") < NumQueries).unionByName(rest)
  }

  /** Collected sample matrix, ascending vec_id. */
  private[graft] def collectSample(emb: DataFrame, n: Int): (Array[Long], Array[Array[Double]]) = {
    val rows = sampleFrame(emb, n).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
      .sortBy(_._1)
    val ids = rows.map(_._1)
    require(ids.take(PqCentroids.toInt).toSeq == (0L until PqCentroids.toLong),
      s"OPQ training needs vec_ids 0..${PqCentroids - 1} present")
    (ids, rows.map(_._2))
  }

  // ---- linear algebra over the sample matrix (snap-exact) ----

  /** Exact per-dim variance key n·Σdec9(x²) − (Σdec9(x))². */
  private[graft] def varianceKey(rep: Array[Array[Double]]): Array[BigDecimal] = {
    val dim = rep(0).length
    val n = BigDecimal(rep.length)
    Array.tabulate(dim) { d =>
      var s1 = BigDecimal(0); var s2 = BigDecimal(0)
      var r = 0
      while (r < rep.length) {
        val x = rep(r)(d)
        s1 += dec9(x); s2 += dec9(x * x); r += 1
      }
      s2 * n - s1 * s1
    }
  }

  private def butterflyPairs(dim: Int, stride: Int): IndexedSeq[Int] = {
    require(stride >= 1 && dim % (2 * stride) == 0,
      s"butterfly stride $stride incompatible with dim $dim")
    (0 until dim).filter(lo => (lo / stride) % 2 == 0)
  }

  /** One butterfly layer's Schur angles from the pair's exact-decimal
    * covariance ([[Ann.opqLayerAngles]]'s closed form over the sample
    * matrix; balance mode advances 45°).
    */
  private[graft] def layerAngles(rep: Array[Array[Double]], stride: Int,
      balance: Boolean): Array[Double] = {
    val dim = rep(0).length
    val pairs = butterflyPairs(dim, stride)
    val n = BigDecimal(rep.length)
    val cs = new Array[Double](pairs.length * 2)
    pairs.zipWithIndex.foreach { case (lo, p) =>
      val hi = lo + stride
      var s1l = BigDecimal(0); var s2l = BigDecimal(0)
      var s1h = BigDecimal(0); var s2h = BigDecimal(0)
      var s11 = BigDecimal(0)
      var r = 0
      while (r < rep.length) {
        val a0 = rep(r)(lo); val b0 = rep(r)(hi)
        s1l += dec9(a0); s2l += dec9(a0 * a0)
        s1h += dec9(b0); s2h += dec9(b0 * b0)
        s11 += dec9(a0 * b0)
        r += 1
      }
      val a = duckToDouble(n * s2l - s1l * s1l, 18)
      val b = duckToDouble(n * s11 - s1l * s1h, 18)
      val cc = duckToDouble(n * s2h - s1h * s1h, 18)
      val (c0, s0) =
        if (b == 0.0) (1.0, 0.0)
        else {
          val tau = (cc - a) / (2.0 * b)
          val t =
            if (tau == 0.0) 1.0
            else (if (tau > 0.0) 1.0 else -1.0) /
              (math.abs(tau) + math.sqrt(1.0 + tau * tau))
          (1.0 / math.sqrt(1.0 + t * t), t / math.sqrt(1.0 + t * t))
        }
      val (c1, s1) =
        if (balance) ((c0 - s0) / math.sqrt(2.0), (c0 + s0) / math.sqrt(2.0))
        else (c0, s0)
      cs(2 * p) = round9d(c1); cs(2 * p + 1) = round9d(s1)
    }
    cs
  }

  /** Forward butterfly layer with the per-value float snap:
    * lo' = snap(c·lo + s·hi), hi' = snap(c·hi − s·lo).
    */
  private[graft] def rotateLayer(rep: Array[Array[Double]], stride: Int,
      cs: Array[Double]): Array[Array[Double]] = {
    val dim = rep(0).length
    val pairs = butterflyPairs(dim, stride)
    rep.map { v =>
      val out = v.clone()
      pairs.zipWithIndex.foreach { case (lo, p) =>
        val hi = lo + stride
        val c = cs(2 * p); val s = cs(2 * p + 1)
        out(lo) = snapF(c * v(lo) + s * v(hi))
        out(hi) = snapF(c * v(hi) - s * v(lo))
      }
      out
    }
  }

  /** Inverse (transpose) butterfly layer with the same snap:
    * lo' = snap(c·lo − s·hi), hi' = snap(s·lo + c·hi).
    */
  private def inverseLayer(rep: Array[Array[Double]], stride: Int,
      cs: Array[Double]): Array[Array[Double]] = {
    val dim = rep(0).length
    val pairs = butterflyPairs(dim, stride)
    rep.map { v =>
      val out = v.clone()
      pairs.zipWithIndex.foreach { case (lo, p) =>
        val hi = lo + stride
        val c = cs(2 * p); val s = cs(2 * p + 1)
        out(lo) = snapF(c * v(lo) - s * v(hi))
        out(hi) = snapF(s * v(lo) + c * v(hi))
      }
      out
    }
  }

  /** Apply a whole transform: layers in order, then the permutation
    * projection rep(j) = rot(perm(j)) — [[Ann.applyOpq]] over the
    * sample matrix.
    */
  private[graft] def applyTransform(vecs: Array[Array[Double]],
      t: OpqTransform): Array[Array[Double]] = {
    var cur = vecs
    t.layers.foreach { case (stride, cs) => cur = rotateLayer(cur, stride, cs) }
    if (t.perm.indices.forall(i => t.perm(i) == i)) cur
    else cur.map(v => Array.tabulate(v.length)(j => v(t.perm(j))))
  }

  // ---- per-subspace Lloyd codebooks ----

  /** Seed codebook: subvectors of the vec_id<C rows (cluster id =
    * vec_id) — both the Lloyd init and candidate 0's served codebook.
    */
  private def seedCodebook(ids: Array[Long], rep: Array[Array[Double]]): Codebook = {
    val dim = rep(0).length
    val sub = dim / PqSubspaces
    Array.tabulate(PqSubspaces) { m =>
      ids.indices.filter(i => ids(i) < PqCentroids).map { i =>
        (ids(i).toInt, Array.tabulate(sub)(j => rep(i)(m * sub + j)))
      }.toArray
    }
  }

  /** Nearest centroid of subvector m (sequential-index d², tie →
    * lower cluster id): returns the POSITION in the ascending-id
    * centroid list.
    */
  private def nearest(cents: Array[(Int, Array[Double])], v: Array[Double],
      off: Int): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)._2
      var d2 = 0.0; var j = 0
      while (j < cv.length) {
        val diff = v(off + j) - cv(j); d2 += diff * diff; j += 1
      }
      if (d2 < bestD) { bestD = d2; best = c }
      c += 1
    }
    best
  }

  /** Per-subspace Lloyd: init = seed codebook, then `iters` rounds of
    * assignment (d², tie → lower id) + exact-decimal mean update
    * (DECIMAL(27,10) sums → DuckDB double bridge → /count → round 6,
    * [[Cluster]]'s recipe); clusters that lose every member vanish.
    * iters = 0 returns the seed codebook (candidate 0's chain).
    */
  private[graft] def subspaceLloyd(ids: Array[Long], rep: Array[Array[Double]],
      iters: Int): Codebook = {
    val dim = rep(0).length
    val sub = dim / PqSubspaces
    var cb = seedCodebook(ids, rep)
    var it = 0
    while (it < iters) {
      cb = Array.tabulate(PqSubspaces) { m =>
        val cents = cb(m)
        val sums = Array.fill(cents.length, sub)(BigDecimal(0))
        val counts = new Array[Long](cents.length)
        var r = 0
        while (r < rep.length) {
          val p = nearest(cents, rep(r), m * sub)
          counts(p) += 1
          var j = 0
          while (j < sub) { sums(p)(j) += dec10(rep(r)(m * sub + j)); j += 1 }
          r += 1
        }
        cents.indices.filter(counts(_) > 0).map { p =>
          (cents(p)._1, Array.tabulate(sub) { j =>
            round6d(duckToDouble(sums(p)(j), 10) / counts(p).toDouble)
          })
        }.toArray
      }
      it += 1
    }
    cb
  }

  /** PQ reconstruction of every row against `cb` (the decode half of
    * the alternation): nearest centroid per subspace, re-concatenated.
    */
  private def decode(rep: Array[Array[Double]], cb: Codebook): Array[Array[Double]] = {
    val dim = rep(0).length
    val sub = dim / PqSubspaces
    rep.map { v =>
      val y = new Array[Double](dim)
      var m = 0
      while (m < PqSubspaces) {
        val cv = cb(m)(nearest(cb(m), v, m * sub))._2
        var j = 0
        while (j < sub) { y(m * sub + j) = cv(j); j += 1 }
        m += 1
      }
      y
    }
  }

  /** Joint PQ distortion Σ‖rep − decode(rep)‖² under the rep's OWN
    * trained codebook (`iters` Lloyd rounds; 0 = seed) — the objective
    * Ge's alternation minimizes jointly over rotation and codebook
    * (spec surface).
    */
  private[graft] def jointDistortion(ids: Array[Long], rep: Array[Array[Double]],
      iters: Int): Double = {
    val cb = subspaceLloyd(ids, rep, iters)
    val dec = decode(rep, cb)
    rep.indices.map { i =>
      var s = 0.0; var j = 0
      while (j < rep(i).length) {
        val d = rep(i)(j) - dec(i)(j); s += d * d; j += 1
      }
      s
    }.sum
  }

  // ---- Ge alternation (2 sweeps, Lloyd codebooks) ----

  /** Fixed-target Givens relearn of one layer: (c, s) ∝ (α, β) with
    * α = Σdec9(t_lo·x_lo + t_hi·x_hi), β = Σdec9(t_lo·x_hi − t_hi·x_lo)
    * crossing the decimal→double bridge ([[Ann]] r18's closed form,
    * now over the sample matrix).
    */
  private[graft] def altAngles(x: Array[Array[Double]], t: Array[Array[Double]],
      stride: Int): Array[Double] = {
    val dim = x(0).length
    val pairs = butterflyPairs(dim, stride)
    val cs = new Array[Double](pairs.length * 2)
    pairs.zipWithIndex.foreach { case (lo, p) =>
      val hi = lo + stride
      var al = BigDecimal(0); var be = BigDecimal(0)
      var r = 0
      while (r < x.length) {
        val xv = x(r); val tv = t(r)
        al += dec9(tv(lo) * xv(lo) + tv(hi) * xv(hi))
        be += dec9(tv(lo) * xv(hi) - tv(hi) * xv(lo))
        r += 1
      }
      val a = duckToDouble(al, 18)
      val b = duckToDouble(be, 18)
      val h = math.sqrt(a * a + b * b)
      val (c0, s0) = if (h == 0.0) (1.0, 0.0) else (a / h, b / h)
      cs(2 * p) = round9d(c0); cs(2 * p + 1) = round9d(s0)
    }
    cs
  }

  /** Ge et al. 2013 alternation on a butterfly init: each sweep
    * re-derives the LLOYD codebook from the current rep, decodes the
    * fixed-codebook reconstruction, pulls it back through the
    * inverse permutation and the LATER layers' inverses (old angles),
    * and relearns every layer forward (new angles) against the fixed
    * targets. Strides and the rep-space permutation stay the init's.
    */
  private[graft] def trainAlternating(ids: Array[Long], vecs: Array[Array[Double]],
      layers0: Seq[(Int, Array[Double])], perm: Array[Int]): Seq[(Int, Array[Double])] = {
    val dim = perm.length
    var layers = layers0
    for (_ <- 1 to AltIters) {
      val rep = applyTransform(vecs, OpqTransform(layers, perm))
      val cb = subspaceLloyd(ids, rep, LloydIters)
      val yRep = decode(rep, cb)
      // rep(j) = rot(perm(j)) ⇒ rotated-space target at dim perm(j)
      // is the decoded rep value at position j
      val yRot = yRep.map { y =>
        val out = new Array[Double](dim)
        var j = 0
        while (j < dim) { out(perm(j)) = y(j); j += 1 }
        out
      }
      val newLayers = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Double])]
      var x = vecs
      for (k <- layers.indices) {
        var t = yRot
        for (j <- (layers.length - 1) to (k + 1) by -1)
          t = inverseLayer(t, layers(j)._1, layers(j)._2)
        val cs = altAngles(x, t, layers(k)._1)
        newLayers += ((layers(k)._1, cs))
        x = rotateLayer(x, layers(k)._1, cs)
      }
      layers = newLayers.toSeq
    }
    layers
  }

  // ---- the PQ chain + tournament over the sample ----

  private def norms(rep: Array[Array[Double]]): Array[Double] =
    rep.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }

  /** Exact brute-force truth over the sample: per query (vec_id<16),
    * the top-K of round6(dot/(qn·nrm)) by (score DESC, vec_id).
    */
  private[graft] def bruteTruth(ids: Array[Long], vecs: Array[Array[Double]]): Map[Long, Set[Long]] = {
    val nrm = norms(vecs)
    val qIdx = ids.indices.filter(i => ids(i) < NumQueries)
    qIdx.map { qi =>
      val qv = vecs(qi); val qn = nrm(qi)
      val scored = ids.indices.iterator.filter(_ != qi).map { i =>
        var d = 0.0; var j = 0
        while (j < qv.length) { d += qv(j) * vecs(i)(j); j += 1 }
        (round6d(d / (qn * nrm(i))) + 0.0, ids(i))
      }.toArray
      ids(qi) -> scored.sortBy { case (s, id) => (-s, id) }.take(K).map(_._2).toSet
    }.toMap
  }

  /** Recall hits of the end-to-end PQ chain for one candidate:
    * encode the candidate's rep against its codebook, ADC-score the
    * 16 queries, keep [[PqRerank]] by (approx DESC, vec_id), rerank
    * exactly against the ORIGINAL sample vectors, count top-K ∩
    * truth — the integer tournament metric, replayed row-for-row by
    * the oracle's sample-side chain.
    */
  private[graft] def recallHits(ids: Array[Long], vecs: Array[Array[Double]],
      rep: Array[Array[Double]], cb: Codebook, truth: Map[Long, Set[Long]]): Long = {
    val dim = rep(0).length
    val sub = dim / PqSubspaces
    val repN = norms(rep)
    val origN = norms(vecs)
    val codes = rep.map { v =>
      Array.tabulate(PqSubspaces)(m => nearest(cb(m), v, m * sub))
    }
    val qIdx = ids.indices.filter(i => ids(i) < NumQueries)
    var hits = 0L
    qIdx.foreach { qi =>
      val qv = rep(qi); val qn = repN(qi)
      // ADC table: adc(m)(position) = dot(q_m, centroid)
      val adc = Array.tabulate(PqSubspaces) { m =>
        cb(m).map { case (_, cv) =>
          var s = 0.0; var j = 0
          while (j < sub) { s += qv(m * sub + j) * cv(j); j += 1 }
          s
        }
      }
      val approx = ids.indices.filter(_ != qi).map { i =>
        var s = 0.0; var m = 0
        while (m < PqSubspaces) { s += adc(m)(codes(i)(m)); m += 1 }
        (round6d(s / (qn * repN(i))) + 0.0, ids(i), i)
      }
      val cand = approx.sortBy { case (s, id, _) => (-s, id) }.take(PqRerank)
      val qo = vecs(qi); val qon = origN(qi)
      val reranked = cand.map { case (_, id, i) =>
        var d = 0.0; var j = 0
        while (j < dim) { d += qo(j) * vecs(i)(j); j += 1 }
        (round6d(d / (qon * origN(i))) + 0.0, id)
      }
      val top = reranked.sortBy { case (s, id) => (-s, id) }.take(K).map(_._2).toSet
      hits += top.intersect(truth(ids(qi))).size
    }
    hits
  }

  // ---- the full trainer ----

  private def rrPerm(ranked: Seq[Int], dim: Int): Array[Int] = {
    val sub = dim / PqSubspaces
    val p = new Array[Int](dim)
    ranked.zipWithIndex.foreach { case (d, r) =>
      p((r % PqSubspaces) * sub + r / PqSubspaces) = d
    }
    p
  }

  private def rankedDims(key: Array[BigDecimal]): Seq[Int] =
    (0 until key.length).sortBy(d => (key(d).unary_-, d))

  /** Train a butterfly branch: layers learned sequentially, each
    * stride's angles from the previous layers' rotated sample.
    */
  private def trainButterfly(vecs: Array[Array[Double]], strides: Seq[Int],
      balance: Boolean): (Seq[(Int, Array[Double])], Array[Array[Double]]) = {
    var cur = vecs
    val layers = strides.map { s =>
      val cs = layerAngles(cur, s, balance)
      cur = rotateLayer(cur, s, cs)
      (s, cs)
    }
    (layers, cur)
  }

  /** The 8 tournament candidates: (transform, lloyd-codebook?). */
  private[graft] def candidates(ids: Array[Long], vecs: Array[Array[Double]])
      : Seq[(OpqTransform, Boolean)] = {
    val dim = vecs(0).length
    require(dim % PqSubspaces == 0, s"dim $dim not divisible by $PqSubspaces")
    val idPerm = (0 until dim).toArray
    val ranked = rankedDims(varianceKey(vecs))
    val (layersA, rotA) =
      trainButterfly(vecs, Ann.opqStridesConc(dim), balance = false)
    val permA = rrPerm(rankedDims(varianceKey(rotA)), dim)
    val (layersB, _) =
      trainButterfly(vecs, Ann.opqStridesBal(dim), balance = true)
    val layersAltA = trainAlternating(ids, vecs, layersA, permA)
    val layersAltB = trainAlternating(ids, vecs, layersB, idPerm)
    Seq(
      (OpqTransform(Nil, idPerm), false),            // 0: plain PQ floor
      (OpqTransform(Nil, idPerm), true),             // 1: trained codebook
      (OpqTransform(Nil, rrPerm(ranked, dim)), true),// 2: balanced layout
      (OpqTransform(Nil, ranked.toArray), true),     // 3: contiguous by rank
      (OpqTransform(layersA, permA), true),          // 4: concentrate + rr
      (OpqTransform(layersB, idPerm), true),         // 5: balance
      (OpqTransform(layersAltA, permA), true),       // 6: alternation on 4
      (OpqTransform(layersAltB, idPerm), true))      // 7: alternation on 5
  }

  /** Per-candidate tournament hit counts. */
  private[graft] def tournamentHits(ids: Array[Long], vecs: Array[Array[Double]],
      cs: Seq[(OpqTransform, Boolean)]): Seq[Long] = {
    val truth = bruteTruth(ids, vecs)
    cs.map { case (t, lloyd) =>
      val rep = applyTransform(vecs, t)
      val cb = subspaceLloyd(ids, rep, if (lloyd) LloydIters else 0)
      recallHits(ids, vecs, rep, cb, truth)
    }
  }

  /** Full training: sample → candidates → tournament → the winning
    * model (argmax hits, tie → lower index) with its served codebook.
    */
  def train(emb: DataFrame, sampleN: Int = TrainSample): OpqModel = {
    val (ids, vecs) = collectSample(emb, sampleN)
    val cs = candidates(ids, vecs)
    val hits = tournamentHits(ids, vecs, cs)
    val (t, lloyd) = cs(hits.zipWithIndex.maxBy { case (h, i) => (h, -i) }._2)
    val cb =
      if (lloyd) Some(subspaceLloyd(ids, applyTransform(vecs, t), LloydIters))
      else None
    OpqModel(t, cb)
  }
}
