package graft.dedup

import graft.{Op, Tables}
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication suite over the `documents` / `embeddings` tables:
  * exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * Every candidate-generation path is blocked/bucketed — inverted-index
  * joins, banded MinHash buckets, SimHash pigeonhole blocks, hyperplane
  * LSH buckets — never an O(n²) crossJoin, so the same plans survive a
  * 1000-executor 100 TB run (candidate count scales with true-duplicate
  * density, not n²; AQE's skew-join handles hot buckets).
  *
  * Core functions take DataFrames so specs can plant synthetic
  * duplicates; the `ops` wrappers bind the warehouse tables.
  */
object Dedup {

  /** Shingle width for textual near-dup detection. */
  val NgramN = 3

  /** Jaccard threshold for near-duplicate pairs. */
  val JaccardTau = 0.5

  /** Cosine threshold for embedding near-duplicates. */
  val CosTau = 0.95

  /** MinHash configuration: 128 permutations = 32 bands × 4 rows.
    * P(pair lands in ≥1 band) = 1-(1-s⁴)³² — ≈1 above s≈0.8, ≈0 below
    * s≈0.2; exact-Jaccard verification then removes false positives,
    * so only false *negatives* (vanishingly rare at duplicate-level
    * similarity) distinguish this from dedup_ngram_jaccard.
    */
  val Perms = 128
  val Bands = 32
  val RowsPerBand = 4
  private val MersenneP = 2147483647L // 2^31-1, prime; products stay < 2^63

  /** Distinct-shingle count under which the document-frequency map is
    * broadcast and the prefix filter computed scan-side (≈16 MB of
    * (hash, df) pairs at the limit); larger vocabularies use the
    * window formulation.
    */
  val PrefixBroadcastVocab = 1000000L

  /** FNV-1a 64-bit over a shingle's UTF-8 bytes: the engine-internal
    * shingle identity. Only hash EQUALITY matters (set overlap counts
    * are hash-invariant; collisions ~|V|²/2⁶⁴), so any well-mixed
    * 64-bit hash computable inside the shingling flatMap works.
    */
  private[graft] def fnv64(s: String): Long = {
    val bytes = s.getBytes("UTF-8")
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** All word n-gram hashes of `text`, in document order (empty for
    * docs shorter than n words): each word hashed once, grams combined
    * with a positional 64-bit polynomial — gram equality ⇔ word-tuple
    * equality, ~10× less byte work than re-encoding each gram string.
    * The single source of gram identity for the whole dedup suite.
    */
  private[graft] def gramHashes(text: String, n: Int): Array[Long] = {
    val w = text.split(" ", -1)
    if (w.length < n) Array.empty[Long]
    else {
      val wh = new Array[Long](w.length)
      var i = 0
      while (i < w.length) { wh(i) = fnv64(w(i)); i += 1 }
      val hs = new Array[Long](w.length - n + 1)
      i = 0
      while (i <= w.length - n) {
        var h = 0xcbf29ce484222325L
        var j = 0
        while (j < n) { h = h * 0x100000001b3L + wh(i + j); j += 1 }
        hs(i) = h
        i += 1
      }
      hs
    }
  }

  /** (doc_id, sh): each document's distinct shingle set as ONE row — a
    * sorted array of 64-bit shingle hashes. The whole dedup suite
    * derives from this frame: the inverted index explodes it, and
    * pair verification intersects two arrays (compact rows)
    * instead of re-joining the full shingle table. One shingling pass
    * total, ~n_docs rows instead of n_docs × n_shingles.
    */
  def docShingleArrays(docs: DataFrame, n: Int = NgramN): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // spread a one-split scan before the shuffle-free shingling pass
    // (and everything scan-side downstream of it — prefix selection,
    // signature folds); a no-op at scale
    val src = docs.select(col("doc_id").cast(LongType), col("text"))
    val parts = spark.sessionState.conf.numShufflePartitions
    val spread = if (src.rdd.getNumPartitions < parts) src.repartition(parts) else src
    spread
      .as[(Long, String)]
      .map { case (id, text) =>
        val hs = gramHashes(text, n)
        java.util.Arrays.sort(hs)
        // in-place dedup of the sorted array
        var out = 0
        var i = 0
        while (i < hs.length) {
          if (out == 0 || hs(i) != hs(out - 1)) { hs(out) = hs(i); out += 1 }
          i += 1
        }
        (id, java.util.Arrays.copyOf(hs, out))
      }.toDF("doc_id", "sh")
  }

  /** Exact dedup: group by content hash, keep the lowest doc_id.
    * Output: one row per distinct content, (kept doc_id, group_size).
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast(BinaryType)).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("group_size"))
      .select("doc_id", "group_size")
      .orderBy("doc_id")

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    exactGroups(Tables.documents(spark, dir))

  val dedupExactSql: String = """
    SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS group_size
    FROM documents GROUP BY md5(text)
    ORDER BY doc_id"""

  /** Exact-Jaccard verification of (doc_a, doc_b) candidate pairs over
    * the per-doc shingle-hash arrays: |A∩B| by `graft_isect` (a
    * codegen'd merge count over the sorted arrays — see
    * [[graft.functions.SortedIntersectCount]]), |A∪B| from the two
    * array sizes (one compact row per doc); integer-ratio arithmetic
    * → bit-identical across engines.
    */
  private def verifyJaccard(cand: DataFrame, docArr: DataFrame, tau: Double): DataFrame =
    // no broadcast hint: the array frame is whole-corpus-sized, so AQE
    // decides (broadcast when it fits, shuffle join when it doesn't)
    cand
      .join(docArr.select(col("doc_id").as("doc_a"), col("sh").as("sa")), Seq("doc_a"))
      .join(docArr.select(col("doc_id").as("doc_b"), col("sh").as("sb")), Seq("doc_b"))
      // graft_isect: codegen'd merge count over the sorted arrays —
      // size(array_intersect) builds a hash set + output array per
      // evaluation, and Catalyst inlines it twice into the filter
      .withColumn("ninter", expr("graft_isect(sa, sb)"))
      .withColumn("na", size(col("sa")).cast(LongType))
      .withColumn("nb", size(col("sb")).cast(LongType))
      .withColumn("jaccard", round(col("ninter") / (col("na") + col("nb") - col("ninter")), 6))
      .where(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")

  /** Exact-duplicate collapse for the text-pure pair ops: one
    * representative (min doc_id) per distinct text. Near-dup measures
    * (Jaccard, Hamming, edit distance) are functions of the text
    * alone, so on duplicate-heavy corpora — the realistic shape for a
    * pre-dedup crawl — the candidate machinery need only see distinct
    * texts; identical copies would otherwise multiply every posting
    * list by the copy count and the bucket joins by its square, for
    * zero information. Returns (members = (rep_id, doc_id) for every
    * doc, reps = one (doc_id, text) row per distinct text).
    */
  private def collapseByText(docs: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val all = docs.select(col("doc_id").cast(LongType).as("doc_id"), col("text"))
    val wg = Window.partitionBy(col("text"))
    val m0 = all.withColumn("rep_id", min(col("doc_id")).over(wg)).localCheckpoint()
    (m0.select("rep_id", "doc_id"),
      m0.where(col("doc_id") === col("rep_id")).select("doc_id", "text"))
  }

  /** Session-scoped collapse + shingle catalog: the exact-duplicate
    * collapse and the one shingling pass over distinct texts are
    * identical inputs for the whole text-pair family (Jaccard,
    * MinHash, SimHash, containment, pipeline, cluster), which
    * previously each rebuilt them per op — at sf1 the rebuild was the
    * dominant repeated cost in the four slowest dedup entries. Same
    * load-once-query-many model as the derived-graph catalog
    * ([[graft.Materialized]]); generic `docs`-frame entry points below
    * still build their own collapse, so non-(session, dir) callers
    * (tests, library users) are unaffected.
    */
  private case class Collapsed(members: DataFrame, reps: DataFrame, docArr: DataFrame)

  private def collapsedFor(spark: SparkSession, dir: String): Collapsed = {
    // Three disk-backed frame entries sharing ONE lazy collapse build
    // (same shape as the BPE state): the steady state reads three
    // parquet scans; a partial cache rebuilds once, deterministically.
    lazy val built = {
      val (members, reps) = collapseByText(Tables.documents(spark, dir))
      Collapsed(members.localCheckpoint(), reps.localCheckpoint(),
        docShingleArrays(reps).localCheckpoint())
    }
    Collapsed(
      graft.Materialized.ofDF(spark, dir, "dedup:collapse-members")(built.members),
      graft.Materialized.ofDF(spark, dir, "dedup:collapse-reps")(built.reps),
      graft.Materialized.ofDF(spark, dir, "dedup:collapse-docarr")(built.docArr))
  }

  /** Doc-level expansion of rep-level near-dup pairs (the inverse of
    * [[collapseByText]]): duplicate-group-internal pairs get the
    * identity similarity `selfCols`; cross-group pairs inherit their
    * rep pair's measure columns — both joins are equi-joins on rep
    * ids, so the within-group quadratic lives only in the ANSWER (the
    * oracle's all-pairs output), never in join work. `eligibleReps`
    * restricts which groups pair internally (texts too short to carry
    * a shingle/signature never pair in the candidate formulations,
    * and must not pair here either).
    */
  private def expandRepPairs(repPairs: DataFrame, members: DataFrame,
      selfCols: Seq[org.apache.spark.sql.Column],
      eligibleReps: DataFrame, directed: Boolean = false): DataFrame = {
    val memIn = members.join(eligibleReps, "rep_id")
    // symmetric measures emit each unordered pair once (a < b);
    // directed measures (containment) emit both orientations and must
    // preserve the rep pair's direction through the expansion
    val within = memIn.as("a").join(memIn.as("b"),
        col("a.rep_id") === col("b.rep_id") &&
          (if (directed) col("a.doc_id") =!= col("b.doc_id")
           else col("a.doc_id") < col("b.doc_id")))
      .select(col("a.doc_id").as("doc_a") +: col("b.doc_id").as("doc_b") +:
        selfCols: _*)
    val measures = repPairs.columns
      .filterNot(c => c == "doc_a" || c == "doc_b").map(col)
    val expanded = repPairs
      .join(members.select(col("rep_id").as("doc_a"), col("doc_id").as("da")), "doc_a")
      .join(members.select(col("rep_id").as("doc_b"), col("doc_id").as("db")), "doc_b")
    val cross =
      if (directed)
        expanded.select(col("da").as("doc_a") +: col("db").as("doc_b") +: measures: _*)
      else
        expanded.select(least(col("da"), col("db")).as("doc_a") +:
          greatest(col("da"), col("db")).as("doc_b") +: measures: _*)
    within.unionAll(cross)
  }

  /** The PPJoin-style prefix: each doc's `n_sh − ⌈τ·n_sh⌉ + 1`
    * globally-rarest shingles by the shared (df, hash) total order —
    * any pair with J(A,B) ≥ τ (or containment C(A→B) ≥ τ on the A
    * side) must share a prefix shingle, so candidate recall is exact.
    * Strategy is probed with one bounded collect: vocabularies under
    * [[PrefixBroadcastVocab]] broadcast the df map and compute the
    * prefix scan-side (no sort-shuffle — real corpora blow past the
    * threshold); larger ones use the per-doc window formulation.
    */
  private def prefixRows(docArr: DataFrame, tau: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docArr.sparkSession
    import spark.implicits._
    val sh = docArr.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("s"))
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val tauEff = tau - 1e-6 // margin for the 6-dp-rounded threshold
    // one evaluation, driver-bounded: > max+1 rows never collect
    val probe = dfreq.limit((PrefixBroadcastVocab + 1).toInt).collect()
    if (probe.length <= PrefixBroadcastVocab) {
      val dfMap = spark.sparkContext.broadcast(
        probe.map(r => r.getLong(0) -> r.getLong(1)).toMap)
      docArr.select(col("doc_id"), col("sh")).as[(Long, Array[Long])]
        .flatMap { case (id, arr) =>
          val k = arr.length - math.ceil(tauEff * arr.length).toInt + 1
          if (k <= 0 || arr.isEmpty) Iterator.empty
          else {
            val m = dfMap.value
            arr.map(s => (m(s), s)).sortBy(identity)
              .take(k).iterator.map { case (_, s) => (id, s, arr.length) }
          }
        }.toDF("doc_id", "s", "n_sh")
    } else {
      val w = Window.partitionBy("doc_id").orderBy(col("df"), col("s"))
      sh.join(broadcast(dfreq), "s")
        .withColumn("rk", row_number().over(w))
        // n_sh carried from the array — no count-over-partition window
        .where(col("rk") <= col("n_sh") - ceil(lit(tauEff) * col("n_sh")) + 1)
        .select("doc_id", "s", "n_sh")
    }
  }

  /** Near-dup pairs by exact n-gram Jaccard ≥ τ via a prefix-filtered
    * inverted-index join (AllPairs/PPJoin): each doc indexes only its
    * `n - ⌈τ·n⌉ + 1` globally-rarest shingles — if J(A,B) ≥ τ those
    * prefixes must share a shingle, so recall is exact while the
    * posting join runs over rare shingles only (the frequent-shingle
    * quadratic blowup never happens). Exact verification then computes
    * true Jaccard over the full shingle sets.
    */
  def ngramJaccardPairs(docs: DataFrame, tau: Double = JaccardTau): DataFrame = {
    // Exact-duplicate collapse first (see [[collapseByText]]), then
    // one shingling pass over the DISTINCT texts, checkpointed: every
    // downstream consumer (inverted index, prefix filter,
    // verification) reads the compact per-rep array frame.
    val (members, reps) = collapseByText(docs)
    jaccardPairsCollapsed(members, docShingleArrays(reps).localCheckpoint(), tau)
  }

  /** Verified rep-level Jaccard pairs over the per-rep shingle arrays
    * (doc_a < doc_b, both reps). The prefix filter only needs SOME
    * global shingle order shared by all docs — (df, hash) works as
    * well as (df, string).
    */
  private def repJaccardPairs(docArr: DataFrame, tau: Double): DataFrame = {
    val prefix = prefixRows(docArr, tau)
    // AllPairs length filter inside the posting join: J ≥ τ forces
    // τ·max(|A|,|B|) ≤ min(|A|,|B|), so size-mismatched pairs never
    // reach (or pay for) exact verification — on a repetitive
    // vocabulary this is the main candidate cut after rarity prefixes
    val cand = prefix.select(col("doc_id").as("doc_a"), col("s"), col("n_sh").as("na"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("s"), col("n_sh").as("nb")), Seq("s"))
      .where(col("doc_a") < col("doc_b") &&
        lit(tau) * greatest(col("na"), col("nb")) <=
          least(col("na"), col("nb")) + lit(1e-9))
      .select("doc_a", "doc_b").distinct()
    verifyJaccard(cand, docArr, tau)
  }

  /** Verified rep-level pairs at the gate τ, served from the
    * [[graft.Materialized]] catalog: near-dup pair DISCOVERY (prefix
    * candidates + exact verification — the expensive pass) runs once
    * per (corpus, session) and every gate consumer — the pair listing,
    * the cluster labels, the pipeline status — reads the same
    * disk-backed frame. The production shape: at 100 TB the verified
    * pair set is a corpus artifact written by one job, not a per-query
    * recompute. Parameterized (fuzz-drawn τ) paths stay uncached.
    */
  private def repJaccardPairsFor(spark: SparkSession, dir: String,
      docArr: DataFrame): DataFrame =
    graft.Materialized.ofDF(spark, dir, "dedup:jac-rep-pairs") {
      repJaccardPairs(docArr, JaccardTau).localCheckpoint()
    }

  /** Doc-level expansion + canonical order of a rep-level pair frame
    * (the tail of the jaccard pipeline, shared by the cached and
    * parameterized heads).
    */
  private def jaccardExpand(repPairs: DataFrame, members: DataFrame,
      docArr: DataFrame): DataFrame = {
    // identical texts are J = 1 pairs when they carry ≥1 shingle;
    // texts shorter than the shingle width never pair (0/0 Jaccard),
    // matching the inverted-index formulation exactly
    val shingled = docArr.where(size(col("sh")) > 0)
      .select(col("doc_id").as("rep_id"))
    expandRepPairs(repPairs, members,
      Seq(lit(1.0).as("jaccard")), shingled)
      .orderBy("doc_a", "doc_b")
  }

  private def jaccardPairsCollapsed(members: DataFrame, docArr: DataFrame,
      tau: Double): DataFrame =
    jaccardExpand(repJaccardPairs(docArr, tau), members, docArr)

  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val c = collapsedFor(spark, dir)
    jaccardExpand(repJaccardPairsFor(spark, dir, c.docArr), c.members, c.docArr)
  }

  /** τ-templated oracle (the randomized differential pass draws τ per
    * run; the gate entry pins τ = [[JaccardTau]]).
    */
  def dedupNgramJaccardSqlAt(tau: Double): String = s"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
           FROM (SELECT doc_id, w,
                   unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
                 FROM w)),
    cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b,
      ROUND(ninter / (ca.n_sh + cb.n_sh - ninter), 6) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE ROUND(ninter / (ca.n_sh + cb.n_sh - ninter), 6) >= $tau
    ORDER BY doc_a, doc_b"""

  val dedupNgramJaccardSql: String = dedupNgramJaccardSqlAt(JaccardTau)

  /** MinHash + banded LSH near-dup pairs, exact-verified. Signatures
    * are 128 universal-hash permutations h_i(x) = (a_i·x + b_i) mod p
    * over the shingle's xxhash64, folded into 32 banded bucket keys;
    * only same-bucket pairs are candidates. On data whose similarity
    * distribution is bimodal (dups ≈1, non-dups ≈0 — the LLM-corpus
    * case) output equals dedup_ngram_jaccard, so it shares that oracle.
    */
  def minhashLshPairs(docs: DataFrame, tau: Double = JaccardTau): DataFrame = {
    // Exact-duplicate collapse first (identical texts share identical
    // signatures, so every copy lands in every band bucket together —
    // quadratic candidate blowup for zero information)
    val (members, reps) = collapseByText(docs)
    minhashPairsCollapsed(members, docShingleArrays(reps).localCheckpoint(), tau)
  }

  /** Signatures fold inside one pass over the per-rep hash arrays — no
    * shingle-row shuffle at all; the only exchanges left are the
    * banded bucket join and the verification sort.
    */
  private def minhashPairsCollapsed(members: DataFrame, docArr: DataFrame,
      tau: Double): DataFrame = {
    val rnd = new scala.util.Random(42)
    val coefs = Array.fill(Perms)(
      (1L + rnd.nextInt(Int.MaxValue - 1).toLong, rnd.nextInt(Int.MaxValue).toLong))
    val spark = docArr.sparkSession
    import spark.implicits._
    // Shingle-less docs (shorter than n words) carry no signature —
    // same as the shingle-row formulation, and it keeps their
    // identical all-MaxValue signatures from flooding every band.
    val sig = docArr.where(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh")).as[(Long, Array[Long])]
      .map { case (id, sh) =>
        val mins = Array.fill(Perms)(Long.MaxValue)
        sh.foreach { s =>
          val x = java.lang.Math.floorMod(s, MersenneP)
          var i = 0
          while (i < Perms) {
            val (a, b) = coefs(i)
            val h = java.lang.Math.floorMod(x * a + b, MersenneP)
            if (h < mins(i)) mins(i) = h
            i += 1
          }
        }
        (id, mins)
      }.toDF("doc_id", "mins")
    val bandCols = (0 until Bands).map { j =>
      struct(lit(j).as("band"),
        xxhash64((0 until RowsPerBand).map(r =>
          col("mins").getItem(j * RowsPerBand + r)): _*).as("key"))
    }
    val bands = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = bands.select(col("doc_id").as("doc_a"), col("band"), col("key"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("key")),
        Seq("band", "key"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val shingled = docArr.where(size(col("sh")) > 0)
      .select(col("doc_id").as("rep_id"))
    expandRepPairs(verifyJaccard(cand, docArr, tau), members,
      Seq(lit(1.0).as("jaccard")), shingled)
      .orderBy("doc_a", "doc_b")
  }

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val c = collapsedFor(spark, dir)
    minhashPairsCollapsed(c.members, c.docArr, JaccardTau)
  }

  /** SimHash near-dup pairs: 64-bit frequency-weighted shingle SimHash,
    * candidates via the 4×16-bit pigeonhole blocks (Hamming ≤ 3 pairs
    * must agree on ≥1 block), exact Hamming verification via bit_count.
    */
  val SimhashMaxHamming = 3

  def simhashPairs(docs: DataFrame, maxHamming: Int = SimhashMaxHamming): DataFrame = {
    // Exact-duplicate collapse first (identical texts share the exact
    // signature, so copies agree on every pigeonhole block — quadratic
    // candidates for zero information)
    val (members, reps) = collapseByText(docs)
    simhashPairsCollapsed(members, reps, maxHamming)
  }

  /** The whole signature folds inside the shingling pass — per rep:
    * count distinct-gram frequencies locally, add wt·(±1) into 64 bit
    * sums, pack the sign vector. No shingle-row shuffle at all (the
    * previous formulation shuffled every weighted shingle row through
    * a 64-column aggregation).
    */
  private def simhashPairsCollapsed(members: DataFrame, reps: DataFrame,
      maxHamming: Int): DataFrame = {
    val spark = reps.sparkSession
    import spark.implicits._
    val packed = reps.select(col("doc_id").cast(LongType), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val hs = gramHashes(text, NgramN)
        // gram-less docs carry no signature — matching the shingle-row
        // formulation; an all-zero signature would otherwise pair every
        // short doc with every other at Hamming 0
        if (hs.isEmpty) Iterator.empty
        else {
          val freq = new java.util.HashMap[Long, Long]()
          hs.foreach(h => freq.merge(h, 1L, _ + _))
          val bits = new Array[Long](64)
          freq.forEach { (h, wt) =>
            var j = 0
            while (j < 64) {
              bits(j) += wt * (((h >>> j) & 1L) * 2L - 1L)
              j += 1
            }
          }
          var sim = 0L
          var j = 0
          while (j < 64) { if (bits(j) > 0) sim |= (1L << j); j += 1 }
          Iterator.single((id, sim))
        }
      }.toDF("doc_id", "sim")
        .localCheckpoint() // pair join + eligibility both read it
    // identical texts pair at Hamming 0 when they carry a signature;
    // gram-less texts never pair (same as the signature formulation)
    expandRepPairs(hammingBlockPairs(packed, "sim", maxHamming), members,
      Seq(lit(0L).as("hamming")), packed.select(col("doc_id").as("rep_id")))
      .orderBy("doc_a", "doc_b")
  }

  /** Hamming-distance ≤ k pairs over 64-bit signatures via the
    * pigeonhole block join: split each signature into 4 × 16-bit
    * blocks — any pair within Hamming ≤ 3 matches exactly on at least
    * one block, so candidates come from 4 bucket equi-joins, never
    * all-pairs. Shared by [[simhashPairs]] and the multimodal
    * perceptual-hash pairing. Input: (doc_id, <sigCol>).
    *
    * Exactly-once emission (r20, guide §2.4): a pair is emitted ONLY
    * at its LOWEST matching block — the join output carries a codegen
    * filter requiring every earlier block to differ
    * (`((sig_a ^ sig_b) >> 16k') & 0xFFFF != 0` for all k' < k). The
    * first cut emitted a pair once per matching block (up to 4×) and
    * removed the duplicates with `.distinct()` — a full extra
    * Exchange + hash-aggregate over the CANDIDATE set, which on a
    * duplicate-heavy corpus is the largest frame in the query
    * (identical signatures match on all 4 blocks; at the ×100 rung
    * that distinct shuffled ~4× the true pair count). Same pair set
    * by the pigeonhole argument: every surviving pair has ≥ 1
    * matching block, hence exactly one lowest. DedupSpec pins the
    * equivalence on a planted corpus; the mm_phash/dedup_simhash
    * oracles stay hash-green (brute-force Hamming in SQL).
    *
    * PRECONDITION: `doc_id` must be unique in `sigs`. The exactly-once
    * argument is per (doc_a, doc_b) ID pair — duplicate (doc_id, sig)
    * rows would emit duplicate pairs that the removed `.distinct()`
    * used to collapse. Every caller feeds collapsed/distinct rows
    * (simhash reps, one payload per doc, distinct signature values).
    */
  private[graft] def hammingBlockPairs(sigs: DataFrame, sigCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4x16 pigeonhole blocks guarantee recall only to Hamming 3")
    val packed = sigs.select(col("doc_id"), col(sigCol).as("sig"))
    val blockCols = (0 until 4).map { k =>
      struct(lit(k).as("k"), shiftright(col("sig"), k * 16).bitwiseAND(lit(0xFFFFL)).as("bv"))
    }
    val blocks = packed.select(col("doc_id"), col("sig"), explode(array(blockCols: _*)).as("blk"))
      .select(col("doc_id"), col("sig"), col("blk.k").as("k"), col("blk.bv").as("bv"))
    val xorSig = col("sig_a").bitwiseXOR(col("sig_b"))
    // true ⇔ no block below k also matches (k' ≥ k terms are vacuous)
    val lowestBlock = (0 until 3).map { kp =>
      col("k") <= lit(kp) ||
        shiftright(xorSig, kp * 16).bitwiseAND(lit(0xFFFFL)) =!= lit(0L)
    }.reduce(_ && _)
    blocks.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"), col("k"), col("bv"))
      .join(blocks.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"), col("k"), col("bv")),
        Seq("k", "bv"))
      .where(col("doc_a") < col("doc_b") && lowestBlock)
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sig_a ^ sig_b)").cast(LongType).as("hamming"))
      .where(col("hamming") <= maxHamming)
    // no orderBy here (r20): every consumer either re-sorts after its
    // own expansion (simhash rep-pairs) or aggregates (phash n_near) —
    // the inner global sort was a pure extra range Exchange; the
    // pair-level op's ordering contract lives at its call site
  }

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val c = collapsedFor(spark, dir)
    simhashPairsCollapsed(c.members, c.reps, SimhashMaxHamming)
  }

  /** SimHash IS SQL-expressible — every step is integer arithmetic:
    * FNV-1a per word reproduced with `list_reduce` in HUGEINT mod-2^64
    * (re-signed through BIGINT for the xor), the positional gram
    * polynomial unrolled over [[NgramN]] word hashes, and the 64
    * sign-of-weighted-bit-sum terms generated as one SELECT. Pairing
    * is brute-force Hamming ≤ 3 — the engine's 4×16 pigeonhole block
    * join is exact to radius 3, so the sets coincide.
    */
  val dedupSimhashSql: String = {
    val U = "18446744073709551616::HUGEINT" // 2^64
    val H = "9223372036854775808::HUGEINT" // 2^63
    val P = "1099511628211::HUGEINT" // 0x100000001b3
    val Off = "14695981039346656037::HUGEINT" // 0xcbf29ce484222325 unsigned
    val fnv = s"list_reduce(list_prepend($Off, list_transform(split(w, ''), " +
      s"c -> ascii(c)::HUGEINT)), " +
      s"(h, b) -> ((xor((CASE WHEN h >= $H THEN h - $U ELSE h END)::BIGINT, " +
      s"b::BIGINT)::HUGEINT + $U) % $U * $P) % $U)"
    val gram = (1 to NgramN).foldLeft(Off) { (acc, j) =>
      s"(($acc * $P + whs[CAST(i AS INT) + $j]) % $U)"
    }
    val terms = (0 until 64).map { j =>
      val bit = if (j == 63) "(-9223372036854775807 - 1)" else s"(1::BIGINT << $j)"
      s"(CASE WHEN 2 * SUM(wt * ((g >> $j) & 1)) - SUM(wt) > 0 THEN $bit ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |             string_split(text, ' ') AS ws FROM documents),
       |wh AS (SELECT doc_id, list_transform(ws, w -> $fnv) AS whs
       |       FROM d WHERE len(ws) >= $NgramN),
       |grams AS (SELECT doc_id,
       |            (CASE WHEN m >= $H THEN m - $U ELSE m END)::BIGINT AS g
       |          FROM (SELECT doc_id, $gram AS m
       |                FROM (SELECT doc_id, whs,
       |                        unnest(generate_series(0, len(whs) - $NgramN)) AS i
       |                      FROM wh))),
       |freq AS (SELECT doc_id, g, COUNT(*)::BIGINT AS wt FROM grams GROUP BY 1, 2),
       |sigs AS (SELECT doc_id, $terms AS sim FROM freq GROUP BY doc_id)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sim, b.sim)) <= $SimhashMaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Embedding near-dup summary: for each vector, how many lower-id
    * vectors sit within cosine ≥ τ (0 ⇒ the vector survives dedup).
    * Candidates come from 8×8-bit random-hyperplane LSH blocks (see
    * [[graft.similarity.Ann]] for the signature machinery); the exact
    * cosine verification runs in codegen'd array expressions. The LSH
    * prefilter is exact-recall in the near-identical regime this op
    * targets (cos ≥ ~0.99 ⇒ P(miss) < 1e-7) and keeps candidate count
    * proportional to true-duplicate density.
    */
  def embeddingDupSummary(emb: DataFrame, tau: Double = CosTau): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Exact-duplicate collapse first (the text family's r10 design,
    // applied to vectors): identical vectors share every LSH block,
    // so the block self-join pays (copy count)² candidate pairs per
    // distinct vector for zero information — measured 8.4× time for
    // 3× data on the 30-copy ScaleUp corpus. Identical-copy priors
    // are RANK ARITHMETIC over the collapse (copy i's lower-id
    // identical twins number i−1 — counted iff the vector pairs with
    // itself under the exact pair predicate, which a zero vector's
    // NaN cosine fails, faithfully to the uncollapsed formulation);
    // only DISTINCT-vector near-dup pairs run the LSH + exact-cosine
    // machinery, and the member expansion of those pairs is
    // answer-sized (n_prior_dups genuinely counts them).
    val wg = Window.partitionBy(col("embedding"))
    val m = emb.select(col("vec_id").cast(LongType).as("vec_id"), col("embedding"))
      .withColumn("rep_id", min("vec_id").over(wg))
      .withColumn("n_ident_prior",
        (row_number().over(wg.orderBy(col("vec_id"))) - 1).cast(LongType))
      .localCheckpoint()
    val reps = m.where(col("vec_id") === col("rep_id")).select("vec_id", "embedding")
    val selfPair = graft.similarity.Ann.withNorm(reps)
      .select(col("vec_id").as("rep_id"),
        (expr("graft_dot(v, v)") / (col("nrm") * col("nrm")) >= tau).as("self_dup"))
    val sigs = graft.similarity.Ann.signatures(reps)
    val blockCols = (0 until 8).map { k =>
      struct(lit(k).as("k"), shiftright(col("sig"), k * 8).bitwiseAND(lit(0xFFL)).as("bv"))
    }
    val blocks = sigs.select(col("vec_id"), explode(array(blockCols: _*)).as("blk"))
      .select(col("vec_id"), col("blk.k").as("k"), col("blk.bv").as("bv"))
    val cand = blocks.select(col("vec_id").as("ia"), col("k"), col("bv"))
      .join(blocks.select(col("vec_id").as("ib"), col("k"), col("bv")), Seq("k", "bv"))
      .where(col("ia") < col("ib"))
      .select("ia", "ib").distinct()
    val vecs = graft.similarity.Ann.withNorm(reps)
    val repPairs = cand
      .join(vecs.select(col("vec_id").as("ia"), col("v").as("va"), col("nrm").as("na")), "ia")
      .join(vecs.select(col("vec_id").as("ib"), col("v").as("vb"), col("nrm").as("nb")), "ib")
      .withColumn("cos", expr("graft_dot(va, vb)") / (col("na") * col("nb")))
      .where(col("cos") >= tau)
      .select("ia", "ib")
    // cross-group priors: for member v of group g, every member u of a
    // cos-similar group h with u < v is a prior dup (score is a
    // function of the vectors, so the rep pair's verdict covers all
    // member pairs)
    val sim = repPairs.select(col("ia").as("g"), col("ib").as("h"))
      .unionAll(repPairs.select(col("ib").as("g"), col("ia").as("h")))
    val crossCnt = sim
      .join(m.select(col("rep_id").as("g"), col("vec_id").as("v")), "g")
      .join(m.select(col("rep_id").as("h"), col("vec_id").as("u")), "h")
      .where(col("u") < col("v"))
      .groupBy(col("v").as("vec_id")).agg(count(lit(1)).as("cc"))
    m.select(col("vec_id"), col("rep_id"), col("n_ident_prior"))
      .join(selfPair, "rep_id")
      .join(crossCnt, Seq("vec_id"), "left")
      .select(col("vec_id"),
        (when(col("self_dup"), col("n_ident_prior")).otherwise(lit(0L)) +
          coalesce(col("cc"), lit(0L))).as("n_prior_dups"))
      .withColumn("kept", col("n_prior_dups") === 0L)
      .orderBy("vec_id")
  }

  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    embeddingDupSummary(Tables.embeddings(spark, dir))

  val dedupEmbeddingSql: String = s"""
    WITH v AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v,
            sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
          FROM v),
    p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
            list_sum(list_transform(generate_series(1, len(a.v)),
              i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS cos
          FROM n a JOIN n b ON a.vec_id < b.vec_id),
    d AS (SELECT ib, COUNT(*) AS c FROM p WHERE cos >= $CosTau GROUP BY 1)
    SELECT e.vec_id, CAST(COALESCE(d.c, 0) AS BIGINT) AS n_prior_dups,
      COALESCE(d.c, 0) = 0 AS kept
    FROM embeddings e LEFT JOIN d ON d.ib = e.vec_id
    ORDER BY e.vec_id"""

  /** Quality cutoff for the end-to-end pipeline (the corpus' composite
    * score spans 0.38..0.94; 0.55 drops the bottom ~12%).
    */
  val QualityTau = 0.55

  /** End-to-end training-data cleanup — the pipeline a 100 TB corpus
    * actually runs, as one operator: exact dedup (content hash, keep
    * min doc_id) → near-dup removal among survivors (prefix-filtered
    * n-gram Jaccard; a doc drops if ANY lower-id survivor is ≥ τ
    * similar) → quality filter. Output labels every document with the
    * first stage that rejected it. Each stage is the already-gated
    * operator's plan, so the composition inherits their scale shapes
    * (hash agg, inverted-index join, scan-local scoring).
    */
  def pipelineStatus(docs: DataFrame, tau: Double = JaccardTau,
      qualityTau: Double = QualityTau): DataFrame = {
    val (members, reps) = collapseByText(docs)
    pipelineStatusCollapsed(members, reps,
      docShingleArrays(reps).localCheckpoint(), tau, qualityTau)
  }

  /** The exact-dedup stage IS the collapse: survivors = the min-doc_id
    * representatives, is_exact_dup = doc_id ≠ rep_id. Near-dup removal
    * then needs only the REP-level verified pairs (a survivor drops if
    * any lower-id survivor is ≥ τ similar) — no doc-level expansion at
    * all, so the within-duplicate-group quadratic never appears here.
    */
  private def pipelineStatusCollapsed(members: DataFrame, reps: DataFrame,
      docArr: DataFrame, tau: Double, qualityTau: Double,
      repPairs: Option[DataFrame] = None): DataFrame = {
    val nearDup = repPairs.getOrElse(repJaccardPairs(docArr, tau))
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("is_near_dup", lit(true))
    val quality = graft.text.TextAnalysis.qualityScored(reps)
      .select("doc_id", "quality_score")
    members
      .select(col("doc_id"), (col("doc_id") =!= col("rep_id")).as("is_exact_dup"))
      .join(nearDup, Seq("doc_id"), "left")
      .join(quality, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact_dup"), "exact_dup")
          .when(coalesce(col("is_near_dup"), lit(false)), "near_dup")
          .when(col("quality_score") < qualityTau, "low_quality")
          .otherwise("kept").as("status"))
      .orderBy("doc_id")
  }

  def dedupPipeline(spark: SparkSession, dir: String): DataFrame = {
    val c = collapsedFor(spark, dir)
    pipelineStatusCollapsed(c.members, c.reps, c.docArr, JaccardTau, QualityTau,
      repPairs = Some(repJaccardPairsFor(spark, dir, c.docArr)))
  }

  /** Containment threshold: C(A→B) = |A∩B| / |A| ≥ τ flags A as
    * (near-)contained in B — the partial-copy / quotation detector
    * that symmetric Jaccard misses (a small doc pasted into a large
    * one has low Jaccard but containment ≈ 1).
    */
  val ContainTau = 0.9

  /** Ordered near-containment pairs over the shingle-hash arrays.
    * Candidate recall uses the A-side prefix bound: if B holds ≥ τ|A|
    * of A's shingles, any `|A| − ⌈τ|A|⌉ + 1` of A's shingles include
    * a shared one — so A's rarest-shingle prefix joins B's full
    * posting list (the asymmetric twin of the PPJoin filter), then
    * exact verification intersects the arrays.
    */
  def containmentPairs(docs: DataFrame, tau: Double = ContainTau): DataFrame = {
    // collapse first (see [[collapseByText]]); containment is directed,
    // so the expansion keeps rep-pair orientation and emits BOTH
    // orientations inside a duplicate group (identical texts contain
    // each other at exactly 1.0)
    val (members, reps) = collapseByText(docs)
    containmentPairsCollapsed(members, docShingleArrays(reps).localCheckpoint(), tau)
  }

  private def containmentPairsCollapsed(members: DataFrame, docArr: DataFrame,
      tau: Double): DataFrame = {
    val sh = docArr.select(col("doc_id"), explode(col("sh")).as("s"))
    val prefixA = prefixRows(docArr, tau)
      .select(col("doc_id").as("doc_a"), col("s"))
    val cand = prefixA
      .join(sh.select(col("doc_id").as("doc_b"), col("s")), Seq("s"))
      .where(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val repPairs = cand
      .join(docArr.select(col("doc_id").as("doc_a"), col("sh").as("sa")), Seq("doc_a"))
      .join(docArr.select(col("doc_id").as("doc_b"), col("sh").as("sb")), Seq("doc_b"))
      .withColumn("containment",
        round(expr("graft_isect(sa, sb)") /
          size(col("sa")).cast(LongType), 6))
      .where(col("containment") >= tau)
      .select(col("doc_a"), col("doc_b"), col("containment"))
    val shingled = docArr.where(size(col("sh")) > 0)
      .select(col("doc_id").as("rep_id"))
    expandRepPairs(repPairs, members, Seq(lit(1.0).as("containment")),
      shingled, directed = true)
      .orderBy("doc_a", "doc_b")
  }

  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    val c = collapsedFor(spark, dir)
    containmentPairsCollapsed(c.members, c.docArr, ContainTau)
  }

  /** Duplicate clusters: connected components over the near-dup pair
    * graph (transitive closure — A≈B≈C lands in one cluster even when
    * A and C fall below τ pairwise), labeled by the cluster's minimum
    * doc_id; singletons are their own cluster. This is the graph
    * engine ([[graft.graph.GraphOps.connectedComponents]]) powering
    * the data pipeline — the canonical "cluster then keep one per
    * cluster" dedup shape.
    */
  def clusterAssignments(docs: DataFrame, tau: Double = JaccardTau): DataFrame = {
    val (members, reps) = collapseByText(docs)
    clusterAssignmentsCollapsed(members,
      docShingleArrays(reps).localCheckpoint(), tau)
  }

  private def clusterAssignmentsCollapsed(members: DataFrame, docArr: DataFrame,
      tau: Double): DataFrame =
    clusterFromRepPairs(repJaccardPairs(docArr, tau), members, docArr)

  /** Doc-level formulation, kept ONLY as the spec's equivalence
    * baseline for [[clusterFromRepPairs]] (components over the fully
    * expanded doc-pair graph — within-group cliques included).
    */
  private[graft] def clusterFromPairsBaseline(docPairs: DataFrame,
      members: DataFrame): DataFrame = {
    // checkpointed: connectedComponents consumes the pair frame twice
    // (the adaptive size probe, then the traversal itself) — without
    // this the whole near-dup join pipeline re-executes per consumer
    val pairs = docPairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .localCheckpoint()
    val cc = graft.graph.GraphOps.connectedComponents(pairs)
      .select(col("vertex").as("doc_id"), col("component").as("cluster"))
    members.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .orderBy("doc_id")
  }

  /** Cluster labels from REP-level verified pairs (r21, guide §1.2:
    * fix the algorithm before the plan). The former path expanded rep
    * pairs to DOC level first — C(copies, 2) within-group rows per
    * duplicate group (4,950 per group on the ×100 stress corpus) —
    * and ran connected components over that quadratic frame. But the
    * doc-level components are a pure function of the rep-level ones:
    * within a duplicate group every member connects to its rep (the
    * within-clique), so a doc cluster's minimum id IS the minimum
    * rep id of the connected rep set (each rep is its group's min
    * doc_id). So components run on the pair frame that is
    * answer-SMALL (distinct-text pairs), and members inherit their
    * rep's component by one equi-join:
    *
    *  - shingled rep in a component  → every member labels
    *    component (= min rep id across the connected groups);
    *  - shingled rep, no near-dup pair → the within-clique alone:
    *    members label rep_id;
    *  - shingle-less rep (never pairs, not even within its group —
    *    the eligibleReps contract of [[expandRepPairs]]) → every
    *    member is its own singleton: doc_id.
    *
    * DedupSpec pins this equal to [[clusterFromPairsBaseline]] over
    * the expanded pairs on a planted corpus (multi-copy groups,
    * shingle-less groups, cross-group chains); the gate oracle is the
    * doc-level recursive closure, unchanged.
    */
  private def clusterFromRepPairs(repPairs: DataFrame, members: DataFrame,
      docArr: DataFrame): DataFrame = {
    val pairs = repPairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .localCheckpoint() // connectedComponents consumes it twice
    val cc = graft.graph.GraphOps.connectedComponents(pairs)
      .select(col("vertex").as("rep_id"), col("component"))
    val shingled = docArr.where(size(col("sh")) > 0)
      .select(col("doc_id").as("rep_id"), lit(true).as("shingled"))
    members.select(col("doc_id"), col("rep_id"))
      .join(shingled, Seq("rep_id"), "left")
      .join(cc, Seq("rep_id"), "left")
      .select(col("doc_id"),
        when(coalesce(col("shingled"), lit(false)),
          coalesce(col("component"), col("rep_id")))
          .otherwise(col("doc_id")).as("cluster"))
      .orderBy("doc_id")
  }

  def dedupCluster(spark: SparkSession, dir: String): DataFrame = {
    val c = collapsedFor(spark, dir)
    clusterFromRepPairs(repJaccardPairsFor(spark, dir, c.docArr), c.members, c.docArr)
  }

  val dedupClusterSql: String = s"""
    WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
           FROM (SELECT doc_id, w,
                   unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
                 FROM w)),
    cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    pr AS MATERIALIZED (SELECT doc_a, doc_b
          FROM inter
          JOIN cnt ca ON ca.doc_id = doc_a
          JOIN cnt cb ON cb.doc_id = doc_b
          WHERE ROUND(ninter / (ca.n_sh + cb.n_sh - ninter), 6) >= $JaccardTau),
    u AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pr
          UNION SELECT doc_b, doc_a FROM pr),
    r AS (SELECT s AS start, s AS reach FROM (SELECT DISTINCT s FROM u)
          UNION
          SELECT r.start, u.d FROM r JOIN u ON u.s = r.reach),
    lab AS (SELECT start AS doc_id, MIN(reach) AS cluster FROM r GROUP BY 1)
    SELECT d.doc_id, COALESCE(lab.cluster, d.doc_id) AS cluster
    FROM documents d LEFT JOIN lab USING (doc_id)
    ORDER BY d.doc_id"""

  /** Parameterized containment oracle (the fuzz family draws τ). */
  def dedupContainmentSqlAt(tau: Double): String = s"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
           FROM (SELECT doc_id, w,
                   unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
                 FROM w)),
    cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id != b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b, ROUND(ninter / ca.n_sh, 6) AS containment
    FROM inter JOIN cnt ca ON ca.doc_id = doc_a
    WHERE ROUND(ninter / ca.n_sh, 6) >= $tau
    ORDER BY doc_a, doc_b"""

  val dedupContainmentSql: String = dedupContainmentSqlAt(ContainTau)

  val dedupPipelineSql: String = {
    val stopList = graft.text.TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""
    WITH fp AS (SELECT doc_id, text, md5(text) AS fp FROM documents),
    k AS (SELECT fp, MIN(doc_id) AS keep_id FROM fp GROUP BY 1),
    t AS (SELECT f.doc_id, f.text, f.doc_id != k.keep_id AS is_exact_dup
          FROM fp f JOIN k USING (fp)),
    kd AS (SELECT doc_id, text FROM t WHERE NOT is_exact_dup),
    w AS (SELECT doc_id, string_split(text, ' ') AS w FROM kd),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
           FROM (SELECT doc_id, w,
                   unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
                 FROM w)),
    cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    nearb AS (SELECT DISTINCT doc_b AS doc_id
              FROM inter
              JOIN cnt ca ON ca.doc_id = doc_a
              JOIN cnt cb ON cb.doc_id = doc_b
              WHERE ROUND(ninter / (ca.n_sh + cb.n_sh - ninter), 6) >= $JaccardTau),
    q AS (SELECT doc_id,
            ROUND(LEAST(ws_tokens / 50.0, 1.0) * 0.4
              + (1.0 - punct_marks / char_len) * 0.3
              + LEAST(stop_tokens / ws_tokens * 5.0, 1.0) * 0.3, 6) AS quality_score
          FROM (SELECT doc_id,
                  CAST(length(text) AS BIGINT) AS char_len,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
                  CAST(len(list_filter(string_split(text, ' '),
                    x -> x IN ($stopList))) AS BIGINT) AS stop_tokens,
                  CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS BIGINT) AS punct_marks
                FROM kd))
    SELECT t.doc_id,
      CASE WHEN t.is_exact_dup THEN 'exact_dup'
           WHEN nb.doc_id IS NOT NULL THEN 'near_dup'
           WHEN q.quality_score < $QualityTau THEN 'low_quality'
           ELSE 'kept' END AS status
    FROM t
    LEFT JOIN nearb nb ON nb.doc_id = t.doc_id
    LEFT JOIN q ON q.doc_id = t.doc_id
    ORDER BY t.doc_id"""
  }

  /** Max edit distance for [[dedupEditDistance]]; separates the
    * planted character-level near-dups (ed ≈ 4) from the word-level
    * rewrites (ed ≥ 39) in the corpus.
    */
  val EditK = 24

  /** Q-gram width for the edit-distance prefix filter. */
  val EditQ = 3

  /** FNV-1a over the UTF-16 code units of `s[from, from+n)` — the
    * char-q-gram identity for [[editDistancePairs]], computed without
    * allocating substring objects.
    */
  private def fnvChars(s: String, from: Int, n: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < from + n) {
      val c = s.charAt(i)
      h ^= (c & 0xffL); h *= 0x100000001b3L
      h ^= ((c >> 8) & 0xffL); h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** The occurrence-numbered positional q-gram multiset of `text` as
    * 64-bit element hashes (the i-th occurrence of a gram, scanning
    * left to right, is a distinct element — multiset encoding). One
    * element per char position; empty for texts shorter than q.
    */
  private[graft] def edGramElems(text: String, q: Int): Array[Long] = {
    val n = text.length - q + 1
    if (n <= 0) return Array.empty[Long]
    val out = new Array[Long](n)
    val seen = new java.util.HashMap[Long, Integer]()
    var i = 0
    while (i < n) {
      val g = fnvChars(text, i, q)
      val occ = seen.merge(g, Integer.valueOf(1), (a, b) => Integer.valueOf(a + b))
      var h = g ^ (occ.longValue() * 0x9e3779b97f4a7c15L)
      h *= 0x100000001b3L
      out(i) = h
      i += 1
    }
    out
  }

  /** Banded-pair budget for the adaptive candidate strategy in
    * [[editDistancePairs]]: when the (lang, length-band) histogram
    * says the banded self-join yields ≤ this many candidates per doc,
    * verification cost is bounded either way and the ED-Join gram
    * machinery is pure overhead — candidates come straight from the
    * band join.
    */
  val EditBandedPairsPerDoc = 128L

  /** Character-level near-duplicate pairs: levenshtein(a, b) ≤ k
    * within a language, found ED-Join-style (Xiao et al., VLDB 2008)
    * rather than all-pairs. Step 0 collapses exact duplicates to one
    * representative per distinct (lang, text) — on duplicate-heavy
    * corpora (the realistic shape) every downstream cost scales with
    * DISTINCT texts, not docs. Candidate generation over the
    * representatives is adaptive, decided by one tiny (lang, ⌊len/k⌋)
    * histogram aggregate:
    *
    * **Banded path** — any pair within distance k has |Δlen| ≤ k, so
    * candidates are the same-band + adjacent-band self-join on the
    * (lang, ⌊len/k⌋) key. Chosen when the histogram bounds this at
    * ≤ [[EditBandedPairsPerDoc]]·n pairs (small corpora, or corpora
    * so repetitive that gram rarity cannot prune below length
    * banding): verification is then cheap by construction and the
    * gram machinery would cost more than it saves.
    *
    * **Prefix path** (the 100 TB shape — band blocks grow
    * quadratically, rarity pruning doesn't):
    *
    *  1. each doc becomes its positional q-gram *multiset*
    *     (occurrence-numbered, so repeated grams stay distinct
    *     elements — required for the mismatch bound on a repetitive
    *     vocabulary), one compact array per doc ([[edGramElems]]);
    *  2. k edits destroy at most q·k gram occurrences, so two docs
    *     within distance k must share an element inside their
    *     (q·k+1)-prefixes under a global rarity order — the prefix
    *     self-join therefore only touches each doc's rarest grams
    *     (short posting lists), never the full inverted index. The
    *     join carries lang as an equi-key and |Δlen| ≤ k as a
    *     residual, pruning before candidates ever materialize;
    *  3. the global gram-frequency order comes from a broadcast map
    *     when the occurrence-numbered vocabulary is bounded (char
    *     q-grams are alphabet-bounded, so this is the common case —
    *     prefix selection becomes a scan-side local sort, no window
    *     shuffle); vocabularies past [[PrefixBroadcastVocab]] fall
    *     back to the window formulation;
    *  4. docs too short to own q·k+1 grams index their whole multiset
    *     (against a long doc the pigeonhole is one-sided, t =
    *     n_long − q·k ≥ 1, and may need every short-side elem);
    *     short×short pairs, where the bound is vacuous on both sides,
    *     fall back to a per-language banded join;
    *
    * Both paths verify candidates with the banded O(k·n) levenshtein
    * (threshold form — returns -1 past k), plus lang and ±k length
    * filters. The oracle is the definitional all-pairs filter, so any
    * candidate-accounting error (a missed pair) hash-fails the gate.
    */
  def editDistancePairs(docs: DataFrame, k: Int = EditK, q: Int = EditQ,
      maxBroadcastVocab: Long = PrefixBroadcastVocab,
      maxBandedPairsPerDoc: Long = EditBandedPairsPerDoc): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val prefixLen = q * k + 1
    val all = docs.select(col("doc_id").cast(LongType).as("doc_id"),
      col("lang"), col("text"), length(col("text")).as("len"))
    // Exact-duplicate collapse FIRST: a real corpus at this stage of a
    // pipeline is duplicate-heavy (the ScaleUp stress shape is 90%
    // exact copies), and every copy of a text has identical grams,
    // prefixes, and distances — running candidate generation over
    // copies multiplies join work by the squared copy count for zero
    // information. One linear (lang, text)-keyed shuffle nominates
    // min(doc_id) as each distinct text's representative; the ED
    // machinery below then runs on distinct texts only, and doc-level
    // pairs are recovered at the end by joining members back in:
    // within-group pairs are ed=0 by definition, cross-group pairs
    // inherit the verified rep-pair distance (levenshtein is a
    // function of the texts, not the ids).
    val wg = Window.partitionBy(col("lang"), col("text"))
    val members = all.withColumn("rep_id", min(col("doc_id")).over(wg))
      .localCheckpoint()
    val reps = members.where(col("doc_id") === col("rep_id"))
      .select("doc_id", "lang", "text", "len")
    // the candidate paths below are shuffle-free, so they inherit the
    // collapse's partitioning — spread a small corpus across the
    // cluster first or the posting-join probes run on one core; at
    // scale the shuffle is already ≥ this wide and the branch is a
    // no-op
    val parts = spark.sessionState.conf.numShufflePartitions
    val base = (if (reps.rdd.getNumPartitions < parts) reps.repartition(parts)
      else reps).localCheckpoint()
    val banded = base.withColumn("band", floor(col("len") / k).cast(LongType))

    // strategy probe: the (lang, band) histogram is vocabulary-sized
    // (langs × length range / k rows), so the collect is bounded; a
    // histogram past the cap can only mean a corpus where banding is
    // hopeless anyway
    val histCap = 100000
    val hist = banded.groupBy(col("lang"), col("band"))
      .agg(count(lit(1)).as("n")).limit(histCap + 1).collect()
    val bandedPairsEst: Option[Long] =
      if (hist.length > histCap) None
      else {
        val m = hist.map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
        Some(m.iterator.map { case ((lang, band), n) =>
          n * (n - 1) / 2 + n * m.getOrElse((lang, band + 1), 0L)
        }.sum)
      }
    val nDocs = hist.map(_.getLong(2)).sum

    def bandedCands(in: DataFrame): DataFrame = {
      val l = in.select(col("doc_id"), col("lang"), col("len"), col("band"))
      val same = l.as("a").join(l.as("b"),
          col("a.lang") === col("b.lang") && col("a.band") === col("b.band") &&
            col("a.doc_id") < col("b.doc_id") &&
            abs(col("a.len") - col("b.len")) <= k)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      val next = l.as("a").join(l.as("b"),
          col("a.lang") === col("b.lang") && col("a.band") + 1 === col("b.band") &&
            abs(col("a.len") - col("b.len")) <= k)
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      // disjoint band combinations — each unordered pair appears once,
      // no distinct shuffle needed
      same.unionAll(next)
    }

    val cands: DataFrame = if (bandedPairsEst.exists(_ <= maxBandedPairsPerDoc * nDocs)) {
      bandedCands(banded)
    } else {
      // one compact (doc, lang, len, elems) row per doc — the multiset
      // stays an array until the (tiny) prefix is selected, so nothing
      // corpus-sized is exploded through a shuffle
      val elemArr = banded.select(col("doc_id"), col("lang"), col("len"), col("text"))
        .as[(Long, String, Int, String)]
        .map { case (id, lang, len, text) => (id, lang, len, edGramElems(text, q)) }
        .toDF("doc_id", "lang", "len", "elems").localCheckpoint()
      val freq = elemArr.select(explode(col("elems")).as("elem"))
        .groupBy("elem").agg(count(lit(1)).as("f"))
      // vocabulary probe, driver-bounded (same idiom as prefixRows)
      val probe = freq.limit((maxBroadcastVocab + 1).toInt).collect()
      val prefixes =
        if (probe.length <= maxBroadcastVocab) {
          val fMap = spark.sparkContext.broadcast(
            probe.map(r => r.getLong(0) -> r.getLong(1)).toMap)
          elemArr.as[(Long, String, Int, Array[Long])]
            .flatMap { case (id, lang, len, elems) =>
              if (elems.length <= prefixLen) {
                elems.iterator.map(e => (e, id, lang, len))
              } else {
                val m = fMap.value
                elems.map(e => (m(e), e)).sortBy(identity)
                  .take(prefixLen).iterator.map { case (_, e) => (e, id, lang, len) }
              }
            }.toDF("elem", "doc_id", "lang", "len")
        } else {
          val sh = elemArr
            .select(col("doc_id"), col("lang"), col("len"),
              explode(col("elems")).as("elem"))
          sh.join(freq, "elem")
            .withColumn("rk", row_number().over(
              Window.partitionBy(col("doc_id")).orderBy(col("f"), col("elem"))))
            .filter(col("rk") <= prefixLen)
            .select(col("elem"), col("doc_id"), col("lang"), col("len"))
        }
      val candPrefix = prefixes.as("x").join(prefixes.as("y"),
          col("x.elem") === col("y.elem") && col("x.lang") === col("y.lang") &&
            col("x.doc_id") < col("y.doc_id") &&
            abs(col("x.len") - col("y.len")) <= k)
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      // short×short fallback: the pigeonhole bound is vacuous on both
      // sides, so band-join the sub-prefixLen slice of the corpus
      val candShort = bandedCands(
        banded.filter(col("len") - (q - 1) < prefixLen))
      candPrefix.unionAll(candShort).distinct()
    }
    val repPairs = cands
      .join(base.select(col("doc_id").as("doc_a"), col("lang").as("lang_a"),
        col("text").as("text_a"), col("len").as("len_a")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
        col("text").as("text_b"), col("len").as("len_b")), "doc_b")
      .filter(col("lang_a") === col("lang_b") &&
        abs(col("len_a") - col("len_b")) <= k)
      .withColumn("ed", levenshtein(col("text_a"), col("text_b"), k))
      .filter(col("ed").between(0, k))
      .select(col("doc_a"), col("doc_b"), col("ed").cast(IntegerType).as("ed"))
    // expand rep-level pairs back to doc-level pairs (see collapse
    // note above); the output is inherently all-pairs within a
    // duplicate group — that quadratic lives in the ANSWER, not the
    // join work, and both joins here are equi-joins on rep ids
    val mem = members.select(col("rep_id"), col("doc_id"))
    val withinPairs = mem.as("a").join(mem.as("b"),
        col("a.rep_id") === col("b.rep_id") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        lit(0).cast(IntegerType).as("ed"))
    val crossPairs = repPairs
      .join(mem.select(col("rep_id").as("doc_a"), col("doc_id").as("da")), "doc_a")
      .join(mem.select(col("rep_id").as("doc_b"), col("doc_id").as("db")), "doc_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("ed"))
    withinPairs.unionAll(crossPairs).orderBy("doc_a", "doc_b")
  }

  def dedupEditDistance(spark: SparkSession, dir: String): DataFrame =
    editDistancePairs(Tables.documents(spark, dir))

  val dedupEditDistanceSql: String = s"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      CAST(levenshtein(a.text, b.text) AS INT) AS ed
    FROM documents a JOIN documents b
      ON a.doc_id < b.doc_id AND a.lang = b.lang
     AND abs(length(a.text) - length(b.text)) <= $EditK
    WHERE levenshtein(a.text, b.text) <= $EditK
    ORDER BY doc_a, doc_b"""

  /** Window width (whitespace tokens) for [[substringExactSpans]]. */
  val SpanK = 8

  /** (doc_id, pos, g): one row per position-indexed k-token shingle,
    * pos 1-based. Same JIT'd sliding-window flatMap as
    * [[TextAnalysis.shingleRows]] (higher-order column functions
    * measured ~30× slower on this hot path); docs shorter than k
    * yield nothing, mirroring the oracle's generate_series bound.
    */
  def spanShingles(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast(LongType), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val w = text.split(" ", -1)
        if (w.length < k) Iterator.empty
        else w.iterator.sliding(k).withPartial(false).zipWithIndex
          .map { case (g, i) => (id, (i + 1).toLong, g.mkString(" ")) }
      }.toDF("doc_id", "pos", "g")
  }

  /** Exact duplicated-span dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the EXACTSUBSTR
    * policy, re-expressed relationally at word-token granularity):
    * every maximal token span whose every k-token window occurs ≥ 2
    * times in the corpus (any document, any position — intra-document
    * repeats count, as in the paper), reported per document with
    * 1-based inclusive token bounds. A position p is duplicated iff
    * its k-shingle has corpus frequency ≥ 2; a maximal run of
    * consecutive duplicated starts p₁..p₂ is the span [p₁, p₂+k−1] of
    * p₂−p₁+k tokens — exactly the windows a suffix-array EXACTSUBSTR
    * pass marks for removal at fixed k.
    *
    * Scale shape (the paper's suffix array is a single-node
    * construct): position-indexed shingles → one map-side-combined
    * frequency aggregation (shuffle carries DISTINCT shingles) → one
    * inverted-index join back to positions (shuffle on the shingle
    * key, never all-pairs) → per-document gaps-and-islands window
    * (doc-id partitioning: corpus-wide parallelism). Everything is
    * linear in corpus token count.
    */
  def substringExactSpans(docs: DataFrame, k: Int = SpanK): DataFrame = {
    val (members, reps) = collapseByText(docs)
    substringExactSpansCollapsed(members, reps, k)
  }

  /** The family's exact-duplicate collapse applied to span dedup:
    * shingles come from DISTINCT texts only, a window's corpus
    * frequency is Σ over reps of (occurrences in the rep) × (copies
    * of the rep) — exactly the uncollapsed count — and rep spans
    * expand to members by one equi-join (identical text ⇒ identical
    * positions ⇒ identical spans). On the ×100 ScaleUp corpus
    * (~99% duplicated text) this shrinks the shingle index from all
    * ~250M token positions to the ~2.5M distinct-text ones; the
    * oracle stays the uncollapsed brute force, so the gate pins the
    * collapse exact.
    */
  private def substringExactSpansCollapsed(members: DataFrame, reps: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // two consumers (frequency agg + position join) — checkpoint so
    // the tokenizing flatMap runs once
    val sh = spanShingles(reps, k).localCheckpoint()
    val copies = members.groupBy("rep_id").agg(count(lit(1)).as("copies"))
    val dup = sh.groupBy("doc_id", "g").agg(count(lit(1)).as("occ"))
      .join(copies.select(col("rep_id").as("doc_id"), col("copies")), "doc_id")
      .groupBy("g").agg(sum(col("occ") * col("copies")).as("cnt"))
      .where(col("cnt") >= 2).select("g")
    val dp = sh.join(dup, "g").select("doc_id", "pos")
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val repSpans = dp.withColumn("grp", col("pos") - row_number().over(wd))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(k.toLong - 1)).as("span_end"),
        (max("pos") - min("pos") + lit(k.toLong)).as("n_tokens"))
      .select(col("doc_id").as("rep_id"), col("span_start"),
        col("span_end"), col("n_tokens"))
    members.join(repSpans, "rep_id")
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_tokens"))
      .orderBy("doc_id", "span_start")
  }

  def dedupSubstringExact(spark: SparkSession, dir: String): DataFrame = {
    val c = collapsedFor(spark, dir)
    substringExactSpansCollapsed(c.members, c.reps, SpanK)
  }

  /** Parameterized oracle (the fuzz family draws k): brute-force
    * position-indexed shingles + frequency filter + gaps-and-islands,
    * the same contract spelled in DuckDB list primitives.
    */
  def dedupSubstringExactSqlAt(k: Int): String = s"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(w[i:i+${k - 1}], ' ') AS g
           FROM (SELECT doc_id, w,
                   unnest(generate_series(1, greatest(len(w) - ${k - 1}, 0))) AS i
                 FROM w)),
    dup AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) >= 2),
    dp AS (SELECT doc_id, pos FROM sh JOIN dup USING (g)),
    isl AS (SELECT doc_id, pos,
              pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
            FROM dp)
    SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
      CAST(MAX(pos) + ${k - 1} AS BIGINT) AS span_end,
      CAST(MAX(pos) - MIN(pos) + $k AS BIGINT) AS n_tokens
    FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start"""

  val dedupSubstringExactSql: String = dedupSubstringExactSqlAt(SpanK)

  def ops: Seq[Op] = Seq(
    Op("dedup_substring_exact", dedupSubstringExact, Some(dedupSubstringExactSql)),
    Op("dedup_exact", dedupExact, Some(dedupExactSql)),
    Op("dedup_edit_distance", dedupEditDistance, Some(dedupEditDistanceSql)),
    Op("dedup_pipeline", dedupPipeline, Some(dedupPipelineSql)),
    Op("dedup_ngram_jaccard", dedupNgramJaccard, Some(dedupNgramJaccardSql)),
    Op("dedup_minhash_lsh", dedupMinhashLsh, Some(dedupNgramJaccardSql)),
    Op("dedup_simhash", dedupSimhash, Some(dedupSimhashSql)),
    Op("dedup_containment", dedupContainment, Some(dedupContainmentSql)),
    Op("dedup_cluster", dedupCluster, Some(dedupClusterSql)),
    Op("dedup_embedding", dedupEmbedding, Some(dedupEmbeddingSql)),
  )
}
