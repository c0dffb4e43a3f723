package graft

import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {

  test("langid accuracy ≥ 0.9 against the labeled corpus") {
    val out = TextAnalysis.textLangid(spark, sfDir)
    val n = out.count().toDouble
    val correct = out.where(col("pred_lang") === col("lang")).count().toDouble
    assert(correct / n >= 0.9, s"accuracy ${correct / n}")
  }

  test("chunk_overlap: geometry, coverage, and no-contained-tail rule") {
    val out = TextAnalysis.textChunkOverlap(spark, sfDir).localCheckpoint()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
    // every doc chunked; chunks jointly cover exactly [0, n)
    val cover = out.groupBy("doc_id").agg(
      max(col("start_tok") + col("n_tokens")).as("covered"),
      min("start_tok").as("first"),
      count(lit(1)).as("n_chunks"))
      .join(docs, "doc_id")
    assert(cover.count() === docs.count())
    assert(cover.where(col("covered") =!= col("n") || col("first") =!= 0).count() === 0)
    // starts advance by exactly the stride; short docs are one chunk
    val byStride = out.withColumn("prev",
      lag("start_tok", 1).over(org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("chunk_id")))
    assert(byStride.where(col("prev").isNotNull &&
      col("start_tok") - col("prev") =!= TextAnalysis.ChunkStride).count() === 0)
    assert(cover.where(col("n") <= TextAnalysis.ChunkLen && col("n_chunks") =!= 1)
      .count() === 0)
    // the tail rule: every non-first chunk contributes > overlap tokens
    val ov = TextAnalysis.ChunkLen - TextAnalysis.ChunkStride
    assert(out.where(col("chunk_id") > 0 && col("n_tokens") <= ov).count() === 0)
    // chunk_text round-trips its token slice
    val bad = out.where(size(split(col("chunk_text"), " ")) =!= col("n_tokens"))
    assert(bad.count() === 0)
  }

  test("token counts and quality features on a pinned document") {
    val s = spark
    import s.implicits._
    val docs = Seq((7L, "the cat sat on a mat!", "en", "src0", 21L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    // ws tokens: the|cat|sat|on|a|mat! = 6; regex tokens: 6 words + '!' = 7
    val t = docs.select(
      size(split(col("text"), " ")).as("ws"),
      regexp_count(col("text"), lit(TextAnalysis.TokenPattern)).as("bpe")).head()
    assert(t.getInt(0) === 6 && t.getInt(1) === 7)
  }

  test("textQuality pinned values") {
    val s = spark
    import s.implicits._
    val docs = Seq((7L, "the cat sat on a mat!", "en", "src0", 21L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // char_len=21, ws_tokens=6, stop=('the','a')=2, punct=('!')=1
    val q = withFakeTable(docs) { dir => TextAnalysis.textQuality(spark, dir) }.head
    assert(q.getLong(1) === 21L)
    assert(q.getLong(2) === 6L)
    assert(q.getDouble(3) === math.rint(2.0 / 6.0 * 1e6) / 1e6) // stop_ratio ≈ 0.333333
    assert(q.getDouble(4) === math.rint(1.0 / 21.0 * 1e6) / 1e6) // punct_ratio
  }

  test("textFingerprint is the md5 of the text") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "abc", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val fp = withFakeTable(docs) { dir => TextAnalysis.textFingerprint(spark, dir) }.head
    assert(fp.getString(1) === "900150983cd24fb0d6963f7d28e17f72")
    assert(fp.getLong(2) === 0L)
  }

  test("winnowing: shared substrings of length ≥ W+K-1 share a fingerprint") {
    val s = spark
    import s.implicits._
    val shared = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (1L, s"prefix one $shared suffix alpha"),
      (2L, s"completely different lead-in $shared and another tail"),
      (3L, "no overlap here at all just other words entirely")
    ).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(docs).collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(2)).toSet }
    assert((fps(1L) & fps(2L)).nonEmpty) // winnowing guarantee
    assert((fps(1L) & fps(3L)).isEmpty)
    // determinism: same doc → same fingerprint set
    val again = TextAnalysis.winnowFingerprints(docs).collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(2)).toSet }
    assert(again === fps)
  }

  test("textDecontaminate flags docs sharing an 8-gram with the benchmark split") {
    val s = spark
    import s.implicits._
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val leaked = "intro words then alpha beta gamma delta epsilon zeta eta theta more tail"
    val clean = "one two three four five six seven eight nine ten eleven twelve"
    // doc_id 3 is in the benchmark split (3 % 25 == 3); 4 and 5 are corpus docs.
    val docs = Seq(
      (3L, benchText, "en", "s", benchText.length.toLong),
      (4L, leaked, "en", "s", leaked.length.toLong),
      (5L, clean, "en", "s", clean.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = withFakeTable(docs)(d => TextAnalysis.textDecontaminate(spark, d))
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(out.keySet === Set(4L, 5L)) // benchmark doc excluded from output
    // leaked doc shares exactly one 8-gram window: alpha..theta
    assert(out(4L) === ((1L, 1L, 1)))
    assert(out(5L) === ((0L, 0L, 0)))
  }

  test("textCompressRatio orders repetitive below diverse text, deterministic") {
    val s = spark
    import s.implicits._
    val repetitive = Array.fill(200)("spam").mkString(" ")
    val diverse = (1 to 200).map(i => s"w${i * 7919}x${i * 104729}").mkString(" ")
    val docs = Seq(
      (1L, repetitive, "en", "s", repetitive.length.toLong),
      (2L, diverse, "en", "s", diverse.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = withFakeTable(docs)(d => TextAnalysis.textCompressRatio(spark, d))
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L)._1 === repetitive.length.toLong)
    assert(out(1L)._3 < 0.1)             // pure repetition crushes
    assert(out(2L)._3 > out(1L)._3 * 3)  // diverse text compresses far less
    out.values.foreach { case (raw, comp, r) =>
      assert(comp > 0L && comp <= raw + 64)
      assert(r > 0.0 && r === math.rint(comp.toDouble / raw * 1e6) / 1e6)
    }
    // corpus run is deterministic across invocations
    val a = TextAnalysis.textCompressRatio(spark, sfDir).collect().toSeq
    val b = TextAnalysis.textCompressRatio(spark, sfDir).collect().toSeq
    assert(a === b && a.nonEmpty)
  }

  /** Writes `docs` as a documents table in a temp sf dir and runs `f`. */
  private def withFakeTable(docs: org.apache.spark.sql.DataFrame)(
      f: String => org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] = {
    val dir = tempDir("graft-docs").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    f(dir).collect()
  }

  test("textTfidf: top-3 per language, positive scores, terms from the corpus") {
    val out = TextAnalysis.textTfidf(spark, sfDir).collect()
    val langs = Tables.documents(spark, sfDir).select("lang").distinct().count()
    assert(out.length === 3 * langs)
    val byLang = out.groupBy(_.getString(0))
    byLang.foreach { case (_, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq === Seq(1L, 2L, 3L))
      // scores non-increasing in rank
      val byRank = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
      assert(byRank.forall(_ > 0.0))
    }
  }

  test("textNgrams: top-5 per language, counts consistent and non-increasing") {
    val out = TextAnalysis.textNgrams(spark, sfDir).collect()
    val langs = Tables.documents(spark, sfDir).select("lang").distinct().count()
    assert(out.length === 5 * langs)
    out.groupBy(_.getString(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq === (1L to 5L))
      val byRank = rows.sortBy(_.getLong(1))
      val counts = byRank.map(_.getLong(3))
      assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
      // doc frequency can never exceed occurrence count
      assert(byRank.forall(r => r.getLong(4) <= r.getLong(3) && r.getLong(4) >= 1L))
    }
  }

  test("textPerplexity: repetitive text scores lower nll than unique-word text") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, Seq.fill(40)("x y").mkString(" ")),            // one dominant bigram
      (1L, (1 to 80).map(i => s"u$i").mkString(" ")),     // every bigram unique
      (2L, Seq.fill(40)("x y").mkString(" "))
    ).toDF("doc_id", "text")
    val out = withFakeTable(docs) { dir => TextAnalysis.textPerplexity(spark, dir) }
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(0L)._1 === 79L) // 80 words -> 79 bigrams
    assert(out(0L)._2 < out(1L)._2)
    assert(out(0L) === out(2L)) // identical docs, identical score
  }

  test("textVocab: ranks by count desc then word, fractions sum to ≤ 1") {
    val out = TextAnalysis.textVocab(spark, sfDir).collect()
    assert(out.nonEmpty && out.length <= TextAnalysis.VocabTopK)
    val ns = out.map(_.getLong(2))
    assert(ns.sameElements(ns.sorted(Ordering[Long].reverse)))
    // each frac is rounded to 6 dp (±5e-7); with the whole vocabulary
    // inside top-k the rounded sum can exceed 1 by ≤ n·5e-7
    assert(out.map(_.getDouble(4)).sum <= 1.0 + out.length * 5e-7)
    // ranks are 1..n dense
    assert(out.map(_.getLong(0)).toSeq === (1L to out.length).toSeq)
  }

  test("repetitionScored: repetitive doc scores high, diverse doc scores 0") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, Seq.fill(50)("spam").mkString(" ")),          // one word repeated
      (1L, (1 to 50).map(i => s"w$i").mkString(" ")),    // all distinct
      (2L, "a b a b a b a b")                            // alternating pair
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionScored(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(0L).getDouble(4) === 1.0)      // top_word_frac
    assert(r(0L).getDouble(5) > 0.9)        // dup bigrams dominate
    assert(r(1L).getDouble(5) === 0.0)      // every bigram unique
    assert(r(1L).getDouble(4) === 0.02)     // 1/50
    assert(r(2L).getLong(1) === 8L && r(2L).getLong(2) === 2L)
    assert(r(2L).getDouble(5) === 0.714286) // 7 bigrams, 2 distinct
  }

  test("substrDupPairs finds a copied passage, ignores unrelated docs") {
    val s = spark
    import s.implicits._
    val passage = "the forty two secrets of highly effective graph engines"
    val docs = Seq(
      (0L, s"intro words here $passage and some trailing content too"),
      (1L, s"totally different opening but $passage appears verbatim"),
      (2L, "nothing in common with anything else whatsoever right here"),
      (3L, "another unrelated string of words that shares no long span")
    ).toDF("doc_id", "text")
    val pairs = TextAnalysis.substrDupPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((0L, 1L)))
    assert(pairs((0L, 1L)) >= 2L) // a 55-char shared span yields many windows
    assert(!pairs.keySet.exists { case (a, b) => a >= 2L || b >= 2L })
  }

  test("bpeMerges: planted merges, greedy non-overlap, lexicographic ties, determinism") {
    val s = spark
    import s.implicits._
    // vocab: aa ×3, aaa ×1. Round 1 pairs: (a,a) = 3·1 + 1·2 = 5 beats
    // (a,</w>) = 4 → merge 'aa'. Greedy NON-overlap re-segmentation of
    // 'aaa' = [a,a,a,</w>] must give [aa, a, </w>] (leftmost pair
    // merges, the overlapping middle pair does not).
    // Round 2 pairs: (aa,</w>) = 3, (aa,a) = 1, (a,</w>) = 1 → 'aa</w>'.
    val docs = Seq((0L, "aa aa aa"), (1L, "aaa")).toDF("doc_id", "text")
    val m = TextAnalysis.bpeMerges(docs, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(m.toSeq === Seq(
      (1L, "a", "a", "aa", 5L),
      (2L, "aa", "</w>", "aa</w>", 3L)))
    // tie-break: (a,b) and (b,</w>) both count 2 → lexicographic min
    val tie = Seq((0L, "ab ab")).toDF("doc_id", "text")
    val t = TextAnalysis.bpeMerges(tie, rounds = 1).head()
    assert((t.getString(1), t.getString(2), t.getLong(4)) === (("a", "b", 2L)))
    // deterministic: re-run bit-identical
    assert(TextAnalysis.bpeMerges(docs, rounds = 2).collect().toSeq
      === TextAnalysis.bpeMerges(docs, rounds = 2).collect().toSeq)
    // the trained segmentation the encoder joins against: after
    // (a,a)→aa then (aa,</w>)→aa</w>, 'aa' is ONE symbol and 'aaa'
    // stays [aa, a, </w>] (round 2's pair never occurs in it)
    val seg = TextAnalysis.bpeTrain(docs, rounds = 2).seg.collect()
      .map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(seg("aa") === Seq("aa</w>"))
    assert(seg("aaa") === Seq("aa", "a", "</w>"))
  }

  test("bpeMerges: early stop when the vocabulary exhausts mergeable pairs") {
    val s = spark
    import s.implicits._
    // vocab: a ×2, b ×1 — both fully merge to one symbol in 2 rounds
    // (round 1: (a,</w>) count 2; round 2: (b,</w>) count 1). Round 3's
    // pair frame is EMPTY: asking for 6 rounds must return the 2 merges
    // learned (Sennrich-style early stop), not throw, and the trained
    // segmentation must carry forward unchanged through the stop.
    val docs = Seq((0L, "a b a")).toDF("doc_id", "text")
    val st = TextAnalysis.bpeTrain(docs, rounds = 6)
    val m = st.merges.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(m.toSeq === Seq(
      (1L, "a", "</w>", "a</w>", 2L),
      (2L, "b", "</w>", "b</w>", 1L)))
    val seg = st.seg.collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(seg("a") === Seq("a</w>"))
    assert(seg("b") === Seq("b</w>"))
  }

  test("bpeTrainBatched: batch=1 degenerates to the sequential trainer exactly") {
    val docs = Tables.documents(spark, sfDir).limit(40)
    val seqSt = TextAnalysis.bpeTrain(docs, rounds = 4)
    val batSt = TextAnalysis.bpeTrainBatched(docs, rounds = 4, batch = 1)
    assert(batSt.merges.collect().map(_.toSeq).toSeq
      === seqSt.merges.collect().map(_.toSeq).toSeq)
    assert(batSt.seg.orderBy("w").collect().map(_.toSeq).toSeq
      === seqSt.seg.orderBy("w").collect().map(_.toSeq).toSeq)
  }

  test("bpeTrainBatched: non-conflicting batch equals sequential; exhaustion early-stops") {
    val s = spark
    import s.implicits._
    // Counts engineered so each selected pair dominates every pair a
    // prior merge in the pass can create: (a,b)=16 > (c,d)=12 >
    // (e,f)=10 > all context pairs (≤ 8) — the regime where batched
    // training provably equals sequential (symbols disjoint, created
    // pairs never outrank the remaining selections).
    val docs = Seq(
      Seq.fill(8)("abx"), Seq.fill(8)("aby"),
      Seq.fill(6)("cdp"), Seq.fill(6)("cdq"),
      Seq.fill(5)("efm"), Seq.fill(5)("efn")
    ).flatten.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val seqM = TextAnalysis.bpeTrain(docs, rounds = 3).merges.collect().map(_.toSeq).toSeq
    val batM = TextAnalysis.bpeTrainBatched(docs, rounds = 3, batch = 3)
      .merges.collect().map(_.toSeq).toSeq
    assert(batM === seqM)
    assert(batM.map(r => (r(1), r(2), r(4))) ===
      Seq(("a", "b", 16L), ("c", "d", 12L), ("e", "f", 10L)))
    // exhaustion: every word fully merges before the budget (the two
    // (x,</w>) merges conflict within a pass, so they land in
    // consecutive passes — then nothing remains)
    val tiny = Seq((0L, "a b a")).toDF("doc_id", "text")
    val m = TextAnalysis.bpeTrainBatched(tiny, rounds = 6, batch = 4)
      .merges.collect().map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    assert(m.toSeq === Seq(("a", "</w>", 2L), ("b", "</w>", 1L)))
  }

  test("piiScrubbed: plants are counted and redacted, clean text untouched") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "mail me at jane.doe+x@example.co.uk or bob@site.org today"),
      (1L, "server 10.0.255.3 called 555-123-4567 with id 123456789012"),
      (2L, "no personal data in this row at all")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.piiScrubbed(docs).collect().map(x => x.getLong(0) -> x).toMap
    assert(r(0L).getLong(1) === 2L)                      // two emails
    assert(r(1L).getLong(2) === 1L && r(1L).getLong(3) === 1L && r(1L).getLong(4) === 1L)
    // scrubbed fingerprint matches the expected redacted strings
    def md5of(t: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r(0L).getString(5) === md5of("mail me at <EMAIL> or <EMAIL> today"))
    assert(r(1L).getString(5) === md5of("server <IP> called <PHONE> with id <NUM>"))
    assert(r(2L).getString(5) === md5of("no personal data in this row at all"))
  }

  test("textPackSequences: per-stream prefix sums chunk exactly into 2048-token sequences") {
    val out = TextAnalysis.textPackSequences(spark, sfDir).collect()
    assert(out.nonEmpty)
    val L = TextAnalysis.PackSeqLen
    out.groupBy(_.getString(1)).foreach { case (lang, rows) =>
      val ordered = rows.sortBy(_.getLong(0))
      // spans tile the stream: each doc starts where the previous ended
      var expectStart = 0L
      ordered.foreach { r =>
        val (n, start, sf, sl, ns) =
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
        assert(start === expectStart, s"$lang doc ${r.getLong(0)}")
        assert(sf === start / L)
        assert(sl === (start + n - 1) / L)
        assert(ns === sl - sf + 1 && ns >= 1)
        expectStart = start + n
      }
      // every sequence id up to the last is covered by some doc (the
      // packed stream has no holes)
      val lastSeq = ordered.last.getLong(5)
      val covered = ordered.flatMap(r => r.getLong(4) to r.getLong(5)).toSet
      assert((0L to lastSeq).forall(covered), s"$lang has uncovered sequences")
    }
  }

  test("text_readability: counts match a local regex recompute; band follows the score") {
    val out = TextAnalysis.textReadability(spark, sfDir).collect()
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.length === texts.size)
    val vg = "[aeiouy]+".r
    val sp = "[.!?]+".r
    out.foreach { r =>
      val t = texts(r.getLong(0))
      val words = math.max(t.split(" ", -1).length, 1)
      val syll = vg.findAllIn(t).size
      val sent = math.max(sp.findAllIn(t).size, 1)
      assert(r.getLong(1) === words.toLong)
      assert(r.getLong(2) === syll.toLong)
      assert(r.getLong(3) === sent.toLong)
      val flesch = 206.835 - 1.015 * (words.toDouble / sent) - 84.6 * (syll.toDouble / words)
      assert(math.abs(r.getDouble(4) - flesch) < 5e-4)
      val band =
        if (flesch >= 70.0) "easy" else if (flesch >= 50.0) "medium" else "hard"
      assert(r.getString(5) === band, s"doc ${r.getLong(0)}: $flesch -> ${r.getString(5)}")
    }
    // the corpus spreads across at least two bands (the score varies)
    assert(out.map(_.getString(5)).distinct.length >= 2 ||
      out.map(_.getDouble(4)).distinct.length > 10)
  }

  test("text_zipf: slope matches a local least-squares fit and is negative") {
    val out = TextAnalysis.textZipf(spark, sfDir).collect()
    assert(out.nonEmpty)
    val toks = Tables.documents(spark, sfDir).select("lang", "text").collect()
      .flatMap(r => r.getString(1).split(" ", -1).map(r.getString(0) -> _))
    val byLang = toks.groupBy(_._1)
    out.foreach { r =>
      val lang = r.getString(0)
      val counts = byLang(lang).groupBy(_._2).map { case (t, v) => t -> v.size.toLong }
      val top = counts.toSeq.sortBy { case (t, c) => (-c, t) }
        .take(TextAnalysis.ZipfTopN).map(_._2)
      assert(r.getLong(1) === top.length.toLong)
      val xs = top.indices.map(i => math.log(i + 1.0))
      val ys = top.map(c => math.log(c.toDouble))
      val n = top.length.toDouble
      val (sx, sy) = (xs.sum, ys.sum)
      val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
      val sxx = xs.map(a => a * a).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      assert(math.abs(r.getDouble(2) - slope) < 1e-4,
        s"$lang slope ${r.getDouble(2)} vs $slope")
      assert(r.getDouble(2) < 0.0, s"$lang slope should be negative")
      val intercept = (sy - slope * sx) / n
      assert(math.abs(r.getDouble(3) - intercept) < 1e-3)
    }
  }

  test("text_collocations: counts match a local bigram recount; PMI identity holds") {
    val out = TextAnalysis.textCollocations(spark, sfDir).collect()
    assert(out.nonEmpty)
    val toks = Tables.documents(spark, sfDir).select("text").collect()
      .map(_.getString(0).split(" ", -1).toSeq)
    val uni = toks.flatten.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val nTok = toks.map(_.size).sum.toLong
    val nBi = toks.filter(_.size >= 2).map(_.size - 1L).sum
    val bi = toks.filter(_.size >= 2).flatMap(w => w.zip(w.tail))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= TextAnalysis.CollocMinCount)
    assert(out.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap === bi)
    out.foreach { r =>
      val (w1, w2) = (r.getString(0), r.getString(1))
      val (n, c1, c2) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(c1 === uni(w1) && c2 === uni(w2))
      val pmi = math.log(n.toDouble * nTok * nTok / (nBi.toDouble * c1 * c2))
      assert(math.abs(r.getDouble(5) - pmi) < 1e-5, s"($w1,$w2): ${r.getDouble(5)} vs $pmi")
    }
  }
}
