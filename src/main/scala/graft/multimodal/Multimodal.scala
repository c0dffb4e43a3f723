package graft.multimodal

import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: treat media as opaque `binary` payload
  * columns with typed metadata, processed in partition-batched
  * iterators (`mapPartitions`) — the shape a real decoder plugs into.
  *
  * The decode step itself is a STUB: no image/audio codec libraries
  * exist in this environment, so "decoding" derives deterministic
  * pseudo-metadata (magic bytes, stub width/height) from the payload.
  * Payloads are the documents' UTF-8 bytes — a deterministic stand-in
  * that exercises the real binary-column path end-to-end (schema,
  * partitioning, batch iteration, hashing) and stays oracle-checkable.
  * The corpus is ASCII, so the oracle's char-indexed `substring` is
  * byte-exact.
  */
object Multimodal {

  /** Frame sampling: 64-byte "frames", every 4th one. */
  val FrameBytes = 64
  val FrameStride = 4

  /** (doc_id, payload binary): the opaque media column. */
  def withPayload(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast(LongType).as("doc_id"),
      col("text").cast(BinaryType).as("payload"))

  /** Decode metadata per payload: byte length, 4-byte magic, stub
    * dimensions. Runs as a partition-batch iterator over the binary
    * column — swap the body for a real codec to get image decode.
    */
  def decodeMeta(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    withPayload(docs).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val len = bytes.length.toLong
          val magic = bytes.take(4).map(b => f"$b%02X").mkString
          (id, len, magic, 64L + len % 512L, 64L + (len * 7L) % 512L)
        }
      }.toDF("doc_id", "byte_len", "magic_hex", "width", "height")
      .orderBy("doc_id")
  }

  def mmDecodeMeta(spark: SparkSession, dir: String): DataFrame =
    decodeMeta(Tables.documents(spark, dir))

  val mmDecodeMetaSql: String = """
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      hex(encode(substring(text, 1, 4))) AS magic_hex,
      CAST(64 + octet_length(encode(text)) % 512 AS BIGINT) AS width,
      CAST(64 + (octet_length(encode(text)) * 7) % 512 AS BIGINT) AS height
    FROM documents ORDER BY doc_id"""

  /** Sample every `FrameStride`-th full `FrameBytes` block of each
    * payload ("frame extraction"): one row per sampled frame with a
    * content hash. Same partition-batch iterator shape as decodeMeta.
    */
  def frameSample(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    withPayload(docs).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, bytes) =>
          Iterator.from(0, FrameStride)
            .takeWhile(b => (b + 1) * FrameBytes <= bytes.length)
            .map { b =>
              val off = b * FrameBytes
              md.reset()
              val digest = md.digest(java.util.Arrays.copyOfRange(bytes, off, off + FrameBytes))
              (id, (b / FrameStride).toLong, off.toLong,
                digest.map(x => f"$x%02x").mkString)
            }
        }
      }.toDF("doc_id", "frame_idx", "byte_off", "frame_md5")
      .orderBy("doc_id", "frame_idx")
  }

  def mmFrameSample(spark: SparkSession, dir: String): DataFrame =
    frameSample(Tables.documents(spark, dir))

  val mmFrameSampleSql: String = s"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
      CAST(b // $FrameStride AS BIGINT) AS frame_idx,
      CAST(b * $FrameBytes AS BIGINT) AS byte_off,
      md5(substring(text, b * $FrameBytes + 1, $FrameBytes)) AS frame_md5
    FROM (SELECT doc_id, text,
            unnest(generate_series(0,
              CAST(octet_length(encode(text)) // $FrameBytes AS BIGINT) - 1,
              $FrameStride)) AS b
          FROM documents)
    ORDER BY doc_id, frame_idx"""

  /** Stub resize target: sample down to ≤ `ResizeTarget` bytes. */
  val ResizeTarget = 256

  /** Stub "resize": deterministic stride-downsample of the payload to
    * ≤ ResizeTarget bytes (stride = max(1, len/target)) + content hash
    * of the sampled bytes — the byte-exact stand-in for an image
    * resize kernel, same partition-batch shape a real one plugs into.
    */
  def resize(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // empty payloads are dropped (the oracle's position series is
    // empty for them) — a real decoder rejects zero-byte media too
    withPayload(docs).as[(Long, Array[Byte])]
      .filter(_._2.nonEmpty)
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bytes) =>
          val len = bytes.length
          val stride = math.max(1, len / ResizeTarget)
          val out = new java.io.ByteArrayOutputStream()
          var i = 0
          while (i < ResizeTarget && i * stride < len) {
            out.write(bytes(i * stride))
            i += 1
          }
          md.reset()
          (id, len.toLong, stride.toLong, i.toLong,
            md.digest(out.toByteArray).map(x => f"$x%02x").mkString)
        }
      }.toDF("doc_id", "in_len", "stride", "out_len", "resized_md5")
      .orderBy("doc_id")
  }

  def mmResize(spark: SparkSession, dir: String): DataFrame =
    resize(Tables.documents(spark, dir))

  val mmResizeSql: String = s"""
    WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS len,
                 greatest(1, octet_length(encode(text)) // $ResizeTarget) AS stride
               FROM documents),
    px AS (SELECT doc_id, len, stride, i,
             substring(text, i * stride + 1, 1) AS b
           FROM (SELECT doc_id, text, len, stride,
                   unnest(generate_series(0, $ResizeTarget - 1)) AS i
                 FROM d)
           WHERE i * stride < len)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
      CAST(ANY_VALUE(len) AS BIGINT) AS in_len,
      CAST(ANY_VALUE(stride) AS BIGINT) AS stride,
      CAST(COUNT(*) AS BIGINT) AS out_len,
      md5(string_agg(b, '' ORDER BY i)) AS resized_md5
    FROM px GROUP BY doc_id ORDER BY doc_id"""

  /** Stub feature extraction: byte-level statistics per payload (the
    * stand-in for an embedding/feature kernel). All-integer stats plus
    * a 4-dp-rounded mean keep it engine-exact.
    */
  def features(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // empty payloads dropped: no bytes → no statistics (and the
    // oracle's byte series is empty for them)
    withPayload(docs).as[(Long, Array[Byte])]
      .filter(_._2.nonEmpty)
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          var sum = 0L
          var mx = 0L
          val seen = new Array[Boolean](256)
          var distinct = 0
          bytes.foreach { b =>
            val v = b & 0xff
            sum += v
            if (v > mx) mx = v
            if (!seen(v)) { seen(v) = true; distinct += 1 }
          }
          (id, bytes.length.toLong, sum, distinct.toLong, mx)
        }
      }.toDF("doc_id", "n_bytes", "sum_bytes", "n_distinct_bytes", "max_byte")
      // mean via the same IEEE-754 long/long division + ROUND the
      // oracle performs — both engines round the identical double
      .select(col("doc_id"), col("n_bytes"),
        round(col("sum_bytes") / col("n_bytes"), 4).as("mean_byte"),
        col("n_distinct_bytes"), col("max_byte"))
      .orderBy("doc_id")
  }

  def mmFeatures(spark: SparkSession, dir: String): DataFrame =
    features(Tables.documents(spark, dir))

  val mmFeaturesSql: String = """
    WITH by AS (SELECT doc_id, ascii(substring(text, i, 1)) AS v
                FROM (SELECT doc_id, text,
                        unnest(generate_series(1, octet_length(encode(text)))) AS i
                      FROM documents))
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_bytes,
      ROUND(CAST(SUM(v) AS BIGINT) / COUNT(*), 4) + 0.0 AS mean_byte,
      CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct_bytes,
      CAST(MAX(v) AS BIGINT) AS max_byte
    FROM by GROUP BY doc_id ORDER BY doc_id"""

  /** Exact binary dedup manifest: group payloads by content md5, emit
    * one row per duplicate set with >1 copy (keeper = min doc_id) —
    * hash-based media dedup, the first pass of any image/video
    * pipeline. Unlike dedup_exact (normalized text), this hashes the
    * RAW bytes: one scan, one hash-keyed aggregation; at 100 TB the
    * md5 column is what gets shuffled, never the payloads.
    */
  def binaryDedup(docs: DataFrame): DataFrame =
    withPayload(docs)
      .select(col("doc_id"), md5(col("payload")).as("content_md5"),
        length(col("payload")).cast(LongType).as("byte_len"))
      .groupBy(col("content_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"),
        min(col("byte_len")).as("byte_len"))
      .where(col("n_copies") > 1)
      .select(col("keep_id"), col("n_copies"), col("byte_len"), col("content_md5"))
      .orderBy("keep_id")

  def mmDedup(spark: SparkSession, dir: String): DataFrame =
    binaryDedup(Tables.documents(spark, dir))

  val mmDedupSql: String = """
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
      CAST(MIN(octet_length(encode(text))) AS BIGINT) AS byte_len,
      md5(text) AS content_md5
    FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
    ORDER BY keep_id"""

  /** Hamming radius for perceptual-hash pairing (4×16 pigeonhole
    * blocks guarantee exact recall to 3).
    */
  val PhashMaxHamming = 3

  /** 64-bit perceptual hash (aHash shape) per payload + Hamming-block
    * near-dup pairs: each payload splits into 64 byte blocks; bit j is
    * whether block j's mean exceeds the payload's global mean —
    * compared by integer cross-multiplication, so there is no float
    * anywhere. Near-identical media (re-encoded, few bytes touched)
    * land within a small Hamming distance where exact-hash mm_dedup
    * sees two unrelated payloads. Pairing reuses the dedup engine's
    * pigeonhole block join ([[graft.dedup.Dedup.hammingBlockPairs]])
    * — 4 bucket equi-joins, never all-pairs. Oracle-checked (integer
    * aHash in SQL below); spec plants a byte-tweaked copy.
    */
  def phashPairs(docs: DataFrame, maxHamming: Int = PhashMaxHamming): DataFrame =
    graft.dedup.Dedup.hammingBlockPairs(phashSigs(docs), "ph", maxHamming)
      .orderBy("doc_a", "doc_b")

  /** (doc_id, ph): the 64-bit signature per ≥64-byte payload.
    *
    * r20: the signature is the codegen'd [[graft.functions.PHash64]]
    * expression (`graft_phash`) inside the scan projection — the
    * original typed-Dataset `flatMap` deserialized every payload to a
    * Scala tuple and back (a codegen break either side of a pure
    * integer loop; guide §4.1), measured ~1.3 s of mm_phash's 9.9 s
    * at sf10. Payloads under 64 bytes still produce no signature (an
    * all-zero hash would pair every tiny payload with every other,
    * same convention as simhashPairs) — the filter runs on
    * `length(payload)` at the scan, before the hash. MultimodalSpec
    * pins the expression bit-identical to a driver reimplementation
    * of the closure on boundary/edge payloads.
    */
  private def phashSigs(docs: DataFrame): DataFrame =
    withPayload(docs)
      .where(length(col("payload")) >= 64)
      .select(col("doc_id"), call_function("graft_phash", col("payload")).as("ph"))

  /** Gate view of the perceptual hash: one row per (≥64-byte) payload
    * with its 64-bit signature and the count of Hamming-≤3 neighbors
    * — per-doc rather than pairs-only so the gate entry is
    * non-vacuous on a corpus with no planted near-identical media
    * (the shipped one); the spec covers the pairing itself.
    */
  def phashSummary(docs: DataFrame, maxHamming: Int = PhashMaxHamming): DataFrame = {
    val sigs = phashSigs(docs).localCheckpoint()
    // r21 (guide §1.2 / §8: decide with small rows): pair discovery
    // runs over DISTINCT signature VALUES, never docs. n_near(doc) is
    // pure count arithmetic over signature groups —
    //   (same-sig docs − 1)            [Hamming 0: every exact copy]
    // + Σ cnt(h) over distinct sigs h with 1 ≤ hamming(g, h) ≤ max.
    // The former doc-level block join materialized C(copies, 2) pairs
    // per duplicate group (4,950 per group at the ×100 rung) and
    // exploded them 2× into a doc-sized aggregation, for an output
    // that only ever needed the counts. The block join's input drops
    // from docs×4 to distinct-sigs×4 rows and the pair frame vanishes.
    // Distinct sig values are unique by construction — the
    // hammingBlockPairs doc_id-uniqueness precondition holds.
    val groups = sigs.groupBy(col("ph")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // block join + both count joins read it
    val sigPairs = graft.dedup.Dedup.hammingBlockPairs(
      groups.select(col("ph").as("doc_id"), col("ph")), "ph", maxHamming)
    // explode, not unionAll: a union's two branches would re-execute
    // the un-checkpointed block join twice (the r20 phash lesson,
    // guide §7.2) — one execution emits both orientations
    val neigh = sigPairs
      .select(explode(array(
        struct(col("doc_a").as("ph"), col("doc_b").as("other")),
        struct(col("doc_b").as("ph"), col("doc_a").as("other")))).as("e"))
      .select(col("e.ph").as("ph"), col("e.other").as("other"))
      .join(groups.select(col("ph").as("other"), col("cnt").as("ocnt")), "other")
      .groupBy("ph").agg(sum(col("ocnt")).as("nc"))
    val perSig = groups.join(neigh, Seq("ph"), "left")
      .select(col("ph"),
        (col("cnt") - lit(1L) + coalesce(col("nc"), lit(0L))).as("n_near"))
    // no broadcast hint: perSig is distinct-signature-sized (could be
    // corpus-scale on a low-duplication corpus) — AQE broadcasts at
    // runtime when it actually fits
    sigs.join(perSig, "ph")
      .select(col("doc_id"), hex(col("ph")).as("phash_hex"), col("n_near"))
      .orderBy("doc_id")
  }

  def mmPhash(spark: SparkSession, dir: String): DataFrame =
    phashSummary(Tables.documents(spark, dir))

  /** The aHash is pure integer arithmetic over the payload bytes, so
    * it IS SQL-expressible (ADVICE r8 asked for exactly this): block
    * sums via cross-multiplied mean compare, bit_or of shifted bits
    * (DuckDB's `1 << 63` overflows BIGINT — bit 63 is the min-Long
    * literal spelled to stay in int64), n_near by brute-force Hamming
    * self-join — the pigeonhole block join is exact to radius 3, so
    * brute force is the same set. DuckDB's hex(BIGINT) matches
    * Spark's (uppercase, trimmed, two's complement).
    */
  val mmPhashSql: String = s"""
    WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
                 CAST(octet_length(encode(text)) AS BIGINT) AS n
               FROM documents WHERE octet_length(encode(text)) >= 64),
    b AS (SELECT doc_id, n, CAST((i * 64) // n AS INT) AS blk,
            ascii(substring(text, CAST(i AS INT) + 1, 1)) AS v
          FROM (SELECT doc_id, text, n, unnest(generate_series(0, n - 1)) AS i FROM d)),
    blocks AS (SELECT doc_id, n, blk, SUM(v) AS s, COUNT(*) AS c
               FROM b GROUP BY 1, 2, 3),
    tot AS (SELECT doc_id, SUM(v) AS t FROM b GROUP BY 1),
    sigs AS (SELECT blocks.doc_id,
               bit_or(CASE WHEN s * n > t.t * c THEN
                 (CASE WHEN blk = 63 THEN (-9223372036854775807 - 1)
                       ELSE (1::BIGINT << blk) END) ELSE 0 END) AS ph
             FROM blocks JOIN tot t ON t.doc_id = blocks.doc_id
             GROUP BY 1),
    near AS (SELECT a.doc_id, COUNT(*) AS n_near
             FROM sigs a JOIN sigs bb ON a.doc_id != bb.doc_id
               AND bit_count(xor(a.ph, bb.ph)) <= $PhashMaxHamming
             GROUP BY 1)
    SELECT s.doc_id, hex(s.ph) AS phash_hex,
      CAST(COALESCE(n.n_near, 0) AS BIGINT) AS n_near
    FROM sigs s LEFT JOIN near n ON n.doc_id = s.doc_id
    ORDER BY s.doc_id"""

  /** Target shard size for [[mmShardManifest]] (bytes). Gate-sized so
    * sf0.01 produces a multi-shard manifest per source; a production
    * run sets ~100 MB–1 GB.
    */
  val ShardBytes = 4096L

  /** WebDataset-style shard manifest: media samples are laid out as a
    * byte stream per `source` (doc_id order — the tar-archive order),
    * and the stream is cut into [[ShardBytes]] shards; each sample
    * records its shard, offset within the shard, and length — the
    * manifest a training dataloader seeks with. A sample whose bytes
    * straddle a cut belongs to the shard holding its first byte
    * (tar-stream split semantics: the reader of shard k follows into
    * k+1 for the tail). Scale shape = [[graft.text.TextAnalysis
    * .textPackSequences]]'s: the byte prefix-sum is a window
    * partitioned by source — per-stream state, no global order, so
    * every source stream shards independently at 100 TB; shard ids are
    * derived by integer division, not assigned by a sequential packer.
    */
  def mmShardManifest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id").cast(LongType).as("doc_id"), col("source"),
        octet_length(col("text")).cast(LongType).as("n_bytes"))
      .withColumn("start_byte", coalesce(sum(col("n_bytes")).over(w), lit(0L)))
      .withColumn("shard_id", expr(s"start_byte div $ShardBytes"))
      .select(col("doc_id"), col("source"),
        concat(col("source"), lit("-"),
          lpad(col("shard_id").cast("string"), 5, "0")).as("shard"),
        col("shard_id"),
        (col("start_byte") - col("shard_id") * lit(ShardBytes)).as("offset"),
        col("n_bytes"))
      .orderBy("source", "doc_id")
  }

  val mmShardManifestSql: String = s"""
    WITH b AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents),
    c AS (SELECT doc_id, source, n_bytes,
        CAST(COALESCE(SUM(n_bytes) OVER (PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS start_byte
      FROM b)
    SELECT doc_id, source,
      source || '-' || lpad(CAST(start_byte // $ShardBytes AS VARCHAR), 5, '0')
        AS shard,
      start_byte // $ShardBytes AS shard_id,
      start_byte - (start_byte // $ShardBytes) * $ShardBytes AS offset,
      n_bytes
    FROM c ORDER BY source, doc_id"""

  /** Aspect bucketing: shard fan-out and per-batch sample count. */
  val AspectShards = 8
  val AspectBatch = 16

  /** Aspect-ratio bucketing + deterministic batch packing over the
    * decoded (stub) dimensions — the multimodal-training staple
    * (SDXL/NaViT-style): samples only batch with shape-compatible
    * peers, so the collate step never pads across aspect classes.
    * Buckets come from integer aspect percent (100·w div h) against
    * fixed thresholds — pure integer compares, engine-exact; batch ids
    * number each (bucket, shard) stream in doc order and cut every
    * [[AspectBatch]] rows.
    *
    * Scale shape: one pass over the decoded metadata, then a window
    * partitioned by (bucket, shard) — the shard key (doc_id mod
    * [[AspectShards]]) is the parallel dimension, sized to the cluster
    * in production (WebDataset shard semantics: batches are local to a
    * shard, no global sequence). No data-sized driver state, no global
    * sort before the cosmetic ORDER BY.
    */
  def mmAspectBucket(spark: SparkSession, dir: String): DataFrame = {
    val meta = decodeMeta(Tables.documents(spark, dir))
      .select("doc_id", "width", "height")
      .withColumn("ap", expr("(100 * width) div height"))
      .withColumn("bucket",
        when(col("ap") < 50, "tall")
          .when(col("ap") < 90, "portrait")
          .when(col("ap") <= 111, "square")
          .when(col("ap") <= 200, "landscape")
          .otherwise("wide"))
      .withColumn("shard", expr(s"doc_id % $AspectShards"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket", "shard").orderBy("doc_id")
    meta
      .withColumn("rn", row_number().over(w).cast(LongType))
      .withColumn("batch_id", expr(s"(rn - 1) div $AspectBatch"))
      .select("doc_id", "width", "height", "bucket", "shard", "batch_id")
      .orderBy("doc_id")
  }

  val mmAspectBucketSql: String = s"""
    WITH m AS (
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
        CAST(64 + octet_length(encode(text)) % 512 AS BIGINT) AS width,
        CAST(64 + (octet_length(encode(text)) * 7) % 512 AS BIGINT) AS height
      FROM documents),
    b AS (
      SELECT doc_id, width, height,
        (100 * width) // height AS ap,
        doc_id % $AspectShards AS shard
      FROM m),
    c AS (
      SELECT doc_id, width, height,
        CASE WHEN ap < 50 THEN 'tall' WHEN ap < 90 THEN 'portrait'
             WHEN ap <= 111 THEN 'square' WHEN ap <= 200 THEN 'landscape'
             ELSE 'wide' END AS bucket, shard
      FROM b)
    SELECT doc_id, width, height, bucket, shard,
      (ROW_NUMBER() OVER (PARTITION BY bucket, shard ORDER BY doc_id) - 1)
        // $AspectBatch AS batch_id
    FROM c ORDER BY doc_id"""

  def ops: Seq[Op] = Seq(
    Op("mm_aspect_bucket", mmAspectBucket, Some(mmAspectBucketSql)),
    Op("mm_decode_meta", mmDecodeMeta, Some(mmDecodeMetaSql)),
    Op("mm_dedup", mmDedup, Some(mmDedupSql)),
    Op("mm_frame_sample", mmFrameSample, Some(mmFrameSampleSql)),
    Op("mm_resize", mmResize, Some(mmResizeSql)),
    Op("mm_features", mmFeatures, Some(mmFeaturesSql)),
    Op("mm_phash", mmPhash, Some(mmPhashSql)),
    Op("mm_shard_manifest", mmShardManifest, Some(mmShardManifestSql)),
  )
}
