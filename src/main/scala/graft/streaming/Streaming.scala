package graft.streaming

import graft.{Materialized, Op, Tables}
import graft.operators.Events
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Structured Streaming pipelines over the events table, run
  * synchronously to completion so they are gate-checkable against the
  * same DuckDB oracles as their batch twins in
  * [[graft.operators.Events]].
  *
  * The file stream reads the real events parquet; event time is the
  * exact integer-second column used by the batch ops. On a cluster
  * the same code runs open-ended — the synchronous drain (and the
  * watermark-advancing sentinel rows in the sessionizer) are how a
  * bounded test run flushes all state.
  */
object Streaming {

  // Public: Catalyst's generated encoder code cannot access private types.
  case class Ev(
      user_id: Long, ts_sec: Long, cents: Long, ts_ev: java.sql.Timestamp)
  case class Sess(
      sessionId: Long, start: Long, end: Long, n: Long, cents: Long)
  case class SessOut(
      user_id: Long, session_id: Long, session_start: Long, session_end: Long,
      n_events: Long, total_value: Double)

  /** Far-future sentinel timestamps (ns) that push the watermark past
    * every real session's timeout. After each data batch Spark runs an
    * empty batch that applies the newly-advanced watermark, so one
    * sentinel suffices; the second is safety margin.
    */
  private val SentinelNs =
    Array(1900000000000000000L, 1901000000000000000L)
  private val SentinelUser = -1L

  /** Run `f` with a reduced shuffle-partition count. Streaming state is
    * sharded by the shuffle-partition setting at query start and AQE
    * never coalesces it, so a bounded drain at 32 shards schedules 32
    * state-store tasks per microbatch for a few thousand keys. A real
    * deployment sizes this to key cardinality / executor count; these
    * gate streams are small.
    */
  private def withStatePartitions[A](spark: SparkSession, dir: String,
      store: String = "default")(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, shardSizing(spark, dir).granted.toString)
    try withStateStore(spark, store)(f) finally spark.conf.set(key, prev)
  }

  /** State shard count for the gate streams. Streaming state is
    * sharded by the shuffle-partition setting at query START and never
    * AQE-coalesced, so it must track key cardinality / executor
    * count, not be hard-coded: auto-sized from the staged events
    * table's on-disk bytes (key cardinality scales with corpus rows
    * here) at ~2 MB of compressed input per shard — the ratio at
    * which the hand-tuned sf3 drains landed (64 MB / 32 shards),
    * floored at 4 (the gate's few-thousand-key drains) and capped at
    * the session's core count (more state-store tasks than cores only
    * adds per-microbatch scheduling; the cap beats the floor on
    * sub-4-core sessions). `requested` is what the data volume wants,
    * `granted` is after the cap: requested > granted means the corpus
    * has outgrown this session's cores, which self-resolves on a real
    * cluster, where defaultParallelism is total executor cores.
    * StreamingShardSpec pins the policy.
    */
  final case class ShardSizing(requested: Int, granted: Int, cores: Int, bytes: Long)

  def shardSizing(spark: SparkSession, dir: String): ShardSizing =
    shardPolicy(tableBytes(s"$dir/events.parquet"),
      spark.sparkContext.defaultParallelism)

  /** Pure sizing policy: ~2 MB compressed input per shard, floor 4,
    * core cap outermost — on a session with fewer than 4 cores the cap
    * must win over the floor, or the sizing hands out more state-store
    * tasks than cores (the exact overhead it exists to avoid).
    */
  def shardPolicy(bytes: Long, cores: Int): ShardSizing = {
    val requested = math.max(4, math.ceil(bytes / (2 << 20).toDouble).toInt)
    ShardSizing(requested, math.max(1, math.min(cores, requested)), cores, bytes)
  }

  /** On-disk bytes of a table path (single parquet file, or a
    * Spark-written directory of part files).
    */
  private def tableBytes(path: String): Long = {
    val p = Paths.get(path)
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.mapToLong(f => if (Files.isRegularFile(f)) Files.size(f) else 0L).sum()
      finally s.close()
    } else if (Files.isRegularFile(p)) Files.size(p)
    else 0L
  }

  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** State-store selection for every streaming op: Spark's default
    * HDFS-backed in-memory provider, or RocksDB when the session conf
    * `spark.graft.stateStore=rocksdb` says so — an explicit setting
    * wins over the per-op `defaultChoice`. The default store holds all
    * state on-heap — right for bounded-state drains; RocksDB spills
    * to local disk with incremental checkpointing and is the
    * production answer once per-shard key spaces outgrow executor
    * heap (the 100 TB shape) — so the two ops whose state grows with
    * rate×interval rather than key count (stream_join_recent's
    * symmetric join buffers, stream_dedup_watermark's key log)
    * default to it. EventsStreamingSpec pins result equality across
    * both providers.
    */
  private def withStateStore[A](spark: SparkSession,
      defaultChoice: String = "default")(f: => A): A = {
    val choice = spark.conf.getOption("spark.graft.stateStore").getOrElse(defaultChoice)
    if (choice.equalsIgnoreCase("rocksdb")) {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, RocksProvider)
      try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    } else f
  }

  /** Exact integer event seconds from whatever type `ts` actually is:
    * raw nanosecond longs under `nanosAsLong` (GraftSession.tuned), or
    * a real (NTZ or zoned) timestamp under a vanilla session — the
    * shared timezone-independent dispatch of
    * [[graft.operators.Events.tsSecOf]].
    */
  private def tsSecExpr(schema: StructType): org.apache.spark.sql.Column =
    graft.operators.Events.tsSecOf(schema("ts").dataType)

  /** Stage the events parquet as the starting file(s) of a fresh
    * streaming input directory (file sources need a directory). The
    * shipped testdata is a single parquet file; Spark-written tables
    * (the ScaleUp stress corpus) are a DIRECTORY of part files —
    * Files.copy on a directory copies only the empty dir entry, which
    * would silently stream zero events, so stage each part as its own
    * top-level file (the file source lists only top-level files).
    *
    * Staged files are hard links when the staging dir shares a
    * filesystem with the corpus (the sources are read-only for the
    * stream's lifetime): staging cost stays O(files) instead of
    * O(bytes), which at the ×30/×100 corpora is the difference
    * between microseconds and re-copying gigabytes 8× per suite.
    * Cross-device staging falls back to a byte copy.
    */
  private def stageFile(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    Files.deleteIfExists(dst)
    try Files.createLink(dst, src)
    catch {
      case _: java.io.IOException | _: UnsupportedOperationException =>
        Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** The staged-events file stream, with a microbatch split sized to
    * the staged part count (r19, verdict #6): a many-part scaled
    * corpus drains as ~4 pipelined microbatches instead of one bulk
    * batch, so state commits overlap reading and flatMapGroups state
    * flushes progressively. Splits are SOUND because staging is
    * time-sorted ([[sortedEventsParts]]): every batch boundary's
    * watermark is ≤ every later row's event time, so the 0-second
    * watermarks drop nothing and windows/joins finalize exactly once;
    * the sessionize/funnel/latest ops additionally preserve their
    * bulk-drain output contract across mid-stream timeouts (tombstone
    * numbering / kept fold state / last-emission argmax — see each
    * op). The session conf `spark.graft.streamMaxFiles` overrides; 0
    * forces the bulk batch. Gate-scale corpora stage ≤ 16 parts and
    * stay bulk, so the split path engages exactly where it pays (the
    * ×30/×100 rungs).
    */
  private def eventStream(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, inDir: String,
      autoSplit: Boolean = false): DataFrame = {
    val staged = {
      val s = Files.list(Paths.get(inDir))
      try s.filter(p => p.getFileName.toString.startsWith("batch0")).count()
      finally s.close()
    }
    val maxFiles = spark.conf.getOption("spark.graft.streamMaxFiles").map(_.toInt)
      .getOrElse(
        if (autoSplit && staged > 16) math.max(16, ((staged + 3) / 4).toInt)
        else 0)
    val r = spark.readStream.schema(schema)
    if (maxFiles > 0) r.option("maxFilesPerTrigger", maxFiles.toString)
    r.parquet(inDir)
  }

  /** Base mtime stamped on sorted staging parts: part i carries
    * base + i ms, so the file source's (timestamp, path) processing
    * order IS the time-range order regardless of writer-task timing.
    * Sentinel files staged later carry current mtimes — always after.
    */
  private val SortedMtimeBase = 1000000000000L

  /** Part-size cap of the sorted staging parts (see [[sortedEventsParts]]). */
  private val StagingPartBytes = 32L << 20

  /** Once-per-corpus TIME-SORTED staging parts (r19): the events table
    * range-partitioned by (ts, event_id) into part files whose name and
    * mtime order is the time order. This is what makes multi-batch
    * drains exact: with time-ordered files, the watermark after batch i
    * can never orphan a batch i+1 row (no late drops), per-event folds
    * (anomaly/ewma) see the oracle's (ts, event_id) order across
    * batches, and dropDuplicatesWithinWatermark's horizon is evaluated
    * exactly in event time. One sort job per (session, corpus version):
    * a catalog entry whose parts live in the session's scratch root,
    * shared by all 11 streaming ops × bench repeats; per-op staging
    * stays O(files) hard links. On a real cluster this corresponds to
    * the source actually being a stream — arrival roughly tracks event
    * time — so the sorted parts are the harness's stand-in for arrival
    * order, not an extra production cost.
    *
    * Part sizing targets a ~16-part COUNT: 2 MB parts until 16 files,
    * then parts grow toward the [[StagingPartBytes]] cap. The r20
    * 2/8/32 MB sweep at sf10 read the 128×2MB listing/scheduling
    * overhead as the bulk drains' cost, but a fixed 32 MB collapses
    * mid-size corpora to the 4-part floor and starves the drain (sf3
    * streaming mins +20-35% measured); the count target keeps small
    * corpora's few files and mid corpora's scan parallelism, and the
    * cap bounds per-batch bytes at true scale.
    */
  private def sortedEventsParts(spark: SparkSession, dir: String): java.nio.file.Path =
    Materialized.of(spark, dir, "stream_events_sorted") {
      val bytes = tableBytes(s"$dir/events.parquet")
      val nParts = math.max(
        math.min(16, math.max(4, math.ceil(bytes / (2 << 20).toDouble).toInt)),
        math.ceil(bytes / StagingPartBytes.toDouble).toInt)
      val out = Paths.get(Materialized.scratchDir(spark, "events-sorted"))
      // range keys at SECOND granularity (the ops' event-time column)
      // + event_id: batch boundaries then respect exactly the
      // (ts_sec, event_id) order the per-event folds and the oracle
      // use — a sub-second tie can never straddle a boundary with
      // its event_id order inverted
      val ev = Tables.events(spark, dir)
      ev.repartitionByRange(nParts,
          graft.operators.Events.tsSecOf(ev.schema("ts").dataType),
          col("event_id"))
        .write.mode("overwrite").parquet(out.toString)
      val parts = parquetParts(out)
      require(parts.nonEmpty, s"sortedEventsParts: empty sort output for $dir/events.parquet")
      parts.zipWithIndex.foreach { case (p, i) =>
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(SortedMtimeBase + i))
      }
      out
    }

  /** The `*.parquet` files directly under `dir`, in name order. */
  private def parquetParts(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val listing = Files.list(dir)
    try listing.iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
      .sortBy(_.getFileName.toString)
    finally listing.close()
  }

  private def stageEvents(spark: SparkSession, dir: String, prefix: String): String = {
    val inDir = Materialized.scratchDir(spark, prefix)
    val sorted = sortedEventsParts(spark, dir)
    val parts = parquetParts(sorted)
    require(parts.nonEmpty, s"stageEvents: no sorted parts under $sorted")
    // keep the zero-padded part names: path order (the mtime
    // tie-break) stays the time order, and links share the sorted
    // parts' ascending mtimes
    parts.foreach(p =>
      stageFile(p, Paths.get(s"$inDir/batch0_${p.getFileName.toString}")))
    inDir
  }

  /** One-row sentinel part files, one catalog entry per (session,
    * corpus version, sentinel index): the sentinel row is a function of
    * the events schema, which the session reads from the corpus, so
    * every streaming op and every bench repeat hard-links the same
    * written-once parquet instead of running a fresh one-row Spark
    * write job — two saved jobs per op per run, a measurable slice of
    * the per-op drain floor.
    */
  private def sentinelPart(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      ns: Long, i: Int): java.nio.file.Path =
    Materialized.of(spark, dir, s"stream_sentinel$i") {
      val scratch = Materialized.scratchDir(spark, s"sentinel$i")
      // Sentinel values keyed by field name, ordered by the actual source
      // schema: a column reorder/addition in the events parquet fails
      // loudly here instead of silently misaligning fields.
      val tsValue: Any = schema("ts").dataType match {
        case LongType => ns
        // TIMESTAMP_NTZ (what a parquet timestamp[us] with no timezone
        // reads as — the driver's corpora since the micros regeneration)
        // converts from LocalDateTime only; java.sql.Timestamp is
        // rejected by the NTZ Catalyst converter.
        case TimestampNTZType =>
          java.time.LocalDateTime.ofEpochSecond(
            ns / 1000000000L, (ns % 1000000000L).toInt, java.time.ZoneOffset.UTC)
        case _ => new java.sql.Timestamp(ns / 1000000L)
      }
      val byName = Map[String, Any](
        "event_id" -> (-1L - i), "ts" -> tsValue, "user_id" -> SentinelUser,
        "event_type" -> "sentinel", "value" -> 0.0, "props" -> "{}")
      val row = org.apache.spark.sql.Row(schema.fieldNames.map(f =>
        byName.getOrElse(f, sys.error(s"driveSentinels: unknown events column '$f'"))): _*)
      spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](row), schema)
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      parquetParts(Paths.get(scratch)).head
    }

  /** Stage BOTH sentinel part-files, then drain once: the file source
    * folds them into a single microbatch whose max event time is the
    * later sentinel, so the watermark jumps past all real event time
    * in one step and the trailing empty batch flushes every stateful
    * result — identical final output to the former
    * one-drain-per-sentinel loop (the watermark is monotone; only its
    * step count differs) at one processAllAvailable round-trip and one
    * fewer full state-commit microbatch per op (a measured slice of
    * the sf10 per-op drain floor). The file source lists only
    * top-level files, so each sentinel part-file is hard-linked in
    * flat.
    */
  private def driveSentinels(
      spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      inDir: String,
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    SentinelNs.zipWithIndex.foreach { case (ns, i) =>
      stageFile(sentinelPart(spark, dir, schema, ns, i),
        Paths.get(s"$inDir/sentinel$i.parquet"))
    }
    q.processAllAvailable()
  }

  /** Drain a bounded APPEND-mode streaming frame through a PARQUET
    * file sink and return the finalized rows as a distributed frame
    * (r21, guide §5: the driver should do almost no data work). The
    * former `format("memory")` sink COLLECTS every emitted row into
    * driver memory single-threaded — for the high-output stateful ops
    * (ewma emits one row per event; sessionize one per session; topk
    * one per (window, user); join_recent one per match) that driver
    * funnel, not the state store, was the drain floor at the ×100
    * rung: the r21 provider sweep (PROBES_r21) measured
    * default/RocksDB/RocksDB+changelog flat-to-worse, while
    * stream_anomaly — identical machinery, answer-sized output — runs
    * 5× faster than stream_ewma on the same input. The file sink
    * writes shards in parallel from the state-store tasks and the
    * post-drain ordering/dedup stages read them back distributed; it
    * is also the only sink that exists at 100 TB (a memory sink is a
    * driver OOM there). Results are bit-identical: the sink sees the
    * same finalized Append rows, parquet round-trips every column
    * type here exactly, and all post-sink logic is unchanged.
    * `schema` is passed explicitly so a zero-row drain still yields a
    * typed empty frame. Low-output ops (anomaly, window_agg — which
    * is complete-mode and cannot use a file sink — dedup, funnel)
    * keep the memory sink: their collected output is answer-sized.
    */
  private def drainToParquet(spark: SparkSession, frame: DataFrame,
      prefix: String)(drive: org.apache.spark.sql.streaming.StreamingQuery => Unit): DataFrame = {
    val outDir = Materialized.scratchDir(spark, s"$prefix-out")
    val chk = Materialized.scratchDir(spark, s"$prefix-chk")
    val q = frame.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", chk)
      .outputMode("append").start()
    try drive(q) finally q.stop()
    spark.read.schema(frame.schema).parquet(outDir)
  }

  /** Streamed tumbling-window aggregation (complete mode): same
    * result as the batch `q_events_window`, minus the distinct-user
    * count (DISTINCT aggregates are unsupported in streaming aggs).
    */
  def streamWindowAgg(spark: SparkSession, dir: String): DataFrame = withStatePartitions(spark, dir) {
    val schema = Tables.events(spark, dir).schema
    val inDir = stageEvents(spark, dir, "graft-stream-win")
    val src = eventStream(spark, schema, inDir)
    val agg = src
      .withColumn("ts_sec", tsSecExpr(schema))
      .groupBy(expr(s"(ts_sec div ${Events.WindowSec}) * ${Events.WindowSec}").as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total_value"))
    val name = "graft_stream_window_agg"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).orderBy("window_start", "event_type")
  }

  val streamWindowAggSql: String = s"""
    SELECT ((epoch_ns(ts)//1000000000) // ${Events.WindowSec}) * ${Events.WindowSec} AS window_start,
      event_type, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Stateful streaming sessionization via flatMapGroupsWithState
    * with event-time timeout: per user, an open session lives in
    * state; a gap > GapSec closes it; the watermark passing
    * (session_end + gap) emits it. Value sums are kept in exact
    * integer cents so state-order summation matches the decimal
    * oracle bit-for-bit.
    */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame = withStatePartitions(spark, dir) {
    import spark.implicits._
    val gap = Events.GapSec
    val schema = Tables.events(spark, dir).schema

    val inDir = stageEvents(spark, dir, "graft-stream-in")

    val src = eventStream(spark, schema, inDir)
      .withColumn("ts_sec", tsSecExpr(schema))
      .withColumn("cents", round(col("value") * 100.0, 0).cast(LongType))
      .withColumn("ts_ev", timestamp_seconds(col("ts_sec")))
      .withWatermark("ts_ev", "0 seconds")
      .select(col("user_id").cast(LongType).as("user_id"), col("ts_sec"),
        col("cents"), col("ts_ev")) // ts_ev kept: the watermark column must survive
      .as[Ev]

    def close(uid: Long, s: Sess): SessOut =
      SessOut(uid, s.sessionId, s.start, s.end, s.n, s.cents / 100.0)

    val sessions = src.groupByKey(_.user_id)
      .flatMapGroupsWithState[Sess, SessOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[Sess]) =>
          if (state.hasTimedOut) {
            // r19 (multi-batch drains): keep a TOMBSTONE (n = 0)
            // carrying the session counter instead of removing state —
            // a later event then opens session k+1, preserving the
            // per-user numbering the batch oracle assigns, whatever
            // microbatch boundaries the drain had. No timeout is
            // re-armed, so the tombstone is inert until new data.
            val s = state.get
            state.update(s.copy(n = 0L))
            if (s.n > 0L) Iterator.single(close(uid, s)) else Iterator.empty
          } else {
            val out = scala.collection.mutable.ArrayBuffer.empty[SessOut]
            var cur = state.getOption
            rows.toArray.sortBy(_.ts_sec).foreach { e =>
              cur match {
                case None =>
                  cur = Some(Sess(1L, e.ts_sec, e.ts_sec, 1L, e.cents))
                case Some(s) if s.n == 0L => // tombstone: session s.sessionId closed
                  cur = Some(Sess(s.sessionId + 1, e.ts_sec, e.ts_sec, 1L, e.cents))
                case Some(s) if e.ts_sec - s.end > gap =>
                  out += close(uid, s)
                  cur = Some(Sess(s.sessionId + 1, e.ts_sec, e.ts_sec, 1L, e.cents))
                case Some(s) =>
                  cur = Some(s.copy(end = e.ts_sec, n = s.n + 1, cents = s.cents + e.cents))
              }
            }
            val s = cur.get
            state.update(s)
            // clamp: a timeout must land strictly past the current
            // watermark (sorted staging guarantees it mathematically;
            // the clamp keeps forced unsorted splits from aborting)
            state.setTimeoutTimestamp(math.max((s.end + gap) * 1000L + 1000L,
              state.getCurrentWatermarkMs() + 1L))
            out.iterator
          }
      }

    drainToParquet(spark, sessions.toDF(), "graft-stream-sess") { q =>
      q.processAllAvailable()
      driveSentinels(spark, dir, schema, inDir, q)
    }
      .where(col("user_id") =!= SentinelUser)
      .orderBy("user_id", "session_id")
  }

  /** Watermarked append-mode windowed aggregation — the production
    * Structured Streaming idiom (complete mode re-emits everything;
    * append emits each window once, when the watermark passes its
    * end). Sentinel batches advance the watermark so the bounded run
    * flushes every window; sentinel rows are filtered after the
    * watermark operator so they advance event time without
    * contributing to any real window.
    */
  def streamWindowAppend(spark: SparkSession, dir: String): DataFrame = withStatePartitions(spark, dir) {
    val schema = Tables.events(spark, dir).schema
    val inDir = stageEvents(spark, dir, "graft-stream-append")
    val agg = eventStream(spark, schema, inDir)
      .withColumn("ts_sec", tsSecExpr(schema))
      .withColumn("ts_ev", timestamp_seconds(col("ts_sec")))
      .withWatermark("ts_ev", "0 seconds")
      // No pre-agg sentinel filter: Catalyst would push it below the
      // EventTimeWatermark operator and the sentinels would never
      // advance the watermark. Sentinel windows are filtered from the
      // sink table instead (at most the first sentinel's own window
      // ever flushes).
      .groupBy(window(col("ts_ev"), s"${Events.WindowSec} seconds"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total_value"))
      .select(unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))
    val name = "graft_stream_window_append"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      driveSentinels(spark, dir, schema, inDir, q)
    } finally q.stop()
    spark.table(name)
      .where(col("event_type") =!= "sentinel")
      .orderBy("window_start", "event_type")
  }

  /** Stream-stream join lookback (seconds). */
  val JoinWindowSec = 3600L

  /** Stream-stream inner join with an event-time range condition:
    * each purchase pairs with the same user's clicks from the
    * preceding hour. Watermarks on both sides bound the join state
    * (clicks older than the watermark minus the range are evicted) —
    * the production alternative to the batch as-of's unbounded
    * lookback. Inner-join matches emit as rows arrive, so the bounded
    * drain needs no sentinel flush.
    */
  def streamJoinRecent(spark: SparkSession, dir: String): DataFrame =
    withStatePartitions(spark, dir, store = "rocksdb") {
    val schema = Tables.events(spark, dir).schema
    val inDir = stageEvents(spark, dir, "graft-stream-join")
    def side(tpe: String, prefix: String) =
      eventStream(spark, schema, inDir)
        .withColumn("ts_sec", tsSecExpr(schema))
        .where(col("event_type") === tpe)
        .select(col("event_id").as(s"${prefix}_id"),
          col("user_id").cast(LongType).as(s"${prefix}_user"),
          col("ts_sec").as(s"${prefix}_ts"),
          timestamp_seconds(col("ts_sec")).as(s"${prefix}_ev"))
        .withWatermark(s"${prefix}_ev", "0 seconds")
    val joined = side("purchase", "p").join(side("click", "c"),
      expr(s"""p_user = c_user AND
               c_ev >= p_ev - interval $JoinWindowSec seconds AND
               c_ev <= p_ev"""))
      .select(col("p_id").as("purchase_id"), col("c_id").as("click_id"),
        col("p_user").as("user_id"), col("p_ts").as("purchase_ts"),
        col("c_ts").as("click_ts"))
    drainToParquet(spark, joined, "graft-stream-join")(_.processAllAvailable())
      .orderBy("purchase_id", "click_id")
  }

  val streamJoinRecentSql: String = s"""
    WITH es AS (SELECT event_id, user_id, event_type,
                  epoch_ns(ts)//1000000000 AS ts_sec FROM events)
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
      p.user_id, p.ts_sec AS purchase_ts, c.ts_sec AS click_ts
    FROM es p JOIN es c
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts_sec BETWEEN p.ts_sec - $JoinWindowSec AND p.ts_sec
    ORDER BY purchase_id, click_id"""

  /** Streaming exact dedup: first-seen (user_id, event_type) keys via
    * the state-store `dropDuplicates`. Keys here are bounded; an
    * unbounded-key production stream would use
    * `dropDuplicatesWithinWatermark` to cap state.
    */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = withStatePartitions(spark, dir) {
    val schema = Tables.events(spark, dir).schema
    val inDir = stageEvents(spark, dir, "graft-stream-dedup")
    val src = eventStream(spark, schema, inDir)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    val name = "graft_stream_dedup"
    val q = src.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).orderBy("user_id", "event_type")
  }

  val streamDedupSql: String = """
    SELECT DISTINCT user_id, event_type FROM events
    ORDER BY user_id, event_type"""

  /** Streaming dedup for unbounded key spaces:
    * `dropDuplicatesWithinWatermark` evicts key state once the
    * watermark passes (key, event time + delay) — the production
    * variant when first-seen keys can't be held forever. The delay
    * here covers the whole corpus span, so the bounded drain dedups
    * exactly like the global DISTINCT oracle.
    */
  def streamDedupWatermark(spark: SparkSession, dir: String): DataFrame =
    withStatePartitions(spark, dir, store = "rocksdb") {
    val schema = Tables.events(spark, dir).schema
    val inDir = stageEvents(spark, dir, "graft-stream-dedupwm")
    val src = eventStream(spark, schema, inDir)
      .withColumn("ts_sec", tsSecExpr(schema))
      .withColumn("ts_ev", timestamp_seconds(col("ts_sec")))
      .withWatermark("ts_ev", "60 days")
      .select(col("user_id"), col("event_type"), col("ts_ev"))
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    drainToParquet(spark, src, "graft-stream-dedupwm")(_.processAllAvailable())
      .orderBy("user_id", "event_type")
  }

  case class FunnelEv(user_id: Long, event_type: String, ts_sec: Long,
      ts_ev: java.sql.Timestamp)
  case class FunnelState(v: Long, c: Long, p: Long, maxTs: Long)
  case class FunnelOut(user_id: Long, saw_view: Boolean, saw_click: Boolean,
      saw_purchase: Boolean)

  /** Streaming conversion funnel: a per-user stage state machine in
    * `flatMapGroupsWithState` (strictly-later min-timestamp semantics,
    * identical to the batch [[graft.operators.Events.qEventsFunnel]]).
    * Stage minima live in state; the event-time timeout (watermark
    * driven past the corpus by the sentinel batches) emits each user's
    * final stage flags, and the op reduces them to the same 3-row
    * summary as the batch oracle. Demonstrates arbitrary stateful
    * aggregation beyond sessionization: the state is a conditional
    * fold, not a gap partition.
    */
  def streamFunnel(spark: SparkSession, dir: String): DataFrame = withStatePartitions(spark, dir) {
    import spark.implicits._
    val schema = Tables.events(spark, dir).schema
    val inDir = stageEvents(spark, dir, "graft-stream-funnel")
    val src = eventStream(spark, schema, inDir)
      .withColumn("ts_sec", tsSecExpr(schema))
      .withColumn("ts_ev", timestamp_seconds(col("ts_sec")))
      .withWatermark("ts_ev", "0 seconds")
      .select(col("user_id").cast(LongType).as("user_id"), col("event_type"),
        col("ts_sec"), col("ts_ev"))
      .as[FunnelEv]
    val None_ = -1L
    val flags = src.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[FunnelEv], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            // r19 (multi-batch drains): emit a SNAPSHOT but KEEP the
            // folded state — a later event must continue the fold (a
            // view in one activity period, a click in the next). The
            // stage flags are monotone, so the per-user max below
            // merges snapshots into exactly the full-corpus fold. No
            // timeout re-arm: inert until new data.
            val s = state.get
            Iterator.single(FunnelOut(uid, s.v != None_, s.c != None_, s.p != None_))
          } else {
            var s = state.getOption.getOrElse(FunnelState(None_, None_, None_, 0L))
            // ascending fold = the batch op's min-timestamp chain: the
            // first view sets v; the first click strictly after v sets
            // c; the first purchase strictly after c sets p.
            rows.toArray.sortBy(e => (e.ts_sec, e.event_type)).foreach { e =>
              e.event_type match {
                case "view" if s.v == None_                      => s = s.copy(v = e.ts_sec)
                case "click" if s.v != None_ && s.c == None_ &&
                  e.ts_sec > s.v                                 => s = s.copy(c = e.ts_sec)
                case "purchase" if s.c != None_ && s.p == None_ &&
                  e.ts_sec > s.c                                 => s = s.copy(p = e.ts_sec)
                case _                                           => ()
              }
              if (e.ts_sec > s.maxTs) s = s.copy(maxTs = e.ts_sec)
            }
            state.update(s)
            state.setTimeoutTimestamp(math.max((s.maxTs + 1) * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
    val name = "graft_stream_funnel"
    val q = flags.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      driveSentinels(spark, dir, schema, inDir, q)
    } finally q.stop()
    // per-user max first: under a multi-batch drain a user may emit
    // one snapshot per quiet period; the flags are monotone, so max =
    // the complete fold (and exactly one row per user in bulk mode)
    val t = spark.table(name).where(col("user_id") =!= SentinelUser)
      .groupBy("user_id")
      .agg(max(col("saw_view")).as("saw_view"),
        max(col("saw_click")).as("saw_click"),
        max(col("saw_purchase")).as("saw_purchase"))
    // coalesce: an empty flush must read as zeros, not a NULL-sum crash
    val counts = t.agg(
      coalesce(sum(when(col("saw_view"), 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("saw_click"), 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("saw_purchase"), 1L).otherwise(0L)), lit(0L))).head()
    Seq(("1_view", counts.getLong(0)), ("2_view_click", counts.getLong(1)),
      ("3_view_click_purchase", counts.getLong(2)))
      .toDF("stage", "n_users").orderBy("stage")
  }

  case class LatestEv(user_id: Long, event_id: Long, event_type: String,
      value: Double, ts_sec: Long, ts_ev: java.sql.Timestamp)
  case class LatestState(ts: Long, id: Long, tpe: String, v: Double, maxTs: Long)
  case class LatestOut(user_id: Long, last_ts: Long, last_event_id: Long,
      last_type: String, last_value: Double)

  /** CDC-style latest-state materialization: per key, hold the
    * newest record (event-time, event-id tie-break) in state and emit
    * the materialized row when the key goes quiet — the streaming
    * upsert view every change-data-capture pipeline maintains
    * (Kafka-compacted-topic semantics). Arrival order never matters:
    * the fold keeps the lexicographic max of (ts, id), so a late
    * out-of-order record can't overwrite a newer one — that is the
    * CDC correctness property, and what separates this from a naive
    * "last write wins". The value rides through untouched (no
    * arithmetic), so it is bit-identical to the batch argmax oracle.
    */
  def streamLatestState(spark: SparkSession, dir: String): DataFrame = withStatePartitions(spark, dir) {
    import spark.implicits._
    val schema = Tables.events(spark, dir).schema
    val inDir = stageEvents(spark, dir, "graft-stream-latest")
    val src = eventStream(spark, schema, inDir)
      .withColumn("ts_sec", tsSecExpr(schema))
      .withColumn("ts_ev", timestamp_seconds(col("ts_sec")))
      .withWatermark("ts_ev", "0 seconds")
      .select(col("user_id").cast(LongType).as("user_id"), col("event_id"),
        col("event_type"), col("value"), col("ts_sec"), col("ts_ev"))
      .as[LatestEv]
    val latest = src.groupByKey(_.user_id)
      .flatMapGroupsWithState[LatestState, LatestOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[LatestEv], state: GroupState[LatestState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(LatestOut(uid, s.ts, s.id, s.tpe, s.v))
          } else {
            var s = state.getOption.getOrElse(
              LatestState(Long.MinValue, Long.MinValue, "", 0.0, 0L))
            rows.foreach { e =>
              if (e.ts_sec > s.ts || (e.ts_sec == s.ts && e.event_id > s.id))
                s = s.copy(ts = e.ts_sec, id = e.event_id, tpe = e.event_type, v = e.value)
              if (e.ts_sec > s.maxTs) s = s.copy(maxTs = e.ts_sec)
            }
            state.update(s)
            state.setTimeoutTimestamp(math.max((s.maxTs + 1) * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
    val finalized = drainToParquet(spark, latest.toDF(), "graft-stream-latest") { q =>
      q.processAllAvailable()
      driveSentinels(spark, dir, schema, inDir, q)
    }
    // last emission per user wins: under a multi-batch drain a key can
    // emit once per quiet period, and each later period's argmax is
    // strictly later in (ts, id) — sorted staging guarantees it — so
    // the per-user max row IS the global argmax (one row/user in bulk)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("last_ts").desc, col("last_event_id").desc)
    finalized.where(col("user_id") =!= SentinelUser)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
      .orderBy("user_id")
  }

  val streamLatestStateSql: String = """
    SELECT user_id, ts_sec AS last_ts, event_id AS last_event_id,
      event_type AS last_type, value AS last_value
    FROM (SELECT user_id, event_id, event_type, value,
            epoch_ns(ts)//1000000000 AS ts_sec,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY epoch_ns(ts)//1000000000 DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1 ORDER BY user_id"""

  /** Ranks kept per window by [[streamTopk]]. */
  val TopKPerWindow = 3

  /** Per-window top-k: the hourly top-[[TopKPerWindow]] users by
    * summed value. The STREAMING stage is exactly the bounded-state
    * part — a watermarked per-(window, user) aggregation in append
    * mode, state evicted as the watermark passes each window — and the
    * rank runs over the finalized sink table (one window-partitioned
    * row_number over window-sized groups). That split is the
    * production shape: ranking inside the stream would re-rank every
    * update and pin every user into ranking state; ranking finalized
    * windows at the sink costs one small batch stage. Value sums ride
    * the decimal snap so ties (and the tie-break by user_id) are
    * engine-exact.
    */
  def streamTopk(spark: SparkSession, dir: String): DataFrame = withStatePartitions(spark, dir) {
    val schema = Tables.events(spark, dir).schema
    val inDir = stageEvents(spark, dir, "graft-stream-topk")
    // autoSplit: the per-(window, user) agg is the one stateful shape
    // the multi-batch drain measurably helps at the x100 rung (28.4 vs
    // 39.1 s bulk, PROBES_r19) - progressive window finalization keeps
    // the state store small; every other op measured flat-to-worse
    // under splits (per-batch commit cost), so they stay bulk.
    val agg = eventStream(spark, schema, inDir, autoSplit = true)
      .withColumn("ts_sec", tsSecExpr(schema))
      .withColumn("ts_ev", timestamp_seconds(col("ts_sec")))
      .withWatermark("ts_ev", "0 seconds")
      .groupBy(window(col("ts_ev"), s"${Events.WindowSec} seconds"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total_value"))
      .select(unix_timestamp(col("window.start")).as("window_start"),
        col("user_id"), col("n_events"), col("total_value"))
    val finalized = drainToParquet(spark, agg, "graft-stream-topk") { q =>
      q.processAllAvailable()
      driveSentinels(spark, dir, schema, inDir, q)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start")
      .orderBy(col("total_value").desc, col("user_id"))
    finalized
      .where(col("user_id") =!= SentinelUser)
      .withColumn("rk", row_number().over(w).cast(LongType))
      .where(col("rk") <= TopKPerWindow)
      .orderBy("window_start", "rk")
  }

  val streamTopkSql: String = s"""
    WITH w AS (
      SELECT ((epoch_ns(ts)//1000000000) // ${Events.WindowSec}) * ${Events.WindowSec} AS window_start,
        user_id, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2)
    SELECT window_start, user_id, n_events, total_value, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
        ORDER BY total_value DESC, user_id) AS rk
      FROM w)
    WHERE rk <= $TopKPerWindow ORDER BY window_start, rk"""

  case class AnomEv(user_id: Long, event_id: Long, value: Double,
      cents: Long, ts_sec: Long)
  case class AnomState(n: Long, s1: Long, s2: Long)
  case class AnomOut(event_id: Long, user_id: Long, value: Double,
      n_prior: Long, prior_mean: Double, z: Double)
  case class EwmaState(n: Long, ew: Double)
  case class EwmaOut(event_id: Long, user_id: Long, value: Double,
      n: Long, ewma: Double)

  /** Minimum PRIOR observations before [[streamAnomaly]] scores. */
  val AnomMinPrior = 10L

  /** Streaming per-user anomaly detection: each event is z-scored
    * against the moments of that user's STRICTLY PRIOR events (the
    * online form of [[graft.operators.Events.qEventsAnomaly]] — no
    * lookahead, so a flag can be acted on the moment the event
    * arrives). State per user is three longs (count + exact cent sums,
    * value² exact at 4 dp), so state size is keys-bounded — the 100 TB
    * shape; mean/variance/z are a fixed double expression over those
    * exact integers, identical in the oracle's expanding-window SQL.
    * Events sort by (ts_sec, event_id) within a batch; across batches
    * the file stream's arrival order IS event order for the staged
    * corpus (and the production caveat: out-of-order arrival scores
    * against the state as-of arrival — the online contract).
    */
  def streamAnomaly(spark: SparkSession, dir: String): DataFrame = withStatePartitions(spark, dir) {
    import spark.implicits._
    val schema = Tables.events(spark, dir).schema
    val inDir = stageEvents(spark, dir, "graft-stream-anom")
    val src = eventStream(spark, schema, inDir)
      .withColumn("ts_sec", tsSecExpr(schema))
      .withColumn("cents", round(col("value") * 100.0, 0).cast(LongType))
      .select(col("user_id").cast(LongType).as("user_id"), col("event_id"),
        col("value"), col("cents"), col("ts_sec"))
      .as[AnomEv]
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
    val flags = src.groupByKey(_.user_id)
      .flatMapGroupsWithState[AnomState, AnomOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[AnomEv], state: GroupState[AnomState]) =>
          var st = state.getOption.getOrElse(AnomState(0L, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[AnomOut]
          rows.toArray.sortBy(e => (e.ts_sec, e.event_id)).foreach { e =>
            if (st.n >= AnomMinPrior) {
              val n = st.n.toDouble
              val s1 = st.s1.toDouble
              val s2 = st.s2.toDouble
              val mean = s1 / n
              val variance = (s2 - s1 * s1 / n) / (n - 1)
              if (variance > 0.0) {
                val z = (e.cents - mean) / math.sqrt(variance)
                // prior_mean at 4 dp via exact integer half-up division:
                // the mean is a small-denominator rational, so a double
                // ROUND hits .00005 boundaries where the engines'
                // shortest-repr vs binary roundings disagree. floorDiv,
                // not `/`: JVM `/` truncates toward zero while the
                // oracle's `//` floors, and the two diverge the moment
                // a cent sum goes negative (refund-style corpora)
                val mean4 = Math.floorDiv(200L * st.s1 + st.n, 2L * st.n)
                if (math.abs(z) > 2.0)
                  out += AnomOut(e.event_id, uid, e.value, st.n,
                    mean4.toDouble / 10000.0, round4(z))
              }
            }
            st = AnomState(st.n + 1, st.s1 + e.cents, st.s2 + e.cents * e.cents)
          }
          state.update(st)
          out.iterator
      }
    val name = "graft_stream_anomaly"
    val q = flags.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).orderBy("event_id")
  }

  val streamAnomalySql: String = s"""
    WITH e AS (
      SELECT event_id, user_id, value,
        epoch_ns(ts)//1000000000 AS ts_sec,
        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events),
    w AS (
      SELECT event_id, user_id, value, cents,
        COUNT(*) OVER pw AS n,
        CAST(SUM(cents) OVER pw AS BIGINT) AS s1i,
        CAST(SUM(cents) OVER pw AS DOUBLE) AS s1,
        CAST(SUM(cents * cents) OVER pw AS DOUBLE) AS s2
      FROM e
      WINDOW pw AS (PARTITION BY user_id ORDER BY ts_sec, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    f AS (
      SELECT event_id, user_id, value, cents, n, s1i, s1 / n AS mean,
        (s2 - s1 * s1 / n) / (n - 1) AS variance
      FROM w WHERE n >= $AnomMinPrior),
    g AS (
      SELECT event_id, user_id, value, n, s1i,
        (cents - mean) / SQRT(variance) AS z
      FROM f WHERE variance > 0.0)
    SELECT event_id, user_id, value, CAST(n AS BIGINT) AS n_prior,
      CAST((200 * s1i + n) // (2 * n) AS DOUBLE) / 10000.0 AS prior_mean,
      ROUND(z, 4) AS z
    FROM g WHERE ABS(z) > 2.0 ORDER BY event_id"""

  /** Online per-user EWMA of event value — the streaming twin of the
    * batch [[graft.operators.Events.qEwma]] recurrence, keyed per
    * user: state is TWO numbers (event count, current EWMA over
    * integer cents), each event emits its post-update smoothed value
    * in Append mode. Values snap to integer cents first (the
    * stream_anomaly trick), so the double chain's inputs are
    * engine-exact; the chain uses the same α/β literals as the batch
    * op and the oracle replays it as a per-user recursive CTE in
    * (ts_sec, event_id) order. At scale: state is O(users) × 16
    * bytes, no window, no rescan — the canonical online-smoothing
    * shape.
    */
  def streamEwma(spark: SparkSession, dir: String): DataFrame = withStatePartitions(spark, dir) {
    import spark.implicits._
    val schema = Tables.events(spark, dir).schema
    val inDir = stageEvents(spark, dir, "graft-stream-ewma")
    val src = eventStream(spark, schema, inDir)
      .withColumn("ts_sec", tsSecExpr(schema))
      .withColumn("cents", round(col("value") * 100.0, 0).cast(LongType))
      .select(col("user_id").cast(LongType).as("user_id"), col("event_id"),
        col("value"), col("cents"), col("ts_sec"))
      .as[AnomEv]
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
    val out = src.groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[AnomEv], state: GroupState[EwmaState]) =>
          var st = state.getOption.getOrElse(EwmaState(0L, 0.0))
          val buf = scala.collection.mutable.ArrayBuffer.empty[EwmaOut]
          rows.toArray.sortBy(e => (e.ts_sec, e.event_id)).foreach { e =>
            val x = e.cents.toDouble
            val ew =
              if (st.n == 0L) x
              else graft.operators.Events.EwmaAlpha * x +
                graft.operators.Events.EwmaBeta * st.ew
            st = EwmaState(st.n + 1, ew)
            buf += EwmaOut(e.event_id, uid, e.value, st.n, round4(ew / 100.0))
          }
          state.update(st)
          buf.iterator
      }
    drainToParquet(spark, out.toDF(), "graft-stream-ewma")(_.processAllAvailable())
      .orderBy("event_id")
  }

  val streamEwmaSql: String = """
    WITH RECURSIVE e AS (
      SELECT event_id, user_id, value,
        epoch_ns(ts)//1000000000 AS ts_sec,
        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events),
    idx AS (
      SELECT event_id, user_id, value, cents,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS k
      FROM e),
    rec AS (
      SELECT event_id, user_id, value, k, CAST(cents AS DOUBLE) AS ew
      FROM idx WHERE k = 1
      UNION ALL
      SELECT i.event_id, i.user_id, i.value, i.k,
        0.3 * CAST(i.cents AS DOUBLE) + 0.7 * r.ew AS ew
      FROM idx i JOIN rec r ON r.user_id = i.user_id AND i.k = r.k + 1)
    SELECT event_id, user_id, value, CAST(k AS BIGINT) AS n,
      ROUND(ew / 100.0, 4) AS ewma
    FROM rec ORDER BY event_id"""

  def ops: Seq[Op] = Seq(
    Op("stream_ewma", streamEwma, Some(streamEwmaSql)),
    Op("stream_anomaly", streamAnomaly, Some(streamAnomalySql)),
    Op("stream_window_agg", streamWindowAgg, Some(streamWindowAggSql)),
    Op("stream_latest_state", streamLatestState, Some(streamLatestStateSql)),
    Op("stream_funnel", streamFunnel, Some(Events.qEventsFunnelSql)),
    Op("stream_window_append", streamWindowAppend, Some(streamWindowAggSql)),
    Op("stream_sessionize", streamSessionize, Some(Events.qEventsSessionizeSql)),
    Op("stream_dedup", streamDedup, Some(streamDedupSql)),
    Op("stream_join_recent", streamJoinRecent, Some(streamJoinRecentSql)),
    Op("stream_dedup_watermark", streamDedupWatermark, Some(streamDedupSql)),
    Op("stream_topk", streamTopk, Some(streamTopkSql)),
  )
}
