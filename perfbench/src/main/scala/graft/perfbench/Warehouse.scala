package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Op, SparkEntry}

/** The batch user's time to results, cut to fit one run: a fixed
  * subset of SparkEntry.queries (every module, at least once) over the
  * small warehouse corpus the benchmark ships. One new session, the
  * in-memory catalog and the run's disk cache empty; the subset runs in
  * a seed-permuted order, each query forced by its answer fingerprint
  * inside its timed interval. graph_cc, graph_k_core and
  * graph_from_tpch derive the same catalog entry (graph:nation), so the
  * first of them builds it and the others hit it.
  */
object Warehouse {
  val modules: Seq[(String, Seq[Op])] = Seq(
    "operators.Relational" -> graft.operators.Relational.ops,
    "operators.Events" -> graft.operators.Events.ops,
    "operators.Sampling" -> graft.operators.Sampling.ops,
    "operators.Sources" -> graft.operators.Sources.ops,
    "operators.Funcs" -> graft.operators.Funcs.ops,
    "graph.GraphQueries" -> graft.graph.GraphQueries.ops,
    "text.TextAnalysis" -> graft.text.TextAnalysis.ops,
    "dedup.Dedup" -> graft.dedup.Dedup.ops,
    "similarity.Ann" -> graft.similarity.Ann.ops,
    "similarity.Cluster" -> graft.similarity.Cluster.ops,
    "multimodal.Multimodal" -> graft.multimodal.Multimodal.ops,
    "streaming.Streaming" -> graft.streaming.Streaming.ops)

  val Queries: Seq[String] = Seq(
    "q_topk_pergroup", "q_asof_join", "q_sample_weighted", "q_sample_balanced", "source_csv",
    "q_date_funcs", "q_histogram", "graph_cc", "graph_k_core", "graph_from_tpch",
    "text_fingerprint", "dedup_exact", "ann_range", "ann_kmeans", "mm_decode_meta",
    "mm_resize", "stream_dedup")

  /** Micro-batch progress of every streaming query the session ran. */
  final class StreamProgress extends StreamingQueryListener {
    val durations = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      batches.incrementAndGet()
      e.progress.durationMs.forEach((k, v) => durations.merge(k, v, (a, b) => a + b))
    }
  }

  def run(r: Run): Unit = {
    val corpus = r.info.getOrElse("corpus", sys.error("warehouse_mini needs --corpus"))
    val refFile = Paths.get(sys.props("perfbench.reference"))
    val spark = r.startSession()
    val progress = new StreamProgress
    if (r.tracer.enabled) spark.streams.addListener(progress)
    // Warm-up without the corpus: parquet write and read, then the
    // planner and operator paths the queries share (aggregate, join,
    // window, sort, distinct, set ops, string and date functions), so
    // which query happens to run first changes less what it costs.
    val warmDir = r.work.resolve("warm.parquet").toString
    spark.range(20000).selectExpr("id % 100 AS k", "id AS v", "CAST(id AS STRING) AS s",
      "date_add(DATE'2020-01-01', CAST(id % 365 AS INT)) AS d").write.parquet(warmDir)
    val warm = spark.read.parquet(warmDir)
    val byK = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("v")
    Seq[org.apache.spark.sql.DataFrame](
      warm.groupBy("k").agg(sum("v"), avg("v"), count(lit(1)), max("d")),
      warm.groupBy("k").agg(sum("v").as("t")).join(warm.filter("v < 1000"), "k"),
      warm.withColumn("r", row_number().over(byK)).filter("r <= 3"),
      warm.orderBy(desc("v")).limit(10),
      warm.select(concat(col("s"), lit("-")).as("c"), substring(col("s"), 1, 2).as("p"),
        regexp_replace(col("s"), "1", "x").as("x"), year(col("d")).as("y")).distinct(),
      warm.select("k").except(warm.filter("v < 500").select("k")).union(warm.select("k").limit(5))
    ).foreach(_.collect())
    r.beginWindow()

    val moduleOf = modules.flatMap { case (m, ops) => ops.map(_.name -> m) }.toMap
    val rng = new java.util.SplittableRandom(r.seed)
    val order = Queries.toArray
    for (i <- order.indices.reverse) { val j = rng.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t }
    val times = mutable.ArrayBuffer.empty[Double]
    val fps = mutable.LinkedHashMap.empty[String, String]
    order.foreach { name =>
      val op = r.tracer.newOp()
      val t0 = System.nanoTime()
      try {
        val fp = r.tracer.span(op, moduleOf(name), name)(Fingerprint.of(SparkEntry.queries(name)(spark, corpus)))
        times += (System.nanoTime() - t0) / 1e9
        fps(name) = fp.toString
        r.log(f"$name%-32s ${times.last}%.2f s")
      } catch {
        case NonFatal(e) =>
          r.outcomes.record(name, e.getClass.getName)
          r.log(s"$name failed: $e")
      }
    }
    r.endWindow()
    r.metric("suite_s", r.windowSeconds, "s", order.length)
    r.timing("query_p50_s", "s", times.toSeq)
    r.timing("query_p90_s", "s", times.toSeq, 0.9)
    r.timing("op_p50_ms", "ms", times.toSeq.map(_ * 1e3))
    r.metric("ops_per_s", fps.size / r.windowSeconds, "1/s", fps.size)
    r.info("query_order") = order.mkString(",")

    // Reference fingerprints: recorded once from a commit whose DuckDB
    // gate is green (perfbench.record=true), compared on every other run;
    // a query missing from the reference is a mismatch.
    if (sys.props.get("perfbench.record").contains("true")) {
      val doc = fps.toSeq.sortBy(_._1).map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }
        .mkString("{\n", ",\n", "\n}\n")
      Files.write(refFile, doc.getBytes(UTF_8))
      fps.keys.foreach(r.outcomes.ok)
    } else {
      val want = if (Files.exists(refFile)) "\"([^\"]+)\":\\s*\"([^\"]+)\"".r
        .findAllMatchIn(new String(Files.readAllBytes(refFile), UTF_8)).map(m => m.group(1) -> m.group(2)).toMap
      else Map.empty[String, String]
      fps.foreach { case (name, fp) =>
        if (want.get(name).contains(fp)) r.outcomes.ok(name) else r.outcomes.record(name, "mismatch")
      }
    }

    if (r.tracer.enabled) {
      r.tracer.listener.settle()
      val spans = r.tracer.all
      val stats = spans.map(r.tracer.statsOf)
      r.metric("Tables.input_mb", stats.map(_.inputBytes).sum / 1048576.0, "MB", spans.size)
      r.metric("Tables.input_rows", stats.map(_.inputRows).sum.toDouble, "count", spans.size)
      modules.map(_._1).foreach { m =>
        val ss = spans.filter(_.layer == m)
        val st = ss.map(r.tracer.statsOf)
        r.metric(s"$m.wall_s", ss.map(_.seconds).sum, "s", ss.size)
        r.metric(s"$m.executor_cpu_s", st.map(_.cpuNs).sum / 1e9, "s", ss.size)
        r.metric(s"$m.shuffle_mb", st.map(_.shuffleBytes).sum / 1048576.0, "MB", ss.size)
        r.metric(s"$m.jobs", st.map(_.jobs).sum.toDouble, "count", ss.size)
        r.metric(s"$m.driver_s", ss.map(r.tracer.driverSeconds).sum, "s", ss.size)
      }
      r.metric("streaming.Streaming.batches", progress.batches.get.toDouble, "count", 1)
      Seq("addBatch", "walCommit", "commitOffsets", "queryPlanning").foreach { k =>
        r.metric(s"streaming.Streaming.${k}_ms",
          Option(progress.durations.get(k)).map(_.doubleValue).getOrElse(0.0), "ms", progress.batches.get)
      }
    }
  }
}
