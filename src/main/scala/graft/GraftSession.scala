package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults.
  *
  * Local runs use `local[N]` (one JVM); on a real cluster the same
  * settings apply except parallelism, which should track cluster cores.
  * AQE is always on: it re-plans shuffles at runtime (coalescing small
  * partitions, switching to broadcast joins, splitting skewed
  * partitions) — the mechanisms this engine relies on at 100 TB.
  */
object GraftSession {

  /** Apply graft's defaults to an existing builder, and make every
    * gate op a SQL table function ([[SqlSurface.inject]]).
    */
  def tuned(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.withExtensions(functions.VectorExpressions.register)
      .withExtensions(SqlSurface.inject)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // events.ts: corpora have shipped it as parquet TIMESTAMP(NANOS)
      // (read as raw nanosecond longs under this conf — exact, no
      // truncation surprises) and as timestamp[us] with no timezone
      // (read as TIMESTAMP_NTZ; this conf is then inert). Every ts
      // consumer branches on the resolved schema and reduces to the
      // same integer epoch seconds either way.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Local session for tests and ad-hoc runs. */
  def local(cores: Int = 4, appName: String = "graft"): SparkSession = {
    val spark = tuned(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      shufflePartitions = cores
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
