package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The degeneracy-serialized BUCKET-PEEL for coreness, kept as the
  * independent oracle the coreness specs check both of
  * `GraphOps.coreness`' paths against: each round jumps k to the
  * remaining min degree, peels every vertex of degree ≤ k, prunes, and
  * emits prune-isolated survivors at k. Two differently shaped
  * algorithms agreeing is the strongest check available for an op
  * DuckDB cannot express directly.
  */
object CorenessPeel {
  def apply(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val (s, d) = (col("src").cast("long"), col("dst").cast("long"))
    var e = edges.select(least(s, d).as("u"), greatest(s, d).as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint()
    var n = e.count()
    val peeled = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var k = 0L
    while (n > 0) {
      // one degree frame per round, checkpointed: feeds the min-degree
      // probe, the peel emit, and the prune — never recomputed
      val deg = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
        .groupBy("x").agg(count(lit(1)).as("d")).localCheckpoint()
      val kmin = deg.agg(min(col("d"))).head().getLong(0)
      if (kmin > k) k = kmin
      peeled += deg.where(col("d") <= k)
        .select(col("x").as("vertex"), lit(k).as("coreness")).localCheckpoint()
      val keep = deg.where(col("d") > k).select("x")
      e = e.join(keep.select(col("x").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("x").as("v")), Seq("v"), "left_semi")
        .localCheckpoint()
      n = e.count()
      // A kept vertex (degree > k) whose neighbors were ALL peeled this
      // round loses every incident edge in the prune, so it never
      // appears in a later degree frame — yet its sequential-peel level
      // is exactly k (its degree falls to ≤ k as the neighbors leave:
      // it is in the k-core but cannot be in the (k+1)-core, whose
      // whole component just vanished). Emit those prune-isolated
      // vertices now at coreness k — e.g. a star hub, whose leaves get
      // coreness 1 while the hub would otherwise silently vanish.
      val isolated = keep.join(
        e.select(col("u").as("x")).unionAll(e.select(col("v").as("x"))).distinct(),
        Seq("x"), "left_anti")
      peeled += isolated
        .select(col("x").as("vertex"), lit(k).as("coreness")).localCheckpoint()
    }
    peeled.foldLeft(Seq.empty[(Long, Long)].toDF("vertex", "coreness"))(_ unionAll _)
  }
}
