package graft

import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkSpec {

  test("graft_dot / graft_norm match the interpreted higher-order fold bitwise") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, -5.0f, 6.0f)),
      (2L, Seq(0.1f, 0.2f), Seq(0.3f, 0.4f))
    ).toDF("id", "a", "b")
      .withColumn("va", expr("CAST(a AS ARRAY<DOUBLE>)"))
      .withColumn("vb", expr("CAST(b AS ARRAY<DOUBLE>)"))
    val r = df.select(
      expr("graft_dot(va, vb)").as("dot"),
      expr("aggregate(zip_with(va, vb, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)").as("ref_dot"),
      expr("graft_norm(va)").as("nrm"),
      sqrt(expr("aggregate(va, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)")).as("ref_nrm")
    ).collect()
    r.foreach { row =>
      assert(row.getDouble(0) === row.getDouble(1))
      assert(row.getDouble(2) === row.getDouble(3))
    }
  }

  test("graft_dot accepts float arrays directly (implicit cast at registration)") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("id", "a", "b")
    assert(df.select(expr("graft_dot(a, b)")).head.getDouble(0) === 11.0)
  }

  test("null arrays propagate null") {
    val r = spark.sql(
      "SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)), graft_norm(CAST(NULL AS ARRAY<DOUBLE>))")
      .head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("graft_isect equals size(array_intersect) on sorted deduped arrays") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(42)
    val rows = (0 until 200).map { i =>
      def arr() = Array.fill(rng.nextInt(60))(rng.nextInt(40).toLong)
        .distinct.sorted
      (i.toLong, arr(), arr())
    }
    val df = rows.toDF("id", "a", "b")
    val cmp = df.selectExpr("id",
      "graft_isect(a, b) AS fast",
      "CAST(size(array_intersect(a, b)) AS BIGINT) AS ref").collect()
    cmp.foreach(r => assert(r.getLong(1) === r.getLong(2), s"row ${r.getLong(0)}"))
    // edges: empty and disjoint
    val e = spark.sql(
      """SELECT graft_isect(array(), CAST(array(1, 2) AS ARRAY<BIGINT>)),
        |       graft_isect(CAST(array(1, 3) AS ARRAY<BIGINT>), CAST(array(2, 4) AS ARRAY<BIGINT>)),
        |       graft_isect(CAST(array(1, 2, 3) AS ARRAY<BIGINT>), CAST(array(1, 2, 3) AS ARRAY<BIGINT>))""".stripMargin)
      .head
    assert(e.getLong(0) === 0L && e.getLong(1) === 0L && e.getLong(2) === 3L)
  }

  test("graft_argmin_cell fails loudly on an empty candidate array and at analysis on a mistyped one") {
    val empty = spark.sql(
      """SELECT graft_argmin_cell(cs, array(1.0D), 1.0D)
        |FROM VALUES (CAST(array() AS ARRAY<STRUCT<cluster: INT, cv: ARRAY<DOUBLE>, c2: DOUBLE>>)) AS t(cs)""".stripMargin)
    val err = intercept[Exception](empty.collect())
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
    assert(messages.exists(_.contains("empty candidate array")), err)
    // the registration casts the candidates to their struct layout, and
    // an integer array cannot be cast to it
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_argmin_cell(array(1, 2), array(1.0D), 1.0D)"))
  }
}
