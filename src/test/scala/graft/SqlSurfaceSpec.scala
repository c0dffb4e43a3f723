package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

/** Every gate op is a SQL table function of its data dir, and its SQL
  * answer is the op's answer: rows are compared under the driver's
  * column-name-sorted convention, the same shape the DuckDB oracle
  * gate hashes.
  */
class SqlSurfaceSpec extends SparkSpec with TimeLimits {

  implicit val signaler: Signaler = ThreadSignaler

  private def canon(df: DataFrame): Set[Seq[Any]] =
    rowsOf(df.select(df.columns.sorted.map(col).toIndexedSeq: _*))

  // Each answer is collected before the other call runs: a write-path
  // op rewrites its fixed scratch files on every call.
  private def assertSameAsOp(name: String): Unit = {
    val viaSql = spark.sql(s"SELECT * FROM $name('$sfDir')")
    val (sqlCols, sqlRows) = (viaSql.columns.sorted.toSeq, canon(viaSql))
    val op = SparkEntry.queries(name)(spark, sfDir)
    assert(sqlCols === op.columns.sorted.toSeq, s"$name: columns")
    assert(sqlRows === canon(op), s"$name: rows differ between spark.sql and operator")
  }

  test("every gate op is registered as a table function") {
    val registry = spark.sessionState.tableFunctionRegistry
    val missing = SparkEntry.queries.keySet.filterNot(n => registry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not registered: $missing")
  }

  // One op per execution shape: plain relational, driver fixpoint,
  // driver twin, write path, catalog-served model, mapPartitions
  // kernel, custom Catalyst expressions, rows-only.
  Seq("q1_agg", "graph_bfs", "graph_dfs_preorder", "source_csv", "ann_kmeans",
    "dedup_minhash_lsh", "ann_topk_bruteforce", "q_approx_distinct").foreach { name =>
    test(s"$name through spark.sql equals the op") {
      assertSameAsOp(name)
    }
  }

  test("stream_ewma through spark.sql equals the op, without deadlocking the catalog") {
    // A builder that ran the op under the session catalog's lock would
    // hang here: the stream thread's session clone waits on that lock.
    // failAfter interrupts the drain, and the stop timeout bounds the
    // op's final join on the blocked stream thread, so the call returns
    // and releases the lock instead of hanging the suite.
    spark.conf.set("spark.sql.streaming.stopTimeout", "30s")
    try failAfter(Span(180, Seconds)) {
      assertSameAsOp("stream_ewma")
    } finally spark.conf.unset("spark.sql.streaming.stopTimeout")
  }

  test("a call that is not one string literal fails at analysis, naming the op") {
    SqlSurface.register(spark, sfDir)
    Seq(
      "SELECT * FROM graph_bfs()",
      s"SELECT * FROM graph_bfs('$sfDir', '$sfDir')",
      "SELECT * FROM graph_bfs(1)",
      "SELECT * FROM nation, LATERAL graph_bfs(n_name)").foreach { sql =>
      val e = intercept[AnalysisException](spark.sql(sql))
      assert(e.getMessage.contains("`graph_bfs`"), s"$sql: ${e.getMessage}")
      assert(e.getMessage.contains("string literal"), s"$sql: ${e.getMessage}")
      assert(e.getMessage.contains("data dir"), s"$sql: ${e.getMessage}")
    }
  }

  test("a table function joins a registered view like the op joins the frame") {
    SqlSurface.register(spark, sfDir)
    val viaSql = spark.sql(
      s"SELECT b.*, g.dst FROM graph_bfs('$sfDir') b JOIN graph_nation g ON b.vertex = g.src")
    val bfs = SparkEntry.queries("graph_bfs")(spark, sfDir)
    val nation = graph.DerivedGraphs.nationEdges(spark, sfDir)
    val viaOp = bfs.join(nation, bfs("vertex") === nation("src")).select(bfs("*"), nation("dst"))
    val rows = canon(viaSql)
    assert(rows.nonEmpty)
    assert(rows === canon(viaOp))
  }

  test("warehouse tables and named graphs are queryable as views") {
    SqlSurface.register(spark, sfDir)
    (Tables.names ++ Seq("graph_supply", "graph_supply_und", "graph_nation", "graph_hash"))
      .foreach { v =>
        assert(spark.sql(s"SELECT * FROM $v LIMIT 1").count() === 1L, v)
      }
  }

  test("custom catalyst expressions are callable from SQL") {
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
        "graft_norm(array(3.0d, 4.0d)) AS n").head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 5.0)
  }
}
