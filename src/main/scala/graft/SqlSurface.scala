package graft

import org.apache.spark.sql.{AnalysisException, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The engine's SQL front door.
  *
  * Every gate operator is a SQL table function of its data dir:
  * `SELECT * FROM graph_bfs('/data/sf1')` returns exactly the rows of
  * `SparkEntry.queries("graph_bfs")(spark, "/data/sf1")`, because the
  * function's plan *is* the operator's analyzed plan — fixpoints,
  * streams, layout ops and catalog-served models included. The
  * functions compose like any relation: joins, filters and
  * aggregates over them, and over the temp views [[register]] adds.
  * [[GraftSession]] injects them beside the custom Catalyst
  * expressions (`graft_dot`, `graft_norm`, ...).
  *
  * Scale note: view registration is lazy metadata (no
  * materialization; the derived-graph views serve the
  * session-cataloged frames, so a SQL user shares the
  * load-once-query-many graph cache with the Scala API — reference
  * load model: primary_server.c:153-176).
  */
object SqlSurface {

  /** Register the warehouse tables and named graphs for `dir` as temp
    * views: `region nation customer supplier part orders lineitem
    * events documents embeddings` plus `graph_supply`,
    * `graph_supply_und`, `graph_nation`, `graph_hash`.
    */
  def register(spark: SparkSession, dir: String): Unit = {
    Tables.names.foreach(n => Tables.load(spark, dir, n).createOrReplaceTempView(n))
    graph.DerivedGraphs.supplyEdges(spark, dir).createOrReplaceTempView("graph_supply")
    graph.DerivedGraphs.supplyEdgesUndirected(spark, dir)
      .createOrReplaceTempView("graph_supply_und")
    graph.DerivedGraphs.nationEdges(spark, dir).createOrReplaceTempView("graph_nation")
    graph.DerivedGraphs.hashEdges(spark, dir).createOrReplaceTempView("graph_hash")
    // Canonical event-time view: `events` + `ts_sec` (integer epoch
    // seconds, derived timezone-independently for whatever physical
    // type `ts` carries — see [[operators.Events.tsSecOf]]). A SQL
    // user can never be bitten by session-timezone drift.
    operators.Events.eventsSec(spark, dir).createOrReplaceTempView("events_sec")
  }

  /** Register every `SparkEntry` op as a table function of one string
    * literal, the data dir.
    *
    * Two steps, because Spark calls a table-function builder while
    * holding the session catalog's lock: a streaming op drains in a
    * thread whose session clone needs that lock, so running the op
    * inside the builder deadlocks. The builder therefore only checks
    * its arguments and returns an [[OpCall]]; the resolution rule
    * runs the op outside the lock and splices in its analyzed plan.
    */
  def inject(ext: SparkSessionExtensions): Unit = {
    SparkEntry.ops.foreach { op =>
      ext.injectTableFunction((
        FunctionIdentifier(op.name),
        new ExpressionInfo(classOf[OpCall].getName, op.name),
        (args: Seq[Expression]) => OpCall(op.name, dirArg(op.name, args))))
    }
    ext.injectResolutionRule(session => new Rule[LogicalPlan] {
      private lazy val queries = SparkEntry.queries
      def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
        case OpCall(name, dir) => queries(name)(session, dir).queryExecution.analyzed
      }
    })
  }

  /** An op's table-function call, before the op has run. */
  private case class OpCall(name: String, dir: String) extends LeafNode {
    override def output: Seq[Attribute] = Nil
    override lazy val resolved: Boolean = false
  }

  private def dirArg(name: String, args: Seq[Expression]): String = args match {
    case Seq(Literal(dir: UTF8String, _: StringType)) => dir.toString
    case _ =>
      throw new AnalysisException("INVALID_PARAMETER_VALUE.STRING", Map(
        "parameter" -> "`dir` (the data dir, its one argument)",
        "functionName" -> s"`$name`",
        "invalidValue" -> (if (args.isEmpty) "no argument" else args.map(_.sql).mkString(", "))))
  }
}
