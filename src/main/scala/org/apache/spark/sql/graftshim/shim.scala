package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}

/** Minimal bridge into `private[sql]` surface, the same technique public
  * Spark extensions (Sedona, frameless, spark-daria) use: a shim compiled
  * inside an `org.apache.spark.sql` subpackage so that custom Catalyst
  * `Expression`s can be exposed as public `Column`s and registered for SQL.
  * Nothing else in the codebase touches Spark internals directly.
  */
object Shim {

  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Unwrap a Column back into its Catalyst expression. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The DataFrame of `plan`, an already analyzed plan: it is marked
    * analyzed, so building the frame runs no analyzer rule over it.
    */
  def analyzedFrame(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  }

  /** The physical plan of `plan`, an analyzed plan, prepared for
    * execution WITHOUT adaptive execution: the optimizer and the planner
    * run once here, and the result is Spark's own non-adaptive
    * preparation of the planned tree (`EnsureRequirements`, codegen
    * stages), the form a subquery's plan takes. The session and its
    * conf are the caller's; nothing is changed for other queries.
    */
  def preparedPlan(spark: SparkSession, plan: LogicalPlan): SparkPlan = {
    val session = spark.asInstanceOf[classic.SparkSession]
    session.withActive(QueryExecution.prepareExecutedPlan(session, analyzedFrame(session, plan).queryExecution.sparkPlan))
  }

  /** `body` with `spark` as the thread's active session. A `SparkPlan`
    * node takes its session from there when it is built or copied, and
    * runs in it.
    */
  def withActive[T](spark: SparkSession)(body: => T): T = spark.withActive(body)

  /** Register an expression builder under `name` for SQL usage. */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(name),
      new ExpressionInfo("graft", name),
      builder)
  }

  /** The (identifier, info, builder) triple `SparkSessionExtensions
    * .injectFunction` expects — lets graft ship as a standard
    * `spark.sql.extensions` entry.
    */
  def functionDescription(
      name: String,
      builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo("graft", name), builder)
}
