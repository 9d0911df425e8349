package org.apache.spark.sql.graftshim

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{SparkEnv, TaskContext, TaskContextImpl}
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.util.Utils

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

  /** The rows of `plan`, a physical plan of exactly one partition,
    * computed on the calling thread the way `Task.run` computes a task,
    * but without `runJob`: no scheduler, no task serialization, no
    * task-binary broadcast and no hand-off to an executor thread. The
    * run is a task of its own to the memory and block managers, under a
    * fresh NEGATIVE attempt id (the scheduler's are non-negative, and
    * the block manager's non-task id, -1024, is never reached), with the
    * thread's local properties. Rows are copied, since generated code
    * reuses its row buffer. Whatever happens, the completion listeners
    * run (they close the scan's readers) and the attempt's locks, memory
    * and task context are released: the calling thread may be pooled.
    * No job starts, so no job event is posted and no job group can
    * cancel the run.
    */
  def runOnePartition(spark: SparkSession, plan: SparkPlan): Array[InternalRow] = spark.withActive {
    val rdd = plan.execute()
    require(rdd.partitions.length == 1, s"runOnePartition needs one partition, got ${rdd.partitions.length}")
    val env = SparkEnv.get
    val id = inThreadAttempts.incrementAndGet()
    val memory = new TaskMemoryManager(env.memoryManager, id)
    val ctx = new TaskContextImpl(0, 0, 0, id, 0, 1, memory,
      Utils.cloneProperties(spark.sparkContext.getLocalProperties), env.metricsSystem)
    TaskContext.setTaskContext(ctx)
    env.blockManager.registerTask(id)
    var error: Option[Throwable] = None
    try rdd.iterator(rdd.partitions.head, ctx).map(_.copy()).toArray
    catch {
      case e: Throwable =>
        error = Some(e)
        ctx.markTaskFailed(e)
        throw e
    } finally {
      try ctx.markTaskCompleted(error)
      finally {
        env.blockManager.releaseAllLocksForTask(id)
        memory.cleanUpAllAllocatedMemory()
        TaskContext.unset()
      }
    }
  }

  // counts up from Long.MinValue: negative for the next 2^63 runs
  private val inThreadAttempts = new AtomicLong(Long.MinValue)

  /** Post `event` on the session's listener bus, to every listener. */
  def postEvent(spark: SparkSession, event: SparkListenerEvent): Unit =
    spark.sparkContext.listenerBus.post(event)

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
