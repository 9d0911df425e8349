package org.apache.spark.sql.graftshim

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkEnv, TaskContext, TaskContextImpl}
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetPartitionReaderFactory, ParquetScan}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.util.CaseInsensitiveStringMap
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

  /** The in-thread pipeline of `plan`, an analyzed plan whose physical
    * plan is one partition over one Parquet scan, built once and run
    * many times, each run under its own [[graft.functions.Binding]].
    *
    * The optimizer and the planner run once here, WITHOUT adaptive
    * execution: Spark's own non-adaptive preparation of the planned
    * tree (`EnsureRequirements`, codegen stages), the form a subquery's
    * plan takes. The session and its conf are the caller's; nothing is
    * changed for other queries. The plan's `FileSourceScanExec` is then
    * replaced by a [[RunScanExec]], which reads the run's split with the
    * run's pushed filters, and the plan is executed once: its generated
    * code is produced and compiled, its closures cleaned and its RDD
    * chain built here, not per run.
    *
    * The pipeline is shared by concurrent runs. Each run gets its own
    * instance of each generated class, its own hash map, sorter and
    * readers, but the objects the generated classes reference are
    * shared: the plan nodes, their `SQLMetric`s, schemas and query
    * contexts. Spark itself never shares them this way, since each task
    * deserializes its own copy, so a plan whose nodes keep run-time
    * state in such an object is not safe to keep.
    */
  def keptPipeline(spark: SparkSession, plan: LogicalPlan): Pipeline = {
    val session = spark.asInstanceOf[classic.SparkSession]
    session.withActive {
      val prepared = QueryExecution.prepareExecutedPlan(session, analyzedFrame(session, plan).queryExecution.sparkPlan)
      val scans = prepared.collect { case s: FileSourceScanExec => s }
      require(scans.size == 1, s"a kept pipeline needs one file scan, got ${scans.size}")
      val scan = scans.head
      require(scan.relation.fileFormat.isInstanceOf[ParquetFileFormat] && scan.supportsColumnar,
        s"a kept pipeline needs a columnar Parquet scan: $scan")
      val kept = prepared.transform {
        case `scan` => RunScanExec(scan.output, readerFactory(session, scan), scan.vectorTypes)
      }
      val rdd = kept.execute()
      require(rdd.partitions.length == 1, s"a kept pipeline needs one partition, got ${rdd.partitions.length}")
      Pipeline(kept, rdd, scan.dataFilters)
    }
  }

  /** The Parquet reader factory of `scan`, as Spark's V2 Parquet scan
    * builds it: the Hadoop conf is set up and broadcast here, once.
    * Pushed filters are left out; a run sets its own with `copy`.
    */
  private def readerFactory(session: classic.SparkSession, scan: FileSourceScanExec): ParquetPartitionReaderFactory = {
    val r = scan.relation
    ParquetScan(session, session.sessionState.newHadoopConfWithOptions(r.options),
      r.location.asInstanceOf[PartitioningAwareFileIndex], r.dataSchema, scan.requiredSchema, r.partitionSchema,
      Array.empty, new CaseInsensitiveStringMap(r.options.asJava))
      .createReaderFactory().asInstanceOf[ParquetPartitionReaderFactory]
  }

  /** The filters a scan pushes to its file source for `dataFilters`,
    * its data filters with values in place of slots: Spark's own
    * translation, as `FileSourceScanExec` makes it.
    */
  def pushedFilters(dataFilters: Seq[Expression]): Array[Filter] =
    dataFilters.flatMap(DataSourceStrategy.translateFilter(_, supportNestedPredicatePushdown = true)).toArray

  /** The rows of the one partition of `rdd`, computed on the calling
    * thread the way `Task.run` computes a task, but without `runJob`: no
    * scheduler, no task serialization, no task-binary broadcast and no
    * hand-off to an executor thread. The run is a task of its own to
    * the memory and block managers, under a fresh NEGATIVE attempt id
    * (the scheduler's are non-negative, and the block manager's non-task
    * id, -1024, is never reached), with the thread's local properties.
    * Rows are copied, since generated code reuses its row buffer.
    * Whatever happens, the completion listeners run (they close the
    * scan's readers, and [[RunScanExec]] reads through them alone) and
    * the attempt's locks, memory and task context are released: the
    * calling thread may be pooled. No job starts, so no job event is
    * posted and no job group can cancel the run. `rdd` is used as it
    * is, so a kept [[Pipeline]] runs with no `execute()`, code
    * generation or broadcast.
    */
  def runOnePartition(rdd: RDD[InternalRow]): Array[InternalRow] = {
    require(rdd.partitions.length == 1, s"runOnePartition needs one partition, got ${rdd.partitions.length}")
    val env = SparkEnv.get
    val id = inThreadAttempts.incrementAndGet()
    val memory = new TaskMemoryManager(env.memoryManager, id)
    val ctx = new TaskContextImpl(0, 0, 0, id, 0, 1, memory,
      Utils.cloneProperties(rdd.sparkContext.getLocalProperties), env.metricsSystem)
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

  /** A kept in-thread pipeline ([[keptPipeline]]): `plan`, the physical
    * plan it runs, over slots; `rdd`, that plan executed once; and
    * `dataFilters`, the data filters of its scan, over slots, from
    * which a run's pushed filters are derived ([[pushedFilters]]).
    */
  final case class Pipeline(plan: SparkPlan, rdd: RDD[InternalRow], dataFilters: Seq[Expression])

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
