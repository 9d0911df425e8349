package org.apache.spark.sql.graftshim

import graft.functions.Binding
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.LeafExecNode
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.vectorized.ColumnarBatch

/** The scan leaf of a kept in-thread pipeline ([[Shim.keptPipeline]]),
  * in place of the prepared plan's `FileSourceScanExec`: a columnar
  * Parquet scan of one partition whose files and pushed filters are the
  * current run's ([[Binding.current]]), not the plan's. It reads them
  * through a copy, per run, of `factory`, one Spark V2 Parquet reader
  * factory per shape, so the Hadoop conf it carries is broadcast once
  * per shape. The V2 reader yields the batches the V1 scan would:
  * `OnHeapColumnVector` data columns and `ConstantColumnVector`
  * partition columns, so the replaced scan's `vectorTypes` still
  * describe them to the generated code above it. The reader is closed
  * by the run's completion listener, as Spark's `DataSourceRDD` closes
  * its own, and each batch's rows are counted into the run's binding.
  */
private[graftshim] case class RunScanExec(
    output: Seq[Attribute],
    factory: ParquetPartitionReaderFactory,
    override val vectorTypes: Option[Seq[String]]) extends LeafExecNode {

  override def supportsColumnar: Boolean = true

  override protected def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException("RunScanExec is columnar")

  override protected def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val factory = this.factory
    sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      val run = Binding.current
      val reader = factory.copy(filters = run.filters).createColumnarReader(run.split)
      TaskContext.get().addTaskCompletionListener[Unit](_ => reader.close())
      Iterator.continually(reader).takeWhile(_.next()).map { r =>
        val batch = r.get()
        run.rowsRead += batch.numRows
        batch
      }
    }
  }

  override def simpleString(maxFields: Int): String = s"RunScan parquet ${output.mkString("[", ",", "]")}"
}
