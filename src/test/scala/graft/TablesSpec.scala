package graft

import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The one split counter: `Tables.splitCount` must predict the number of
  * input partitions Spark's own parquet scan produces, from file
  * metadata alone, and `Tables.fanOut` must act on that count only.
  */
class TablesSpec extends AnyFunSuite {
  import SparkTestBase._

  private def written(files: Int, rows: Long): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables_spec").toString + "/t"
    spark.range(rows).selectExpr("id", "rand(7) AS r", "uuid() AS u")
      .repartition(files).write.parquet(dir)
    dir
  }

  private def dirsOf(path: String) =
    spark.read.parquet(path).queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location.listFiles(Nil, Nil)
    }.get

  private def withMaxPartitionBytes[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def assertMatchesScan(path: String): Int = {
    val n = Tables.splitCount(spark, dirsOf(path))
    assert(n === spark.read.parquet(path).rdd.getNumPartitions, path)
    n
  }

  test("splitCount equals the parquet scan's partition count for three layouts") {
    val oneSmall = written(1, 100L)
    val manySmall = written(12, 1200L)
    val oneLarge = written(1, 50000L)
    assert(assertMatchesScan(oneSmall) === 1)
    assert(assertMatchesScan(manySmall) > 1)
    withMaxPartitionBytes(64L * 1024) {
      val len = new java.io.File(oneLarge).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      assert(len > 64L * 1024, s"fixture file is only $len bytes")
      assert(assertMatchesScan(oneLarge) > 1)
    }
  }

  test("fanOut repartitions a one-split scan and leaves other frames' plans unchanged") {
    import spark.implicits._
    val local = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(Tables.fanOut(local) eq local)
    val many = spark.read.parquet(written(12, 1200L))
    assert(Tables.fanOut(many) eq many)
    val oneDir = written(1, 100L)
    val one = spark.read.parquet(oneDir)
    assert(Tables.fanOut(one).queryExecution.analyzed.exists(_.isInstanceOf[Repartition]))
    // a self-join reads its one file once, and cached data is not a scan
    val self = one.as("a").join(one.as("b"), "id")
    assert(Tables.fanOut(self).queryExecution.analyzed.exists(_.isInstanceOf[Repartition]))
    val cached = spark.read.parquet(oneDir).cache()
    try {
      cached.count()
      val again = spark.read.parquet(oneDir)
      assert(Tables.fanOut(again) eq again)
    } finally { cached.unpersist(blocking = true); () }
  }
}
