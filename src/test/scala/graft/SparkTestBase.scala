package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark specs (JVM-forked by sbt). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession.local("4", "4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
  val Sf01 = "/root/testdata/sf0.1"
}
