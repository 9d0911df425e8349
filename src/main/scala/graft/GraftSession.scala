package graft

import org.apache.spark.sql.SparkSession

/** The one local-session builder for graft's entry points (Bench,
  * Verify, ScaleUp) and the spec suite: the confs every graft session
  * needs, set at build time. Callers add what is theirs (an app name)
  * and call `getOrCreate()`.
  */
object GraftSession {
  def local(cpus: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // fork-free local chmod (no libhadoop on this deployment): every
      // created file otherwise pays a forked `chmod` process — see
      // graft.hadoop.NioLocalFileSystem. Set at build time so the very
      // first file:// access caches the right implementation.
      .config(
        graft.hadoop.NioLocalFileSystem.SparkConfKey,
        graft.hadoop.NioLocalFileSystem.className)
      // ...and its FileContext twin: the streaming checkpoint layer
      // (offset/commit logs, state-store deltas) binds file:// through
      // fs.AbstractFileSystem.file.impl, a separate hierarchy that
      // still forked per state file (NioLocalFileSystem scaladoc)
      .config(
        graft.hadoop.NioLocalFileSystem.SparkAbstractConfKey,
        graft.hadoop.NioLocalFileSystem.abstractClassName)
      // list ≤1024-directory stores on the driver (default threshold
      // 32): on a LOCAL filesystem a directory listing is a syscall,
      // while the parallel-discovery Spark job ships a ~1k-entry Hadoop
      // conf to one task per directory — two such 256-task listing jobs
      // cost ~1.5 s per store-maintenance call at sf0.1 (profiled,
      // optimization round 15). Deployment-specific, parameterised
      // here: an object-store cluster (where per-dir listing is an RPC)
      // keeps the default or lowers it — SPARK_GRAFT_LIST_THRESHOLD.
      .config(
        "spark.sql.sources.parallelPartitionDiscovery.threshold",
        sys.env.getOrElse("SPARK_GRAFT_LIST_THRESHOLD", "1024"))
}
