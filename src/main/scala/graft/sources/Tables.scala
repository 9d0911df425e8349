package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{
  FilePartition, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loader for the driver-provided parquet tables (TESTDATA.md).
  *
  * The testdata's timestamp encoding has changed across driver
  * regenerations, so the loader normalizes EVERY encoding seen so far
  * to session-timezone `TimestampType` (sessions run UTC):
  *
  *   - `INT64 TIMESTAMP(NANOS)`: Spark 4 refuses it by default
  *     (PARQUET_TYPE_ILLEGAL); read with
  *     `spark.sql.legacy.parquet.nanosAsLong` and convert the resulting
  *     nanos-longs with integer arithmetic (`div`, not `/` — a double
  *     division would lose precision above 2^53 ns).
  *   - `timestamp[us]` WITHOUT the isAdjustedToUTC flag: Spark 4 infers
  *     `TIMESTAMP_NTZ`, on which `cast(ts as long)`, `withWatermark`,
  *     and `approxQuantile` all fail. Disable the inference
  *     (`spark.sql.parquet.inferTimestampNTZ.enabled=false` — the
  *     naive micros are then read as UTC instants, matching how the
  *     DuckDB oracle treats them) AND defensively cast any NTZ column
  *     that still slips through (e.g. a schema captured before the
  *     conf was set) — UTC session tz makes the cast a reinterpret.
  *   - proper `timestamp[us, UTC]` (our own rewrites): passes through.
  *
  * At 100 TB the same loader shape holds: one `spark.read.parquet` per
  * table root, column pruning + predicate pushdown handled by the
  * parquet scan, no driver-side work.
  */
object Tables {

  /** Timestamp-typed columns per table (everything else is scalar). */
  private val TsColumns: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"),
    "lineitem" -> Seq("l_shipdate"),
    "orders" -> Seq("o_orderdate"))

  /** Session confs required to read every testdata timestamp encoding.
    * Runtime-settable, so this also covers driver-provided sessions
    * whose builders we don't control. Call before ANY testdata read —
    * batch or the batch schema-capture that feeds `readStream`.
    */
  def setReadConfs(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // The defensive NTZ→LTZ cast in normalizeCol is a pure reinterpret
    // ONLY under a UTC session timezone; on an external session left at
    // a local zone the cast would shift instants by the zone offset.
    // Runtime-settable, so pin it here with the other read confs.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  /** Normalize one possibly-odd timestamp column to `TimestampType`. */
  private def normalizeCol(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case LongType => expr(s"timestamp_micros($c div 1000)") // nanos-as-long
      case TimestampNTZType => col(c).cast(TimestampType) // UTC session tz: reinterpret
      case _ => col(c)
    }

  /** Normalize every known-timestamp column of `df` (plus ANY residual
    * NTZ column, whatever its name) to `TimestampType`. Works on batch
    * and streaming frames alike.
    */
  def normalizeTimestamps(df: DataFrame, name: String): DataFrame = {
    val known = TsColumns.getOrElse(name, Nil).filter(df.schema.fieldNames.contains)
    val ntz = df.schema.fields.collect { case f if f.dataType == TimestampNTZType => f.name }
    (known ++ ntz).distinct.foldLeft(df)((d, c) => d.withColumn(c, normalizeCol(d, c)))
  }

  /** Schema for `spark.readStream.schema(...)` over a testdata table:
    * the batch-inferred schema with the read confs applied and any NTZ
    * field mapped to `TimestampType` (the parquet reader accepts an
    * LTZ requested type for naive-micros files; only INFERENCE is
    * encoding-sensitive). Nanos-long columns stay `LongType` here —
    * [[normalizeTimestamps]] converts them after the stream is built.
    */
  def streamSchema(spark: SparkSession, path: String): StructType = {
    setReadConfs(spark)
    val inferred = schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)
    StructType(inferred.map { f =>
      if (f.dataType == TimestampNTZType) f.copy(dataType = TimestampType) else f
    })
  }

  /** Inferred schema per testdata file path — METADATA caching only
    * (the data is re-read by every consumer; nothing here memoizes
    * results). The testdata tables are immutable for a process
    * lifetime, yet every `load` call paid a fresh driver-side footer
    * read + schema inference at analysis time (ResolveDataSource
    * frames in round-16 plan-construction stack samples) — ~250
    * entries × 2 bench passes × several loads each. A real deployment
    * gets the same effect from a catalog table's stored schema.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    setReadConfs(spark)
    normalizeTimestamps(readStable(spark, s"$sfDir/$name.parquet"), name)
  }

  /** `spark.read.parquet(path)` with the path's schema cached after the
    * first inference — for paths whose SCHEMA is fixed for the path's
    * process lifetime: the immutable testdata tables, and the store
    * directories, whose content moves through swap/compact/heal
    * transactions but whose column set never does (per-path temp dirs,
    * never reused across runs). Skips the per-call footer read +
    * inference (~85 ms of driver latency per analysis at bench SF,
    * measured on both a 16-dir bucket store and a one-row stats file) —
    * a store-maintenance transaction re-reads its store/stats/manifest
    * several times per call. Caches METADATA only: every consumer still
    * reads the parquet bytes themselves. A catalog deployment gets the
    * same effect from the table's stored schema.
    */
  def readStable(spark: SparkSession, path: String): DataFrame = {
    // bound, not LRU: store paths are per-run temp dirs, so a
    // long-lived process would otherwise accumulate dead entries.
    // A clear only costs re-inference (correctness unaffected).
    if (schemaCache.size > 4096) schemaCache.clear()
    val schema = schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Write `df` as a bucketed (and per-bucket sorted) parquet table at
    * an explicit path, registered as `table` in the session catalog.
    *
    * Bucketing is the 100 TB join strategy this library leans on: two
    * tables bucketed on the same key with the same bucket count join
    * with ZERO exchanges — the shuffle is paid once at write time and
    * amortized over every subsequent join/aggregation on that key
    * (asserted plan-level in BucketingSpec). `sortBy` additionally lets
    * the sort-merge join skip its per-partition sorts when each bucket
    * is a single file.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      path: String,
      bucketCol: String,
      buckets: Int): Unit =
    df.write
      .mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Append `cols` (FRESH names only — never a replacement) in ONE
    * projection. Semantic twin of the equivalent `withColumn` chain:
    * the optimizer sees the identical Project, so the physical plan is
    * unchanged. The difference is pure driver latency — every chained
    * `withColumn` call eagerly re-analyzes the whole accumulated plan,
    * so a 128-column fold pays 128 analyzer passes over trees that
    * carry the previous columns' literal-heavy expressions (O(n²)
    * planning; profiled round 16: 2.9 s of ivfpq_stored's 3.1 s wall
    * was plan construction, execution 0.2 s).
    */
  def addColumns(df: DataFrame, cols: Seq[(String, Column)]): DataFrame =
    if (cols.isEmpty) df
    else df.select(col("*") +: cols.map { case (n, c) => c.as(n) }: _*)

  /** The input splits a scan of `dirs` reads — Spark's own split
    * size, file splitting and bin-packing (what FileSourceScanExec
    * applies; parquet is splittable), with the files in Spark's order
    * (length, descending; `dirs` in the file index's order) — from file
    * metadata only: no job, no physical planning.
    */
  def filePartitions(spark: SparkSession, dirs: Seq[PartitionDirectory]): Seq[FilePartition] = {
    val maxSplitBytes = FilePartition.maxSplitBytes(spark, dirs)
    val splits = for {
      d <- dirs
      f <- d.files
      s <- PartitionedFileUtil.splitFiles(f, f.getPath, true, maxSplitBytes, d.values)
    } yield s
    FilePartition.getFilePartitions(spark, splits.sortBy(-_.length), maxSplitBytes)
  }

  /** The number of [[filePartitions]] of `dirs`. */
  def splitCount(spark: SparkSession, dirs: Seq[PartitionDirectory]): Int = filePartitions(spark, dirs).size

  /** Spread a narrow compute-heavy stage across the cluster when the
    * scan gives too few input splits. The test corpus is ONE sub-MB
    * parquet file → one partition, so every per-row md5/shingle stage
    * before the first exchange ran on a single task (this was the
    * round-2 "md5-family bench blowup"). A real 100 TB corpus has
    * thousands of splits and takes the `df` branch — the shuffle is
    * never paid where scan parallelism already exists.
    *
    * The split count comes from FILE METADATA of the optimized plan's
    * file relations ([[splitCount]]), each root read once. `df.rdd`
    * here would force physical planning and, under AQE, eagerly execute
    * any upstream shuffle stages at plan-construction time. A frame
    * with no file relation, no files, or only cached data (the
    * optimizer swaps a cached subtree for its in-memory relation) is
    * left alone.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val dirs = df.queryExecution.optimizedPlan
      .collect { case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location }
      .distinctBy(_.rootPaths.toSet)
      .flatMap(_.listFiles(Nil, Nil))
    if (dirs.forall(_.files.isEmpty) || splitCount(spark, dirs) >= math.max(target / 2, 2)) df
    else df.repartition(target)
  }
}
