package graft

import graft.operators.{Layout, Similarity, StoreManifest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The id→bucket manifest behind every store's old-home probe (r12
  * verdict #2): the probe must read ONLY the manifest partitions the
  * batch ids hash into (never store bytes), and the manifest must stay
  * exactly consistent with the store across upsert / delete / compact.
  */
class StoreManifestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** Synthetic id-unique store: 500 rows over 8 buckets. */
  private def baseStore: DataFrame =
    spark.range(500).select(
      col("id").as("vec_id"),
      (col("id") * 2).cast("double").as("val"),
      pmod(col("id"), lit(8L)).cast("int").as("bucket"))

  private def storePairs(
      path: String,
      idCol: String = "vec_id",
      bucketCol: String = "bucket"): Seq[(Long, Int)] =
    spark.read.parquet(path)
      .select(col(idCol), col(bucketCol).cast("int"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(identity).toSeq

  private def manifestPairs(path: String): Seq[(Long, Int)] =
    spark.read.parquet(StoreManifest.manifestPath(path))
      .select(col("id").cast("long"), col("bucket"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(identity).toSeq

  /** The old-home probe's answer for `ids` (the fused probe's second
    * action), against the store frame a maintenance call would pass.
    */
  private def oldHomes(
      path: String,
      ids: DataFrame,
      idCol: String = "vec_id",
      bucketCol: String = "bucket"): Set[Int] =
    StoreManifest.probeFused(spark, path, spark.read.parquet(path), ids, idCol, None, bucketCol)
      .oldHomes.toSet

  private def allScans(p: SparkPlan): Seq[FileSourceScanExec] = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case o => o.children.flatMap(allScans)
    }
    here ++ p.subqueries.flatMap(allScans)
  }

  /** Run `body` and return the executed plans of the `actions` driver
    * actions it ran (the execution listener is posted asynchronously,
    * so wait for them, bounded).
    */
  private def executedPlans[T](actions: Int)(body: => T): (T, Seq[SparkPlan]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val out = body
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.size < actions && System.nanoTime() < deadline) Thread.sleep(50)
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(l)
  }

  test("probe reads only the manifest partitions the batch ids hash into") {
    val path = java.nio.file.Files.createTempDirectory("graft_manifest_probe").toString + "/store"
    Similarity.ivfStoreWrite(baseStore, path)
    // store writers build manifests LAZILY (round 14) — materialize one
    // here the way the first maintenance call's heal path would
    StoreManifest.write(spark.read.parquet(path), path, "vec_id")
    import spark.implicits._
    val ids = Seq(7L, 123L).toDF("vec_id")
    // the fused probe runs two actions: the mpart collect over the ids,
    // then the old-home probe
    val (got, plans) = executedPlans(2)(oldHomes(path, ids))
    assert(got === Set((7 % 8), (123 % 8)))

    // the scan under the probe hits the manifest, with the mpart
    // IN-list in PartitionFilters, reading exactly the ids' partitions
    val scans = plans.flatMap(allScans)
    val mp = StoreManifest.manifestPath(path)
    val scan = scans
      .find(_.relation.location.rootPaths.exists(_.toString.contains(mp)))
      .getOrElse(fail("manifest scan not found in executed plan"))
    // expected mparts via the same public hash the manifest routes on
    val expectedParts = ids
      .select(pmod(xxhash64(col("vec_id")), lit(StoreManifest.Parts.toLong)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSet
    def filesUnder(parts: Iterable[Int]): Int = parts.toSeq.map { p =>
      val dir = new java.io.File(s"$mp/mpart=$p")
      Option(dir.listFiles).toSeq.flatten.count(_.getName.endsWith(".parquet"))
    }.sum
    val total = filesUnder(0 until StoreManifest.Parts)
    val numFiles = scan.metrics("numFiles").value
    info(s"probe read $numFiles of $total manifest files (${expectedParts.size} of ${StoreManifest.Parts} partitions)")
    assert(scan.partitionFilters.nonEmpty, "mpart IN-list did not reach PartitionFilters")
    assert(numFiles === filesUnder(expectedParts).toLong, "probe did not prune to the ids' manifest partitions")
    assert(numFiles < total.toLong, "nothing was pruned — all manifest partitions were read")
    // and NO scan of the store itself anywhere in the probe plans
    assert(
      !scans
        .exists(s => s.relation.location.rootPaths.exists(p =>
          p.toString.contains(path) && !p.toString.contains(".manifest"))),
      "probe plan scanned the store — the manifest exists to prevent exactly this")
  }

  test("append-only manifest: SUPERSET after upsert/delete, probes conservative, compact sweeps exact") {
    val path = java.nio.file.Files.createTempDirectory("graft_manifest_consist").toString + "/store"
    Similarity.ivfStoreWrite(baseStore, path)

    // upsert: 20 moved ids (bucket changes) + 20 brand-new ids. First
    // maintenance on a lazily-manifested store heals: manifest EXACT
    val batch = spark.range(100, 120).select(
      col("id").as("vec_id"),
      lit(-1.0).as("val"),
      pmod(col("id") + 3, lit(8L)).cast("int").as("bucket"))
      .unionByName(spark.range(500, 520).select(
        col("id").as("vec_id"),
        lit(-2.0).as("val"),
        pmod(col("id"), lit(8L)).cast("int").as("bucket")))
    Similarity.storeUpsert(spark, batch, path, payloadCols = Seq("val"))
    // first maintenance DEFERS the build (VERDICT r14 #2): no manifest
    // yet, backfill marker planted; the compaction-cadence rebuild
    // materializes it EXACTLY
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(
      !fs.exists(new org.apache.hadoop.fs.Path(StoreManifest.manifestPath(path))),
      "first call must not build the manifest synchronously")
    assert(
      fs.exists(new org.apache.hadoop.fs.Path(StoreManifest.backfillPath(path))),
      "first call must request the backfill")
    StoreManifest.rebuild(spark, path, "vec_id", idUnique = true)
    assert(
      !fs.exists(new org.apache.hadoop.fs.Path(StoreManifest.backfillPath(path))),
      "rebuild must clear the backfill marker")
    assert(manifestPairs(path) === storePairs(path), "backfill build must be exact")

    // second upsert MOVES ids 100-119 again: append-only leaves their
    // previous pairs as garbage — manifest must COVER the store (no
    // live row unindexed), and the probe answer must be a superset of
    // the true homes (conservative, never a miss)
    val move2 = spark.range(100, 120).select(
      col("id").as("vec_id"),
      lit(-4.0).as("val"),
      pmod(col("id") + 5, lit(8L)).cast("int").as("bucket"))
    Similarity.storeUpsert(spark, move2, path, payloadCols = Seq("val"))
    val sp = storePairs(path)
    val mp = manifestPairs(path)
    assert(sp.toSet.subsetOf(mp.toSet), "live pair missing from the manifest")
    assert(mp.size > sp.size, "fixture failed to create garbage pairs")
    import spark.implicits._
    val probed = oldHomes(path, Seq(105L).toDF("vec_id"))
    val trueHome = sp.filter(_._1 == 105L).map(_._2).toSet
    assert(trueHome.subsetOf(probed), "probe missed the true home")

    // delete: append-only writes nothing — the deleted ids' pairs stay
    // as garbage, live rows stay covered
    Similarity.storeDelete(spark, Seq(3L, 105L, 510L, 9999L).toDF("vec_id"), path)
    assert(storePairs(path).toSet.subsetOf(manifestPairs(path).toSet))
    assert(!storePairs(path).exists(p => Set(3L, 105L, 510L).contains(p._1)))

    // compact: the garbage sweep — manifest back to EXACT
    Similarity.ivfStoreCompact(spark, path)
    assert(manifestPairs(path) === storePairs(path), "compact did not sweep the garbage")
  }

  test("manifest writes land ONE parquet file per mpart directory per write (build and append)") {
    val path = java.nio.file.Files.createTempDirectory("graft_manifest_files").toString + "/store"
    Similarity.ivfStoreWrite(baseStore, path)
    StoreManifest.write(spark.read.parquet(path), path, "vec_id")
    def filesPerDir(): Map[String, Int] = {
      val root = new java.io.File(StoreManifest.manifestPath(path))
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("mpart="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
        .toMap
    }
    val afterBuild = filesPerDir()
    assert(afterBuild.nonEmpty)
    // without the repartition every shuffle task fans into every dir:
    // tasks×Parts tiny files that each later probe pays to list/open
    afterBuild.foreach { case (d, n) => assert(n === 1, s"$d has $n files after build") }
    import spark.implicits._
    val moved = Seq((7L, 5), (123L, 5)).toDF("vec_id", "bucket")
    StoreManifest.update(spark, path, "vec_id", Some(moved))
    // append-only: ≤ 1 NEW file per touched mpart dir per batch; the
    // compaction pass owns long-run accumulation
    filesPerDir().foreach { case (d, n) => assert(n <= 2, s"$d has $n files after append") }
  }

  test("legacy store (no manifest): probe falls back to the store scan; first upsert builds the manifest") {
    val path = java.nio.file.Files.createTempDirectory("graft_manifest_legacy").toString + "/store"
    Similarity.ivfStoreWrite(baseStore, path)
    // simulate a pre-manifest store
    val mp = new org.apache.hadoop.fs.Path(StoreManifest.manifestPath(path))
    mp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(mp, true)

    import spark.implicits._
    val ids = Seq(7L, 123L).toDF("vec_id")
    val got = oldHomes(path, ids)
    assert(got === Set((7 % 8), (123 % 8)), "legacy fallback probe wrong")

    // first maintenance op on a legacy store requests the backfill
    // (one marker file — VERDICT r14 #2); the compaction-cadence
    // rebuild performs the one-time build — consistent afterwards
    val batch = spark.range(0, 10).select(
      col("id").as("vec_id"), lit(-3.0).as("val"),
      pmod(col("id") + 1, lit(8L)).cast("int").as("bucket"))
    Similarity.storeUpsert(spark, batch, path, payloadCols = Seq("val"))
    val bf = new org.apache.hadoop.fs.Path(StoreManifest.backfillPath(path))
    assert(
      bf.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(bf),
      "legacy first maintenance must request the backfill")
    StoreManifest.rebuild(spark, path, "vec_id", idUnique = true)
    assert(manifestPairs(path) === storePairs(path), "legacy upgrade left manifest inconsistent")
  }

  test("insert-only upsert appends: pre-existing files byte-identical, manifest consistent") {
    val path = java.nio.file.Files.createTempDirectory("graft_manifest_insonly").toString + "/store"
    Similarity.ivfStoreWrite(baseStore, path)

    def fileDigests(): Map[String, Long] = {
      val root = new java.io.File(path)
      root.listFiles().filter(d => d.isDirectory && d.getName.startsWith("bucket="))
        .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          s"${d.getName}/${f.getName}" -> java.util.Arrays.hashCode(bytes).toLong
        }).toMap
    }
    val before = fileDigests()

    // 20 brand-new ids — the probe proves no old home exists, so the
    // fast path APPENDS (no staged swap: every pre-existing file must
    // survive byte-identical, not be rewritten)
    val batch = spark.range(1000, 1020).select(
      col("id").as("vec_id"),
      lit(-7.0).as("val"),
      pmod(col("id"), lit(8L)).cast("int").as("bucket"))
    val touched = Similarity.storeUpsert(spark, batch, path, payloadCols = Seq("val"))
    assert(touched.sorted === (0 until 8), "every bucket receives a new id")

    val after = fileDigests()
    before.foreach { case (f, h) =>
      assert(after.get(f).contains(h), s"pre-existing file $f rewritten by insert-only append")
    }
    assert(after.size > before.size, "append produced no new files")
    assert(spark.read.parquet(path).count() === 520)
    // first maintenance call on the lazily-manifested store deferred
    // the build (backfill marker); the compaction-cadence rebuild
    // materializes it exact (insert-only adds cannot create garbage)
    StoreManifest.rebuild(spark, path, "vec_id", idUnique = true)
    assert(manifestPairs(path) === storePairs(path), "manifest drifted after insert-only append")
    // no staging residue, no marker left
    val parent = new java.io.File(path).getParentFile
    assert(
      !parent.listFiles().exists(_.getName.contains(".staging-")),
      "staging dir leaked")
    val marker = new org.apache.hadoop.fs.Path(StoreManifest.pendingPath(path))
    assert(
      !marker.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(marker))
    // a follow-up MOVE of one appended id still works end-to-end (the
    // appended manifest pairs route the old-home probe correctly)
    import spark.implicits._
    Similarity.storeUpsert(
      spark, Seq((1005L, -8.0, 0)).toDF("vec_id", "val", "bucket"),
      path, payloadCols = Seq("val"))
    // append-only: the moved id's old pair stays as garbage — coverage
    // (no live pair missing), not equality, is the invariant
    assert(storePairs(path).toSet.subsetOf(manifestPairs(path).toSet))
    assert(
      spark.read.parquet(path).filter(col("vec_id") === 1005L)
        .select(col("bucket").cast("int")).collect().map(_.getInt(0)).toSeq === Seq(0))
  }

  test("maintenance job counts stay collapsed: insert-only upsert ≤5 jobs, delete ≤5 (VERDICT r13 #1)") {
    val path = java.nio.file.Files.createTempDirectory("graft_manifest_jobs").toString + "/store"
    Similarity.ivfStoreWrite(baseStore, path)
    // burn the lazy-build deferral on a throwaway batch and
    // materialize the manifest (the compaction-cadence backfill) so
    // the counts below measure the STEADY-STATE daily shape
    Similarity.storeUpsert(
      spark,
      spark.range(900, 905).select(
        col("id").as("vec_id"), lit(0.0).as("val"),
        pmod(col("id"), lit(8L)).cast("int").as("bucket")),
      path, payloadCols = Seq("val"))
    StoreManifest.rebuild(spark, path, "vec_id", idUnique = true)

    // count DRIVER ACTIONS (one QueryExecution per collect/count/write)
    // — the unit the r13 verdict measured; raw Spark-job counts inflate
    // under AQE (each exchange materialization is its own job)
    class ActionCounter extends org.apache.spark.sql.util.QueryExecutionListener {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      override def onSuccess(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = n.incrementAndGet()
      override def onFailure(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = n.incrementAndGet()
    }
    def countActions(body: => Unit): Int = {
      val l = new ActionCounter
      spark.listenerManager.register(l)
      try {
        body
        // the execution listener is posted asynchronously — settle
        Thread.sleep(1000)
      } finally spark.listenerManager.unregister(l)
      l.n.get()
    }

    // steady-state INSERT-ONLY upsert: pin-count, fused probe (2
    // collects), store append, manifest append = 5 actions. Through
    // r13 this path ran 10+ (separate home/mpart/new-home collects,
    // staged-swap readback write, manifest staged swap, two
    // staged-distinct collects) — the structural regression guard.
    val insertActions = countActions {
      Similarity.storeUpsert(
        spark,
        spark.range(1000, 1010).select(
          col("id").as("vec_id"), lit(-1.0).as("val"),
          pmod(col("id"), lit(8L)).cast("int").as("bucket")),
        path, payloadCols = Seq("val"))
    }
    info(s"insert-only upsert ran $insertActions driver actions")
    assert(insertActions <= 5,
      s"insert-only upsert ran $insertActions actions (fixed-cost regression)")

    // steady-state DELETE: pin-count, fused probe (2), staging write,
    // rename swap (0 actions), NO manifest write (append-only) = 4
    import spark.implicits._
    val deleteActions = countActions {
      Similarity.storeDelete(spark, Seq(1002L, 17L).toDF("vec_id"), path)
    }
    info(s"delete ran $deleteActions driver actions")
    assert(deleteActions <= 5,
      s"delete ran $deleteActions actions (fixed-cost regression)")
  }

  test("crash in the swap window: pending marker forces the fallback probe, next maintenance heals") {
    val path = java.nio.file.Files.createTempDirectory("graft_manifest_crash").toString + "/store"
    Similarity.ivfStoreWrite(baseStore, path)
    StoreManifest.write(spark.read.parquet(path), path, "vec_id")

    // move id 42 from bucket 2 to bucket 5 with a REAL upsert (store
    // and manifest both move), then reconstruct the exact on-disk state
    // a crash between the store swap and the manifest swap leaves:
    // the manifest rolled back to its PRE-MOVE content (still claiming
    // bucket 2), the pending marker still planted
    import spark.implicits._
    val preMove = spark.read.parquet(StoreManifest.manifestPath(path))
      .select(col("id").cast("long").as("vec_id"), col("bucket")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    Similarity.storeUpsert(
      spark,
      Seq((42L, -9.0, 5)).toDF("vec_id", "val", "bucket"),
      path, payloadCols = Seq("val"))
    StoreManifest.write(
      preMove.toSeq.toDF("vec_id", "bucket"), path, "vec_id") // stale again
    assert(StoreManifest.beginMaintenance(spark, path) === false) // plant the crashed marker

    // the hazard the marker closes: the stale manifest itself claims
    // the OLD bucket — a trusting probe would miss bucket 5 and leave
    // the moved row as a ghost
    val manifestClaim = spark.read.parquet(StoreManifest.manifestPath(path))
      .filter(col("id") === 42L).collect().map(_.getAs[Int]("bucket")).toSet
    assert(manifestClaim === Set(2), "fixture did not reconstruct the stale state")

    // with the marker present the probe refuses the manifest: it
    // reports the TRUE current bucket from the store scan
    val probed = oldHomes(path, Seq(42L).toDF("vec_id"))
    assert(probed === Set(5), "marker fallback did not reach the store's truth")

    // the next completed maintenance call heals: deleting id 42 must
    // remove it EVERYWHERE (no ghost in bucket 5) and leave manifest ==
    // store with the marker cleared
    Similarity.storeDelete(spark, Seq(42L).toDF("vec_id"), path)
    assert(!storePairs(path).exists(_._1 == 42L), "ghost row survived the healed delete")
    assert(manifestPairs(path) === storePairs(path), "heal left manifest inconsistent")
    val marker = new org.apache.hadoop.fs.Path(StoreManifest.pendingPath(path))
    assert(
      !marker.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(marker),
      "pending marker not cleared after the healing maintenance call")
  }

  test("crash in the swap window on a Z-order store (event_id/z_cell): fallback probe finds the true cell, next zorderUpsert heals") {
    val path = java.nio.file.Files.createTempDirectory("graft_manifest_crash_z").toString + "/layout"
    // 256 events: user_id walks x_bucket, the event day walks y_bucket
    val events = spark.range(256).select(
      col("id").as("event_id"),
      pmod(col("id"), lit(16L)).as("user_id"),
      timestamp_seconds(col("id") * 86400L).as("ts"),
      col("id").cast("double").as("value"))
    Layout.zorderWrite(events, path)
    StoreManifest.write(spark.read.parquet(path), path, "event_id", "z_cell")
    def cellsOf(id: Long): Set[Int] =
      storePairs(path, "event_id", "z_cell").filter(_._1 == id).map(_._2).toSet
    def corrected(userId: Long, value: Double): DataFrame =
      events.filter(col("event_id") === 42L)
        .withColumn("user_id", lit(userId)).withColumn("value", lit(value))

    // move event 42 to another user's cell with a REAL upsert, then
    // reconstruct a crash between the store swap and the manifest
    // append: manifest rolled back to its PRE-MOVE content, marker planted
    import spark.implicits._
    val oldCell = cellsOf(42L)
    val preMove = spark.read.parquet(StoreManifest.manifestPath(path))
      .select(col("id").cast("long"), col("bucket")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    Layout.zorderUpsert(spark, corrected(3L, -9.0), path)
    val trueCell = cellsOf(42L)
    assert(trueCell.size === 1 && trueCell != oldCell, "fixture did not move the event")
    StoreManifest.write(preMove.toSeq.toDF("event_id", "z_cell"), path, "event_id", "z_cell")
    assert(StoreManifest.beginMaintenance(spark, path) === false)
    val manifestClaim = spark.read.parquet(StoreManifest.manifestPath(path))
      .filter(col("id") === 42L).collect().map(_.getAs[Int]("bucket")).toSet
    assert(manifestClaim === oldCell, "fixture did not reconstruct the stale state")

    // the marker makes the probe scan the layout: the true cell
    assert(oldHomes(path, Seq(42L).toDF("event_id"), "event_id", "z_cell") === trueCell,
      "marker fallback did not reach the layout's truth")

    // the next zorderUpsert corrects event 42 again: exactly one row
    // survives (no ghost in the cell the stale manifest forgot), the
    // manifest is rebuilt exact and the marker is cleared
    Layout.zorderUpsert(spark, corrected(7L, -10.0), path)
    val rows = spark.read.parquet(path).filter(col("event_id") === 42L)
      .select(col("value"), col("z_cell").cast("int")).collect()
    val newCell = Layout.bucketized(corrected(7L, -10.0)).select(col("z_cell")).head().getInt(0)
    assert(rows.map(r => (r.getDouble(0), r.getInt(1))).toSeq === Seq((-10.0, newCell)),
      "ghost row survived the healed upsert")
    assert(
      manifestPairs(path) === storePairs(path, "event_id", "z_cell"),
      "heal left manifest inconsistent")
    assert(spark.read.parquet(path).count() === 256)
    val marker = new org.apache.hadoop.fs.Path(StoreManifest.pendingPath(path))
    assert(
      !marker.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(marker),
      "pending marker not cleared after the healing upsert")
  }

  test("pending-marker acquisition is atomic: racing maintainers get exactly one clean slot") {
    // the TOCTOU this pins (round 15): exists-then-create let two
    // maintenance jobs fired at the same instant BOTH read "no marker"
    // and BOTH proceed as clean maintainers — a double-scheduled
    // cadence at scale would double-swap the same bucket directories
    // with neither side healing. With create-if-absent, at most one
    // racer acquires clean; every other sees the standing marker and
    // takes the always-correct heal path.
    val path = java.nio.file.Files.createTempDirectory("graft_mani_race").toString + "/store"
    Similarity.ivfStoreWrite(baseStore, path)
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val n = 8
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    val clean = new java.util.concurrent.atomic.AtomicInteger(0)
    val done = new CountDownLatch(n)
    (1 to n).foreach { _ =>
      pool.execute(() => {
        gate.await()
        if (!StoreManifest.beginMaintenance(spark, path)) clean.incrementAndGet()
        done.countDown()
      })
    }
    gate.countDown()
    assert(done.await(30, TimeUnit.SECONDS), "racers did not finish")
    pool.shutdown()
    assert(clean.get === 1, s"${clean.get} racers acquired the clean slot, expected exactly 1")
    // the marker stands until an update clears it; a late (non-racing)
    // caller still routes to heal
    assert(StoreManifest.beginMaintenance(spark, path) === true)
  }
}
