package graft

import java.nio.file.Files

import graft.operators.ViewBuilder
import graft.sources.SensorGrid
import graft.streaming.StreamingViews
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Stream==batch equivalence for the view builder (SURVEY §5.4),
  * including out-of-order (late) input: without a watermark, late rows
  * must still merge into their (geo, window) cell — the reference's
  * KTable semantics (IngestStream.java:372-394).
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestBase._

  private def normalize(df: org.apache.spark.sql.DataFrame) =
    df.select(
      col("metric"),
      col("geo"),
      col("ts").cast("long").as("ts_s"),
      col("cnt"),
      round(col("sum_val"), 6).as("sum_val"))
      .collect()
      .map(_.toSeq)
      .sortBy(_.mkString("|"))

  test("AvailableNow streaming view == batch view (sf0.001, minute)") {
    val streamed = StreamingViews.runAvailableNow(spark, Sf0001, "min", 6)
    val batch = ViewBuilder.build(
      SensorGrid.readings(spark, Sf0001),
      substring(col("gh12"), 1, 6),
      "min")
    assert(normalize(streamed).sameElements(normalize(batch)))
  }

  test("runViewRetained (watermarked time-partitioned MERGE + compaction) == batch view") {
    val stored = StreamingViews.runViewRetained(spark, Sf0001, "min", 6)
      .drop("ts_part") // partition column, not part of the view contract
    val batch = ViewBuilder.build(
      SensorGrid.readings(spark, Sf0001),
      substring(col("gh12"), 1, 6),
      "min")
    assert(normalize(stored).sameElements(normalize(batch)))
  }

  test("late data merges into existing windows (two files, no watermark)") {
    val tmp = Files.createTempDirectory("graft-stream").toFile.getAbsolutePath
    // loader-normalized ts (TimestampType); split on epoch-second median
    val raw = graft.sources.Tables.load(spark, Sf0001, "events")
      .withColumn("ts_s", col("ts").cast("long"))
    val median = raw.stat.approxQuantile("ts_s", Array(0.5), 0.0).head.toLong
    val evDir = s"$tmp/events.parquet"
    // recent half arrives first; older (late) half arrives in a second file
    raw.filter(col("ts_s") >= median).drop("ts_s").coalesce(1).write.mode("append").parquet(evDir)
    raw.filter(col("ts_s") < median).drop("ts_s").coalesce(1).write.mode("append").parquet(evDir)

    val name = "stream_late_view"
    val q = StreamingViews
      .viewStream(spark, tmp, "hour", 6, maxFilesPerTrigger = Some(1)) // force ≥2 micro-batches
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 2, "late file must arrive in a later micro-batch")

    val batch = ViewBuilder.build(
      SensorGrid.readings(spark, Sf0001),
      substring(col("gh12"), 1, 6),
      "hour")
    assert(normalize(spark.table(name)).sameElements(normalize(batch)))
  }

  test("watermark opt-in (production divergence): too-late data is dropped, not merged") {
    val tmp = Files.createTempDirectory("graft-wm").toFile.getAbsolutePath
    val raw = graft.sources.Tables.load(spark, Sf0001, "events")
      .withColumn("ts_s", col("ts").cast("long"))
    val medianSec = raw.stat.approxQuantile("ts_s", Array(0.5), 0.0).head.toLong
    val evDir = s"$tmp/events.parquet"
    val recent = raw.filter(col("ts_s") >= medianSec).drop("ts_s")
    // three files with distinct mtimes → three micro-batches (oldest-mtime
    // first). The late-event filter runs with the PREVIOUS batch's
    // watermark (Spark lags it one batch by design), so the watermark
    // advanced by batch 0 only starts dropping in batch 2.
    recent.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(evDir)
    Thread.sleep(1500)
    recent.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(evDir)
    Thread.sleep(1500)
    raw.filter(col("ts_s") < medianSec).drop("ts_s")
      .coalesce(1).write.mode("append").parquet(evDir) // days late

    val q = StreamingViews
      .viewStream(spark, tmp, "hour", 6, watermark = Some("1 minute"), maxFilesPerTrigger = Some(1))
      .writeStream
      .format("memory")
      .queryName("stream_wm_view")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3)
    // every emitted window is from the recent half: the late file's
    // windows (weeks behind the watermark) never surface
    val minEmitted = spark.table("stream_wm_view")
      .agg(min(col("ts").cast("long"))).head.getLong(0)
    assert(minEmitted >= medianSec - 3600,
      s"late windows leaked through the watermark: $minEmitted < ~$medianSec")
  }

  test("stateless streaming quality projection == batch quality (sf0.001)") {
    val streamed = StreamingViews.runQualityAvailableNow(spark, Sf001).collect()
    val batch = graft.operators.TextAnalysis
      .qualityScore(graft.sources.Tables.load(spark, Sf001, "documents"))
      .collect()
    assert(streamed.length === batch.length)
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("materializeViews MERGE-upserts: second run rewrites only touched metric partitions") {
    val tmp = Files.createTempDirectory("graft-mat").toFile.getAbsolutePath
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$Sf0001/events.parquet")
    val evDir = s"$tmp/events.parquet"

    // run 1: everything except the 'error' metric
    raw.filter(col("event_type") =!= "error").coalesce(1).write.mode("append").parquet(evDir)
    StreamingViews.materializeViews(spark, tmp, s"$tmp/out", "day", 6, s"$tmp/ckpt")

    def listing(metric: String): Seq[(String, Long, Long)] = {
      val dir = new java.io.File(s"$tmp/out/metric=$metric")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSeq.sortBy(_._1)
    }
    val clickBefore = listing("click")
    assert(clickBefore.nonEmpty)

    // run 2 (same checkpoint → only the new file is processed): update
    // mode emits 'error' keys only, so the merge must leave every other
    // metric partition's files byte-identical
    raw.filter(col("event_type") === "error").coalesce(1).write.mode("append").parquet(evDir)
    StreamingViews.materializeViews(spark, tmp, s"$tmp/out", "day", 6, s"$tmp/ckpt")
    assert(listing("click") === clickBefore, "untouched metric partition was rewritten")

    // and the merged table equals the one-shot batch view over ALL events
    val written = spark.read.parquet(s"$tmp/out")
    val batch = ViewBuilder.build(
      SensorGrid.readings(spark, Sf0001),
      substring(col("gh12"), 1, 6),
      "day")
    assert(normalize(written).sameElements(normalize(batch)))
    // partition pruning works on the sink layout
    val pruned = written.filter(col("metric") === "click")
    assert(pruned.count() === batch.filter(col("metric") === "click").count())
  }

  // Both MERGE steps share one body; each must leave untouched
  // partitions byte-identical. KEYED replaces a stored row with the
  // batch row of the same key; ADDITIVE sums a batch partial into the
  // stored cell. (geo -> cnt) on a touched day after the second batch,
  // which re-sends the seed's geo and adds a new one:
  private val keyedUpsert: (org.apache.spark.sql.DataFrame, String) => Unit =
    (b, out) => StreamingViews.upsertKeyed(
      b, out, Seq("metric", "geo", "ts"), Seq("metric", "ts_part"))
  private val additiveUpsert: (org.apache.spark.sql.DataFrame, String) => Unit =
    (b, out) => StreamingViews.upsertAdditive(
      b.drop("avg_val"), out,
      keys = Seq("metric", "geo", "ts", "ts_part"),
      partitionCols = Seq("metric", "ts_part"),
      sumCols = Seq("cnt", "sum_val"))
  Seq(
    ("", keyedUpsert, Map("u1555j" -> 1L, "u1555k" -> 1L)),
    (" (additive merge: overlapping cells summed)", additiveUpsert,
      Map("u1555j" -> 2L, "u1555k" -> 1L))
  ).foreach { case (suffix, upsertInto, touchedDay) =>
    test(s"time-partitioned upsert: a batch touches only its own (metric, day) partitions$suffix") {
      // The 100 TB read-amplification bound: with (metric, ts_part)
      // partitions, a batch of CURRENT rows must leave every older day's
      // files byte-identical — per-batch cost is O(admitted partitions),
      // not O(table age). (In the streaming path the watermark is what
      // keeps scattered late rows from widening the admitted set —
      // watermark-drop is asserted separately above.)
      val tmp = Files.createTempDirectory("graft-bounded").toFile.getAbsolutePath
      val out = s"$tmp/out"
      def mkBatch(metric: String, days: Seq[Int], geo: String) = {
        import SparkTestBase.spark.implicits._
        days.map(d => (metric, geo, java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00"), 1L, 1.0, 1.0))
          .toDF("metric", "geo", "ts", "cnt", "sum_val", "avg_val")
          .withColumn("ts_part", to_date(col("ts")))
      }
      // seed: 2 metrics × 10 days
      upsertInto(mkBatch("click", 1 to 10, "u1555j").unionAll(mkBatch("view", 1 to 10, "u1555j")), out)
      def listing(): Map[String, Seq[(String, Long, Long)]] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(out)).filter(_.getName.endsWith(".parquet"))
          .groupBy(_.getParentFile.toString.stripPrefix(out))
          .map { case (k, fs) => k -> fs.map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1) }
      }
      val before = listing()
      assert(before.size === 20)
      // batch: one metric, the two most recent days only — the seed's
      // geo again plus a new one
      upsertInto(
        mkBatch("click", Seq(9, 10), "u1555k").unionAll(mkBatch("click", Seq(9, 10), "u1555j")),
        out)
      val after = listing()
      val touched = Seq("/metric=click/ts_part=2024-01-09", "/metric=click/ts_part=2024-01-10")
      before.keys.filterNot(touched.contains).foreach { k =>
        assert(after(k) === before(k), s"untouched partition rewritten: $k")
      }
      touched.foreach(k => assert(after(k) !== before(k), s"touched partition not rewritten: $k"))
      // merge semantics held on the touched days: both geos present,
      // the re-sent cell replaced (keyed) or summed (additive)
      Seq("2024-01-09", "2024-01-10").foreach { day =>
        val cells = spark.read.parquet(out)
          .filter(col("metric") === "click" && col("ts_part") === day)
          .select(col("geo"), col("cnt"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(cells === touchedDay, s"merged cells on $day")
      }
    }
  }

  test("a (metric, ts_part) upsert that fails in its staged write leaves every partition file as it was") {
    // The staged swap's failure atomicity: the merged frame is only
    // evaluated by the staged write, so a failure there (here an ANSI
    // long overflow in the additive merge's sum) must leave every
    // partition file byte-identical and no staging sibling behind.
    val tmp = Files.createTempDirectory("graft-atomic").toFile.getAbsolutePath
    val out = s"$tmp/out"
    import SparkTestBase.spark.implicits._
    def batch(metric: String, days: Seq[Int], cnt: Long) =
      days.map(d => (metric, "u1555j", java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00"), cnt, 1.0))
        .toDF("metric", "geo", "ts", "cnt", "sum_val")
        .withColumn("ts_part", to_date(col("ts")))
    def upsert(b: org.apache.spark.sql.DataFrame): Unit = StreamingViews.upsertAdditive(
      b, out,
      keys = Seq("metric", "geo", "ts", "ts_part"),
      partitionCols = Seq("metric", "ts_part"),
      sumCols = Seq("cnt", "sum_val"))
    upsert(batch("click", 1 to 3, Long.MaxValue).unionAll(batch("view", 1 to 3, 1L)))
    def listing(): Seq[(String, Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(out)).filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getPath.stripPrefix(out), f.length, f.lastModified)).sortBy(_._1)
    }
    val before = listing()
    assert(before.size === 6)
    val rowsBefore = spark.read.parquet(out).collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val err = intercept[Exception](upsert(batch("click", Seq(2, 3), 1L)))
    assert(
      Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("overflow")),
      s"expected the merge's sum to overflow, got $err")
    assert(listing() === before, "a failed upsert changed partition files")
    assert(spark.read.parquet(out).collect().map(_.toSeq.mkString("|")).sorted.toSeq === rowsBefore)
    val leftovers = new java.io.File(tmp).listFiles().map(_.getName).filter(_.contains(".staging-"))
    assert(leftovers.isEmpty, s"staging dirs leaked: ${leftovers.mkString(", ")}")
  }

  test("compactViews: bloated partitions collapse to one file each, data and layout intact") {
    val tmp = Files.createTempDirectory("graft-compact").toFile.getAbsolutePath
    val out = s"$tmp/out"
    import SparkTestBase.spark.implicits._
    // write a partition with MANY files (one per task)
    val rows = (1 to 40).map(i =>
      ("click", f"u$i%04d", java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), 1L, 1.0, 1.0))
      .toDF("metric", "geo", "ts", "cnt", "sum_val", "avg_val")
      .withColumn("ts_part", to_date(col("ts")))
    rows.repartition(8).write.mode("overwrite")
      .partitionBy("metric", "ts_part").parquet(out)
    val dir = new java.io.File(s"$out/metric=click/ts_part=2024-01-05")
    val nBefore = dir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(nBefore > 1, s"fixture should be bloated, got $nBefore files")
    val dataBefore = spark.read.parquet(out).collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq

    val viewParts = Seq("metric", "ts_part")
    val compacted = graft.operators.StoreManifest.compactStore(spark, out, viewParts)
    assert(compacted.nonEmpty)
    val nAfter = dir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(nAfter === 1, s"expected 1 file after compaction, got $nAfter")
    val dataAfter = spark.read.parquet(out).collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    assert(dataAfter === dataBefore)
    // idempotent: nothing left to compact
    assert(graft.operators.StoreManifest.compactStore(spark, out, viewParts).isEmpty)
  }

  test("hot-key skew: one user with ~50% of events through the streaming sessionizer — stream==batch, batches bounded") {
    // VERDICT r9 #7: batch skew is covered (SkewTools/AQE) but nothing
    // sent a hot key through the STREAMING state path. Fixture: user 1
    // carries half the events as one ever-growing session (events 30 s
    // apart at gap 60 — the worst case for session-state merging, every
    // batch extends the same window), 400 cold users carry the rest.
    val dir = Files.createTempDirectory("graft-skew-events").toString
    import SparkTestBase.spark.implicits._
    val base = 1700000000L
    val hot = (0 until 4000).map(i =>
      (i.toLong, base + 30L * i, 1L, "view", 1.0))
    val cold = (0 until 400).flatMap { u =>
      (0 until 10).map { j =>
        (100000L + u * 10L + j, base + 3600L * j + u, 100L + u, "view", 0.5)
      }
    }
    (hot ++ cold)
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("ts_s"))).drop("ts_s")
      .withColumn("props", lit("""{"k":1}"""))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(8) // 8 files -> 8 micro-batches at maxFilesPerTrigger=1
      .write.parquet(s"$dir/events.parquet")

    val (streamed, durations) =
      StreamingViews.runSessionsInstrumented(spark, dir, 60L, Some(1))
    // batch twin over the same files: per-session stats from the
    // lag-based island builder (same inclusive-gap break rule)
    val batch = graft.operators.Sessionize
      .withSessionIds(graft.sources.Tables.load(spark, dir, "events"), 60L)
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts_s")).as("sess_start_s"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("sum_value"))
      .select("user_id", "sess_start_s", "n_events", "sum_value")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(norm(streamed) === norm(batch))
    // the hot session really is one merged ~50%-of-events window
    val hotSessions = streamed.filter(col("user_id") === 1L).collect()
    assert(hotSessions.length === 1 && hotSessions.head.getAs[Long]("n_events") === 4000L)
    // multi-batch actually happened, and no batch blew up: session-state
    // merge cost per batch must track the BATCH, not the hot key's
    // accumulated history (a quadratic merge would push later batches
    // toward minutes on this fixture)
    assert(durations.count(_ > 0) >= 8, s"expected >=8 micro-batches, got $durations")
    assertBatchesLinear(durations)
  }

  test("hot-key skew: one text in ~50% of docs through the streaming dedup state store — stream==batch, batches bounded") {
    val dir = Files.createTempDirectory("graft-skew-docs").toString
    import SparkTestBase.spark.implicits._
    val hotText = "the same duplicated document body 0123456789"
    val docs = (0 until 2000).map { i =>
      val text = if (i % 2 == 0) hotText else s"unique doc $i body ${i * 31}"
      (i.toLong, text, "en", s"src${i % 8}", text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(6)
      .write.parquet(s"$dir/documents.parquet")
    val out = Files.createTempDirectory("graft-skew-dedup-out").toString
    val ckpt = Files.createTempDirectory("graft-skew-dedup-ckpt").toString
    val (streamed, durations) = StreamingViews.runDedupUpdateMergeInstrumented(
      spark, dir, s"$out/t", s"$ckpt/c", Some(1))
    val got = streamed.collect().map(_.getLong(0)).toSeq
    val expected = graft.operators.Dedup
      .exact(graft.sources.Tables.load(spark, dir, "documents"))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === expected)
    // the hot hash keeps its MIN doc_id across all micro-batches
    assert(got.contains(0L) && !got.contains(2L))
    assert(durations.count(_ > 0) >= 6, s"expected >=6 micro-batches, got $durations")
    assertBatchesLinear(durations)
  }

  test("watermarked stream-stream join: late inputs dropped at the lagged watermark, state evicted, admitted join exact") {
    // Geometry: chunkSec=10000, jitterSec=20000 (odd event_ids arrive
    // TWO chunks late — jitter > chunk + delay so the lagged late
    // filter genuinely bites), delaySec=3600, window=500.
    // Even rows: chunk = ts/10000. Odd rows: chunk = ts/10000 + 2.
    // wm_late for a row in chunk k = maxts(chunks <= k-2) - 3600, so
    // odd rows with ts in [0,10000) land in chunk 2 where wm_late =
    // maxts(chunk 0) - 3600 = 9999 - 3600 = 6399: admitted iff ts > 6399.
    val dir = Files.createTempDirectory("graft-wmjoin-events").toString
    import SparkTestBase.spark.implicits._
    val base = 1700000000L
    val rows = Seq(
      (90L, base + 9999L, 3L, "click"),     // chunk-0 definer (sets wm_late for chunk 2)
      (92L, base + 19999L, 9L, "click"),    // chunk-1 definer
      (94L, base + 29999L, 9L, "click"),    // chunk-2 even filler
      (10L, base + 6000L, 1L, "click"),     // even, chunk 0
      (11L, base + 6398L, 1L, "purchase"),  // odd -> chunk 2, ts <= 6399: LATE, dropped
      (20L, base + 6200L, 2L, "click"),     // even, chunk 0
      (21L, base + 6500L, 2L, "purchase"))  // odd -> chunk 2, ts > 6399: admitted
    rows.toDF("event_id", "ts_s", "user_id", "event_type")
      .withColumn("ts", timestamp_seconds(col("ts_s"))).drop("ts_s")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val (got, removed) = StreamingViews.runStreamStreamJoinWatermarkedInstrumented(
      spark, dir, 500L, 3600L, 10000L, 20000L)
    val pairs = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the on-time twin pair survives; the 1-second-later-than-allowed
    // twin is dropped WITH its pair — late-drop semantics asserted
    assert(pairs.contains((2L, 20L, 21L)), s"admitted pair missing: $pairs")
    assert(!pairs.exists(_._3 == 11L), s"late purchase joined anyway: $pairs")
    assert(pairs === Set((2L, 20L, 21L)), s"unexpected pairs: $pairs")
    // join state was genuinely EVICTED (bounded state), not just correct
    assert(removed.sum > 0, s"no state rows evicted across batches: $removed")
  }

  test("late-data dead-letter: late rows routed with their lateness, admitted rows merged, input partitioned") {
    val dir = Files.createTempDirectory("graft-latesink").toString
    import SparkTestBase.spark.implicits._
    import StreamingViews._
    val base = 1700000000L
    // chunks of 10000s with 20000s jitter on odd event_ids; delay 600s.
    // wm during chunk 2's batch = max ts over chunks 0..1 − 600.
    val rows = Seq(
      (90L, base + 9999L, 3L, "click"),    // chunk-0 definer: wm for chunk 1 = 9999-600
      (92L, base + 19999L, 9L, "click"),   // chunk-1 definer: wm for chunk 2 = 19999-600
      (94L, base + 29999L, 9L, "click"),   // chunk-2 even filler, on time
      (11L, base + 19399L, 1L, "view"),    // odd -> chunk 3 (19399+20000), ts <= 29399-600? no: chunk-3 wm = 29999-600=29399; 19399 <= 29399: LATE by 10000
      (21L, base + 9300L, 2L, "view"),     // odd -> chunk 2, wm=19399; 9300 <= 19399: LATE by 10099
      (31L, base + 19500L, 2L, "view"))    // odd -> chunk 3, wm=29399; 19500 <= 29399: LATE by 9899
    rows.toDF("event_id", "ts_s", "user_id", "event_type")
      .withColumn("ts", timestamp_seconds(col("ts_s"))).drop("ts_s")
      .withColumn("value", lit(2.5)).withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val (view, dead, lateCounts) =
      runViewLateSinkInstrumented(spark, dir, 600L, 10000L, 20000L)
    val deadRows = dead.collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getLong(4))).toList // (event_id, ts_s, late_by_s)
    // exactly the three jittered-late rows are routed, with exact lateness
    assert(deadRows.map(_._1).toSet === Set(11L, 21L, 31L), s"wrong dead-letter set: $deadRows")
    val byId = deadRows.map(t => t._1 -> t._3).toMap
    assert(byId(21L) === (base + 19999L - 600L) - (base + 9300L), s"lateness wrong: $byId")
    assert(byId(11L) === (base + 29999L - 600L) - (base + 19399L), s"lateness wrong: $byId")
    // batch 0 can never route (no watermark yet)
    assert(lateCounts.head === 0L, s"batch 0 routed late rows: $lateCounts")
    assert(lateCounts.sum === 3L, s"late totals wrong: $lateCounts")
    // PARTITION property: view events + dead-letter rows == input rows,
    // and the admitted sum reflects only admitted values
    val nView = view.agg(sum(col("n_events"))).head.getLong(0)
    assert(nView + deadRows.size === rows.size, s"rows lost or double-counted: $nView + ${deadRows.size}")
    val sumView = view.agg(sum(col("sum_value"))).head.getDouble(0)
    assert(math.abs(sumView - 2.5 * nView) < 1e-6, s"admitted sum drifted: $sumView")
  }

  test("append logs are replay-safe: a batch re-run after a crash before its commit is counted once") {
    // Crash window of an append-log sink: the last micro-batch's output
    // is written but its commit is not. Deleting commits/<n> leaves the
    // checkpoint in exactly that state; the restart on the same
    // checkpoint replays batch n (same offsets, same epoch id), and the
    // merged log must still equal the batch sketch — for the three
    // ADDITIVE logs, where a second copy of batch n would double mass.
    import org.apache.spark.sql.functions.{sum => fsum}
    val src = Files.createTempDirectory("graft-replay-src").toString
    Seq("documents", "events", "embeddings").foreach { t =>
      graft.sources.Tables.load(spark, Sf0001, t)
        .repartition(3) // 3 files -> 3 micro-batches at maxFilesPerTrigger=1
        .write.parquet(s"$src/$t.parquet")
    }
    type Partials = org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame
    // (log, source table, per-batch partials, merge keys, summed columns)
    Seq[(String, String, Partials, Seq[String], Seq[String])](
      ("Count-Min counters", "documents",
        graft.operators.CorpusSignals.cmCounters, Seq("i", "bucket"), Seq("c")),
      ("quantile bin counts", "events",
        graft.operators.QuantileSketch.binCounts(_, col("value")), Seq("bin"), Seq("cnt")),
      ("PSI cells", "embeddings",
        graft.operators.Drift.psiCells, Seq("dim", "bucket"), Seq("r", "c"))
    ).foreach { case (what, table, partials, keys, values) =>
      val tmp = Files.createTempDirectory("graft-replay").toString
      val (log, ckpt) = (s"$tmp/log", s"$tmp/ckpt")
      StreamingViews.appendLog(spark, src, table, log, Some(1), ckpt)(partials)
      val commits = new java.io.File(s"$ckpt/commits")
      val last = commits.listFiles().filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
      assert(last.getName.toLong >= 2, s"$what: expected >= 3 micro-batches")
      // the crash: batch n's output is in the log, its commit is not
      assert(last.delete())
      new java.io.File(commits, s".${last.getName}.crc").delete()
      StreamingViews.appendLog(spark, src, table, log, Some(1), ckpt)(partials)
      assert(last.exists(), s"$what: the restart did not replay batch ${last.getName}")
      def merged(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(keys.map(col): _*)
        .agg(fsum(col(values.head)).as(values.head), values.tail.map(v => fsum(col(v)).as(v)): _*)
        .collect().map(_.toSeq).toSet
      assert(
        merged(StreamingViews.readLog(spark, log)) ===
          merged(partials(graft.sources.Tables.load(spark, src, table))),
        s"$what: replayed batch counted twice")
    }
  }

  test("the keyed MERGE view sink is replay-safe: a batch re-run after a crash before its commit") {
    // The MERGE sink's crash window: batch n's swap landed in the view
    // store, its commit did not. The restart on the same checkpoint
    // replays batch n (same offsets, same state version), and the
    // keyed upsert must leave exactly the store a clean run leaves.
    val tmp = Files.createTempDirectory("graft-merge-replay").toFile.getAbsolutePath
    val (out, ckpt) = (s"$tmp/out", s"$tmp/ckpt")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$Sf0001/events.parquet")
    val evDir = s"$tmp/events.parquet"
    // file A, then file B: B updates cells A created in every metric
    raw.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(evDir)
    StreamingViews.materializeViews(spark, tmp, out, "day", 6, ckpt)
    raw.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(evDir)
    StreamingViews.materializeViews(spark, tmp, out, "day", 6, ckpt)
    val commits = new java.io.File(s"$ckpt/commits")
    val last = commits.listFiles().filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(last.getName.toLong >= 1, "expected one micro-batch per file")
    // the crash: batch n's output is in the store, its commit is not
    assert(last.delete())
    new java.io.File(commits, s".${last.getName}.crc").delete()
    StreamingViews.materializeViews(spark, tmp, out, "day", 6, ckpt)
    assert(last.exists(), s"the restart did not replay batch ${last.getName}")
    val batch = ViewBuilder.build(
      SensorGrid.readings(spark, Sf0001),
      substring(col("gh12"), 1, 6),
      "day")
    assert(normalize(spark.read.parquet(out)).sameElements(normalize(batch)))
    val metricDirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("metric="))
    assert(metricDirs.nonEmpty)
    metricDirs.foreach { d =>
      val files = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files === 1, s"${d.getName} holds $files files")
    }
  }

  test("streaming PQ store: multi-batch upserts build exactly the store a batch write would") {
    val dir = Files.createTempDirectory("graft-pqstream").toString
    import SparkTestBase.spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2f - 1f), (i % 3).toLong)
    }
    rows.toDF("vec_id", "embedding", "label")
      .repartition(4) // 4 files -> 4 micro-batches at maxFilesPerTrigger=1
      .write.parquet(s"$dir/embeddings.parquet")
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
    val books = graft.operators.Pq.trainCodebooks(emb)
    val cents = graft.operators.Similarity.kmeansSphericalTrace(emb, 8, 3)._1
    val path = Files.createTempDirectory("graft-pqstream-store").toString + "/store"
    StreamingViews.runPqStoreAvailableNow(spark, dir, books, cents, path, Some(1))
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("code"), col("bucket").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val stored = keyed(spark.read.parquet(path))
    val batch = keyed(graft.operators.Pq.encodeWithBuckets(emb, books, cents))
    assert(stored === batch, "stream-built store != batch encode+assign")
    // the first batch bootstrapped, the later three upserted: every
    // bucket directory exists and the store holds exactly one row per
    // vector (no duplicate from replays or partial overwrites)
    assert(stored.size === 200)
  }

  test("streaming Z-order: multi-batch ingest builds exactly the layout a one-shot clustering would") {
    val dir = Files.createTempDirectory("graft-zstream").toString
    import SparkTestBase.spark.implicits._
    val rows = (0 until 400).map { i =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i.toLong * 7200000L),
        (i % 37).toLong, if (i % 3 == 0) "click" else "view", i * 0.5, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(4) // 4 files -> 4 micro-batches at maxFilesPerTrigger=1
      .write.parquet(s"$dir/events.parquet")
    val path = Files.createTempDirectory("graft-zstream-layout").toString + "/layout"
    StreamingViews.runZorderAvailableNow(spark, dir, path, Some(1))
    // the stream-built layout == a one-shot clustering, row for row
    val ev = graft.sources.Tables.load(spark, dir, "events")
    val refPath = Files.createTempDirectory("graft-zstream-ref").toString + "/layout"
    graft.operators.Layout.zorderWrite(ev, refPath)
    def keyed(p: String) = spark.read.parquet(p)
      .select(col("event_id"), col("z_cell").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val got = keyed(path)
    assert(got === keyed(refPath), "stream-built layout != one-shot clustering")
    assert(got.size === 400, "duplicate or lost rows across micro-batches")
    // rectangle answers match too (the serving semantics, not just rows)
    val a = graft.operators.Layout.zorderRectAgg(spark, path, 3, 9, 5, 12).collect().toSeq
    val b = graft.operators.Layout.zorderRectAgg(spark, refPath, 3, 9, 5, 12).collect().toSeq
    assert(a === b)
    // batches 2-4 were pure-insert: the first upsert DEFERS the
    // manifest build behind the backfill marker (VERDICT r14 #2); the
    // compaction-cadence pass materializes it — and it must then cover
    // every live row
    graft.operators.Layout.zorderCompact(spark, path)
    val sp = spark.read.parquet(path)
      .select(col("event_id"), col("z_cell").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val mp = spark.read.parquet(graft.operators.StoreManifest.manifestPath(path))
      .select(col("id").cast("long"), col("bucket"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(sp.subsetOf(mp), "live layout row missing from the manifest")
  }

  test("streaming LM scoring: multi-batch scores against the frozen model == batch operator") {
    val dir = Files.createTempDirectory("graft-lmstream").toString
    import SparkTestBase.spark.implicits._
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val rows = (0 until 120).map { i =>
      val n = 2 + rnd.nextInt(10)
      (i.toLong, Seq.fill(n)(words(rnd.nextInt(words.length))).mkString(" "),
        "en", s"src${i % 3}")
    }
    rows.toDF("doc_id", "text", "lang", "source")
      .repartition(4) // 4 files -> 4 micro-batches at maxFilesPerTrigger=1
      .write.parquet(s"$dir/documents.parquet")
    val out = Files.createTempDirectory("graft-lmstream-out").toString + "/scores"
    val streamed = StreamingViews
      .runLmScoreAvailableNow(spark, dir, out, Some(1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    val batch = graft.operators.LanguageModel.bigramInterpLogprob(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // doc-local scoring against the same frozen tables: exact equality,
    // not tolerance — a drifting model or a doc split across batches
    // would both break this
    assert(streamed.toSeq === batch.toSeq)
    assert(streamed.length === 120)
  }

  test("streaming DSIR scoring: multi-batch weights against the frozen model == batch operator") {
    val dir = Files.createTempDirectory("graft-dsirstream").toString
    import SparkTestBase.spark.implicits._
    val rnd = new scala.util.Random(13)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val rows = (0 until 120).map { i =>
      val n = 2 + rnd.nextInt(10)
      (i.toLong, Seq.fill(n)(words(rnd.nextInt(words.length))).mkString(" "),
        "en", s"src${i % 3}") // i % 3 == 0 -> the src0 target slice
    }
    rows.toDF("doc_id", "text", "lang", "source")
      .repartition(4)
      .write.parquet(s"$dir/documents.parquet")
    val out = Files.createTempDirectory("graft-dsirstream-out").toString + "/scores"
    val streamed = StreamingViews
      .runDsirScoreAvailableNow(spark, dir, out, Some(1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val toks = graft.operators.LanguageModel.docTokens(
      graft.sources.Tables.load(spark, dir, "documents"))
    val batch = graft.operators.LanguageModel
      .dsirLogRatio(toks, graft.operators.LanguageModel.vocabFrom(toks))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the model MUST come from the whole corpus, not the micro-batch:
    // a per-batch target table would shift every weight
    assert(streamed.toSeq === batch.toSeq)
    assert(streamed.length === 120)
  }

  test("streaming erasure: queue-applied deletions leave exactly the one-shot deletion's store") {
    import SparkTestBase.spark.implicits._
    val rnd = new scala.util.Random(19)
    val rows = (0 until 200).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2f - 1f)))
    val cents = graft.operators.Similarity.Centroids
    def freshStore(): String = {
      val p = Files.createTempDirectory("graft-delstream").toString + "/store"
      graft.operators.Similarity.ivfStoreWrite(
        graft.operators.Similarity.ivfAssignmentsWith(
          rows.toDF("vec_id", "embedding"), cents), p)
      p
    }
    val erased = (0 until 200 by 7).map(_.toLong) // hits all 3 stream chunks
    val streamPath = freshStore()
    StreamingViews.runStoreDeleteAvailableNow(
      spark, erased.toDF("vec_id"), streamPath, batches = 3)
    val batchPath = freshStore()
    graft.operators.Similarity.storeDelete(spark, erased.toDF("vec_id"), batchPath)
    def dump(p: String) = spark.read.parquet(p)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getAs[Int]("bucket")))
      .sortBy(_._1).toSeq
    assert(dump(streamPath) === dump(batchPath),
      "stream-applied erasure != one-shot erasure")
    assert(dump(streamPath).map(_._1).toSet.intersect(erased.toSet).isEmpty,
      "ghost rows survived the erasure stream")
  }

  /** RELATIVE batch-cost bound (ADVICE r10: the previous fixed 30 s cap
    * flakes on loaded multi-tenant boxes even when state merging is
    * linear): if per-batch cost grew with the hot key's ACCUMULATED
    * history, the later batches would dwarf the early ones on these
    * fixtures — so bound the max of the second half by a multiple of
    * the first half's median. 10× absorbs a one-off CPU-steal spike on
    * a single batch; a genuinely quadratic merge measures orders of
    * magnitude on an 8-batch ever-growing session.
    */
  private def assertBatchesLinear(durations: Seq[Long]): Unit = {
    val active = durations.filter(_ > 0).map(_.toDouble)
    val early = active.take(active.size / 2).sorted
    val earlyMedian = early(early.size / 2)
    val lateMax = active.drop(active.size / 2).max
    assert(
      lateMax <= 10.0 * earlyMedian,
      s"late micro-batch $lateMax ms vs early median $earlyMedian ms (durations=$durations)")
  }
}
