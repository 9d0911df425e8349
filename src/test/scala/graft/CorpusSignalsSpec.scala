package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CorpusSignals, Dedup, Profiling}
import graft.sources.Tables

/** Semantic checks for the corpus-signal and profiling operators — the
  * oracle gate proves engine parity; these prove the METRICS mean what
  * they claim on crafted inputs.
  */
class CorpusSignalsSpec extends AnyFunSuite {
  import SparkTestBase._

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("repetitionStats flags repeated-token spam and clean text correctly") {
    val d = docs(
      0L -> "spam spam spam spam spam spam spam spam", // 8x one token
      1L -> "the quick brown fox jumps over a lazy dog", // all distinct
      2L -> "ab cd ab cd ab cd ab cd") // repeated bigram pattern
    val r = CorpusSignals.repetitionStats(d).collect().map(r => r.getLong(0) -> r).toMap

    val spamR = r(0L)
    assert(spamR.getAs[Double]("distinct_ratio") === 1.0 / 8)
    assert(spamR.getAs[Double]("top_token_ratio") === 1.0)
    // 7 bigrams, all "spam spam" -> dup ratio 1 - 1/7
    assert(math.abs(spamR.getAs[Double]("dup_2gram_ratio") - (1.0 - 1.0 / 7)) < 1e-6)

    val cleanR = r(1L)
    assert(cleanR.getAs[Double]("distinct_ratio") === 1.0)
    assert(cleanR.getAs[Double]("dup_2gram_ratio") === 0.0)

    // alternating pattern: 2 distinct tokens of 8, 7 bigrams but only
    // 2 distinct ("ab cd", "cd ab")
    val altR = r(2L)
    assert(altR.getAs[Double]("distinct_ratio") === 0.25)
    assert(math.abs(altR.getAs[Double]("dup_2gram_ratio") - (1.0 - 2.0 / 7)) < 1e-6)
  }

  test("repetitionStats: single-token doc has NULL dup_2gram_ratio, not a div-by-zero") {
    val r = CorpusSignals.repetitionStats(docs(0L -> "lonely")).collect()(0)
    assert(r.getAs[Long]("n_tokens") === 1L)
    assert(r.isNullAt(r.fieldIndex("dup_2gram_ratio")))
  }

  test("tfidfTopTerms scores match hand-computed smoothed tf-idf") {
    val d = docs(
      0L -> "common common unicorn",
      1L -> "common words here",
      2L -> "common words there")
    // N=3. Hand-computed w = tf * (ln((N+1)/(df+1)) + 1):
    //   doc0 common  (df=3): 2*(ln(4/4)+1) = 2.0
    //   doc0 unicorn (df=1): 1*(ln(4/2)+1) ≈ 1.693147
    //   doc1 here    (df=1): 1.693147 > words (df=2): ln(4/3)+1 ≈ 1.287682
    val top = CorpusSignals.tfidfTopTerms(d, 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getDouble(3))).toMap
    assert(top((0L, 1)) === ("common", 2.0))
    assert(top((0L, 2))._1 === "unicorn")
    assert(math.abs(top((0L, 2))._2 - 1.693147) < 1e-6)
    assert(top((1L, 1))._1 === "here")
    assert(math.abs(top((1L, 1))._2 - 1.693147) < 1e-6)
    assert(top((1L, 2))._1 === "words")
    assert(math.abs(top((1L, 2))._2 - 1.287682) < 1e-6)
  }

  test("sketchCertify: both sketch bounds hold on real data (events sf0.001)") {
    val out = CorpusSignals.sketchCertify(Tables.load(spark, Sf0001, "events")).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Boolean]("users_ok"), s"HLL++ outside 5% for ${r.getString(0)}")
      assert(r.getAs[Boolean]("p50_ok"), s"approx_percentile outside 5% for ${r.getString(0)}")
    }
  }

  test("dataProfile reports exact null counts and ranges on a crafted frame") {
    import spark.implicits._
    // reuse the events schema: profile keys off fixed column names
    val e = Seq(
      (1L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(100L)), 7L, "click", 1.5, """{"k":1}"""),
      (2L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(200L)), 7L, "view", -0.5, """{"k":2}"""),
      (3L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(300L)), 8L, "click", 4.0, """{"k":3}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("value", when(col("event_id") === 2L, lit(null).cast("double")).otherwise(col("value")))
    val p = Profiling.dataProfile(e).collect().map(r => r.getString(0) -> r).toMap
    assert(p("value").getAs[Long]("n_nulls") === 1L)
    assert(p("value").getAs[Long]("n_distinct") === 2L)
    assert(p("value").getAs[Double]("min_num") === 1.5)
    assert(p("value").getAs[Double]("max_num") === 4.0)
    assert(p("user_id").getAs[Long]("n_distinct") === 2L)
    assert(p("event_type").isNullAt(p("event_type").fieldIndex("min_num")))
    assert(p("ts_s").getAs[Double]("min_num") === 100.0)
    assert(p("ts_s").getAs[Double]("max_num") === 300.0)
  }

  test("valueHistogram: constant value column lands in bin 0 (hi==lo guard)") {
    import spark.implicits._
    val e = Seq((1L, "click", 7.5), (2L, "view", 7.5), (3L, "click", 7.5))
      .toDF("event_id", "event_type", "value")
    val h = Profiling.valueHistogram(e).collect()
    assert(h.forall(_.getLong(1) === 0L), h.mkString(", "))
    assert(h.map(_.getLong(2)).sum === 3L)
  }

  test("sketchCertify: a NULL group key is certified, not dropped") {
    import spark.implicits._
    // odd value count per group: approx_percentile returns an ELEMENT,
    // so the exact interpolated median only coincides for odd counts —
    // the 5% bound is a distribution-scale guarantee, not a 2-row one
    val e = Seq(
      (Some("click"), 1L, 1.0), (Some("click"), 2L, 2.0), (Some("click"), 2L, 3.0),
      (None, 3L, 5.0), (None, 4L, 6.0), (None, 4L, 7.0))
      .toDF("event_type", "user_id", "value")
    val out = CorpusSignals.sketchCertify(e).collect()
    assert(out.length === 2)
    val nullRow = out.find(_.isNullAt(0)).getOrElse(fail("NULL group missing"))
    assert(nullRow.getAs[Long]("exact_users") === 2L)
    assert(nullRow.getAs[Boolean]("users_ok") && nullRow.getAs[Boolean]("p50_ok"))
  }

  test("valueHistogram: bins partition the value range; counts sum to row count") {
    val e = Tables.load(spark, Sf0001, "events")
    val h = Profiling.valueHistogram(e)
    val total = h.agg(sum("cnt")).collect()(0).getLong(0)
    assert(total === e.count())
    val bins = h.select("bin").distinct().collect().map(_.getLong(0))
    assert(bins.forall(b => b >= 0 && b < Profiling.HistogramBins))
    // the extremes land in the first and last bin
    assert(bins.contains(0L) && bins.contains(Profiling.HistogramBins - 1L))
  }

  test("decontamination flags exactly the train docs sharing an eval n-gram") {
    import spark.implicits._
    val d = Seq(
      (0L, "the secret eval answer is forty two exactly", "src0"), // eval
      (1L, "totally unrelated evaluation content here today", "src1"), // eval
      (10L, "prefix words then the secret eval answer is forty two exactly copied", "src5"), // leaked
      (11L, "clean training document with its own fresh content", "src6"), // clean
      (12L, "the secret eval answer but differs from here on", "src7")) // shares only a 4-gram
      .toDF("doc_id", "text", "source")
    val flagged = graft.operators.Decontamination.contaminated(d, Seq("src0", "src1"), 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.keySet === Set(10L))
    // doc 10 contains eval doc 0's full 8-token span: 4 distinct 5-grams leak
    assert(flagged(10L) === 4L)
  }

  test("packAssignments: two-level prefix sum == brute-force cumsum, packs respect budget") {
    val d = Tables.load(spark, Sf0001, "documents")
    val out = graft.operators.Packing.packAssignments(d).collect()
    // brute-force prefix sum on the driver (sf0.001: 50 docs, spans a
    // group boundary at GroupWidth=64 only at sf>=0.01 — so also check
    // a crafted frame below)
    var cum = 0L
    out.sortBy(_.getLong(0)).foreach { r =>
      assert(r.getLong(2) === cum, s"doc ${r.getLong(0)} cum_before")
      assert(r.getLong(3) === cum / graft.operators.Packing.PackBudget)
      cum += r.getLong(1)
    }

    // crafted frame crossing several group boundaries: 200 docs of 10
    // tokens each, budget 64 -> cum_before = 10*doc_id, pack flips every
    // 7th doc; groups of width 64 force non-trivial offsets
    import spark.implicits._
    val crafted = (0L until 200L).map(i => (i, Seq.fill(10)("tok").mkString(" "))).toDF("doc_id", "text")
    val c = graft.operators.Packing.packAssignments(crafted, budget = 64L).collect()
    c.foreach { r =>
      assert(r.getLong(2) === 10L * r.getLong(0))
      assert(r.getLong(3) === (10L * r.getLong(0)) / 64L)
    }
  }

  test("contaminatedBloomFrom: bit-identical to the exact join; bloom semantics hold") {
    // parity on real data: the Bloom pre-filter must be result-invisible
    val d = Tables.load(spark, Sf0001, "documents")
    val sh = graft.operators.Decontamination.gramSets(d)
    val exact = graft.operators.Decontamination.contaminatedFrom(sh).collect()
    val bloomed = graft.operators.Decontamination.contaminatedBloomFrom(sh).collect()
    assert(exact.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      bloomed.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(exact.nonEmpty) // the parity claim is vacuous on an empty frame

    // bloom semantics on a crafted set: every member hits (no false
    // negatives — the correctness precondition), non-members mostly miss
    // (the pruning that makes the pre-filter worth running)
    import spark.implicits._
    val members = (0 until 500).map(i => s"member_$i").toDF("s")
    val bloom = members
      .agg(graft.functions.SketchFunctions
        .bloom_agg(xxhash64(col("s")), 500L, 500L * 16).as("bf"))
      .head().getAs[Array[Byte]](0)
    val memberHits = members
      .filter(graft.functions.SketchFunctions.might_contain(lit(bloom), xxhash64(col("s"))))
      .count()
    assert(memberHits === 500L, "bloom false negative — breaks exactness")
    val strangers = (0 until 2000).map(i => s"stranger_$i").toDF("s")
    val fp = strangers
      .filter(graft.functions.SketchFunctions.might_contain(lit(bloom), xxhash64(col("s"))))
      .count()
    assert(fp < 100L, s"false-positive rate implausibly high for 16 bits/item: $fp/2000")
  }

  test("packBins: chunked packing == driver brute-force; bins hold exactly ctx tokens") {
    import spark.implicits._
    import graft.operators.Packing
    // crafted: 2 sources x uneven doc sizes, ctx small enough that docs
    // straddle bin boundaries and each shard ends with a partial bin
    val crafted = (0L until 120L)
      .map(i => (i, Seq.fill((i % 13 + 1).toInt)("tok").mkString(" "), s"s${i % 2}"))
      .toDF("doc_id", "text", "source")
    val ctx = 16L
    val shards = 4L
    val out = Packing.packBins(crafted.select("doc_id", "text", "source"), ctx, shards)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> (r.getLong(3), r.getLong(4)))
      .toMap
    // driver brute force: concatenate each (source, shard) stream in
    // doc_id order, cut at ctx, count contributing docs per bin
    val expected = scala.collection.mutable.Map[(String, Long, Long), (Long, Long)]()
    (0L until 120L).groupBy(i => (s"s${i % 2}", i % shards)).foreach { case ((src, sh), ids) =>
      var pos = 0L
      val docBins = scala.collection.mutable.Map[Long, scala.collection.mutable.Set[Long]]()
      ids.sorted.foreach { i =>
        val nt = i % 13 + 1
        (pos / ctx to (pos + nt - 1) / ctx).foreach { b =>
          docBins.getOrElseUpdate(b, scala.collection.mutable.Set()) += i
        }
        pos += nt
      }
      docBins.foreach { case (b, ds) =>
        expected((src, sh, b)) = (ds.size.toLong, math.min(ctx, pos - b * ctx))
      }
    }
    assert(out === expected.toMap)
    // interior bins carry exactly ctx tokens (nothing padded or dropped)
    out.foreach { case ((src, sh, b), (_, nt)) =>
      val isLast = !out.contains((src, sh, b + 1))
      if (!isLast) assert(nt === ctx, s"interior bin ($src,$sh,$b) not full")
    }
  }

  test("piiRedact: detects and redacts planted + organic PII, counts exact") {
    import spark.implicits._
    import graft.operators.Privacy
    // doc 1: organic PII only (1 is coprime to 3/5/7 — nothing planted);
    // doc 15: plant adds an email (15%3=0) and a phone (15%5=0), no IP;
    // doc 2: clean
    val d = Seq(
      (1L, "reach me at bob@test.org or 555-1234 from 10.0.1.2"),
      (15L, "plain words only"),
      (2L, "nothing sensitive here")).toDF("doc_id", "text")
    val out = Privacy.piiRedact(d).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) === 1L) // n_emails
    assert(out(1L).getLong(2) === 1L) // n_phones
    assert(out(1L).getLong(3) === 1L) // n_ips
    assert(out(15L).getLong(1) === 1L && out(15L).getLong(2) === 1L && out(15L).getLong(3) === 0L)
    assert(out(2L).getLong(1) === 0L && out(2L).getLong(2) === 0L && out(2L).getLong(3) === 0L)
    // the md5 is of the fully redacted text — recompute doc 1's on the
    // driver with the same replacement order
    val redacted1 = "reach me at <EMAIL> or <PHONE> from <IP>"
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(redacted1.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L).getString(4) === md5)
    // planted fragments redact cleanly too: doc 15's redaction ends with
    // the two placeholders
    val d15 = Privacy.withPlantedPii(d).filter(col("doc_id") === 15L)
      .select("text2").head().getString(0)
    assert(d15 === "plain words only contact user15@example.com call 555-0015")
  }

  test("streaming dedup == batch dedup (incremental execution parity)") {
    val streamed = graft.streaming.StreamingViews
      .runDedupAvailableNow(spark, Sf0001).collect().map(_.getLong(0))
    val batch = Dedup.exact(Tables.load(spark, Sf0001, "documents"))
      .collect().map(_.getLong(0))
    assert(streamed.toSeq === batch.toSeq)
  }

  test("rollingActiveUsers: window of 1 day == DAU; 7-day == brute force") {
    val events = Tables.load(spark, Sf0001, "events")
    val one = Profiling.rollingActiveUsers(events, windowDays = 1).collect()
    assert(one.nonEmpty)
    one.foreach(r => assert(r.getLong(1) === r.getLong(2), s"day ${r.getLong(0)}"))
    val seven = Profiling.rollingActiveUsers(events, windowDays = 7).collect()
    val du = events
      .select(col("user_id"), date_trunc("day", col("ts")).cast("long").as("d"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    seven.foreach { r =>
      val day = r.getLong(0)
      val expect = du.filter(p => p._2 >= day - 6 * 86400L && p._2 <= day).map(_._1).distinct.length
      assert(r.getLong(2) === expect, s"day $day")
    }
  }

  test("langSourceChi2 matches the closed form on a crafted 2x2 table") {
    import spark.implicits._
    // 2x2 contingency: en/srcA 30, en/srcB 10, de/srcA 10, de/srcB 30
    // marginals: en 40, de 40, srcA 40, srcB 40, N 80 -> expected 20
    // each; contribution (obs-20)^2/20 = 5.0 in every cell
    val rows =
      Seq.fill(30)(("en", "srcA")) ++ Seq.fill(10)(("en", "srcB")) ++
        Seq.fill(10)(("de", "srcA")) ++ Seq.fill(30)(("de", "srcB"))
    val d = rows.zipWithIndex
      .map { case ((l, s), i) => (i.toLong, l, s) }
      .toDF("doc_id", "lang", "source")
    val out = CorpusSignals.langSourceChi2(d).collect()
    assert(out.length === 4)
    out.foreach { r =>
      assert(r.getAs[Double]("expected") === 20.0, r.toString)
      assert(r.getAs[Double]("contrib") === 5.0, r.toString)
    }
    // uniform table: every contribution 0 (independence)
    val uni = Seq.fill(10)(("en", "srcA")) ++ Seq.fill(10)(("en", "srcB")) ++
      Seq.fill(10)(("de", "srcA")) ++ Seq.fill(10)(("de", "srcB"))
    val u = uni.zipWithIndex.map { case ((l, s), i) => (i.toLong, l, s) }
      .toDF("doc_id", "lang", "source")
    assert(CorpusSignals.langSourceChi2(u).collect().forall(_.getAs[Double]("contrib") === 0.0))
  }

  test("heavyHittersCm matches a plain-Scala Count-Min recompute; never underestimates") {
    val d = graft.sources.Tables.load(spark, SparkTestBase.Sf0001, "documents")
    val got = CorpusSignals.heavyHittersCm(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq

    // independent reference: JVM MessageDigest md5, same "cm<i>|" seeds,
    // same first-8-hex bucket arithmetic, full counters from the corpus
    val tokens = d.select("text").collect()
      .flatMap(_.getString(0).split("\\s+").filter(_.nonEmpty)).toSeq
    def bucket(i: Int, t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"cm$i|$t".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % CorpusSignals.CmWidth
    }
    val counters = scala.collection.mutable.Map.empty[(Int, Long), Long].withDefaultValue(0L)
    tokens.foreach { t =>
      (0 until CorpusSignals.CmDepth).foreach(i => counters((i, bucket(i, t))) += 1)
    }
    val exact = tokens.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (t, c) => (-c, t) }.take(20)
    val want = exact.map { case (t, c) =>
      val est = (0 until CorpusSignals.CmDepth).map(i => counters((i, bucket(i, t)))).min
      (t, c, est, est >= c)
    }
    assert(got === want)
    assert(got.forall(_._4), "Count-Min underestimated — theorem violated")
  }

  test("streaming Count-Min: appended per-batch partials merge to the batch sketch") {
    val d = graft.sources.Tables.load(spark, SparkTestBase.Sf0001, "documents")
    val srcDir = java.nio.file.Files.createTempDirectory("cm_stream_src").toString
    d.repartition(4) // 4 files -> 4 micro-batches at maxFilesPerTrigger=1
      .write.parquet(s"$srcDir/documents.parquet")
    val path = java.nio.file.Files.createTempDirectory("cm_stream").toString + "/counters"
    graft.streaming.StreamingViews.runCmCountersAvailableNow(spark, srcDir, path, Some(1))
    // the log holds one partial frame per batch; merged it IS the batch
    // sketch, and the certificate built from it matches exactly
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val merged = graft.streaming.StreamingViews.readLog(spark, path)
      .groupBy(col("i"), col("bucket")).agg(fsum(col("c")).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val batch = CorpusSignals.cmCounters(d)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged === batch, "merged streamed partials != batch sketch")
    val streamed = CorpusSignals.cmCertifyAgainst(
      graft.streaming.StreamingViews.readLog(spark, path), d).collect().toSeq
    assert(streamed === CorpusSignals.heavyHittersCm(d).collect().toSeq)
  }
}
