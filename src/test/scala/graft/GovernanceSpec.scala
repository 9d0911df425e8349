package graft

import java.sql.Timestamp

import graft.operators.{Drift, Privacy, Similarity}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral certification of the governance/monitoring operators
  * beyond the DuckDB gates: PSI on crafted identical / planted-drift /
  * out-of-range corpora, and the k-anonymity ladder on a fixture where
  * day granularity leaks and month doesn't.
  */
class GovernanceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val Dim = Similarity.Dim

  private def embDf(rows: Seq[(Long, Array[Float])]): DataFrame = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) => Row(id, v.toSeq) }, 4),
      schema)
  }

  private def vec(seed: Int): Array[Float] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(Dim)((rnd.nextDouble() - 0.5).toFloat)
  }

  test("PSI is exactly 0 when even and odd halves carry identical value multisets") {
    // pair 2t (even/ref) with 2t+1 (odd/cur) carrying the SAME vector:
    // every bin count matches, smoothing included, so psi rounds to 0.0
    val rows = (0 until 100).flatMap { t =>
      val v = vec(t)
      Seq((2L * t, v), (2L * t + 1, v))
    }
    val out = Drift.psiEmbeddingDrift(spark, embDf(rows)).collect()
    assert(out.length == Drift.AuditDims)
    out.foreach { r =>
      assert(r.getAs[Double]("psi") == 0.0)
      assert(!r.getAs[Boolean]("drifted"))
      assert(r.getAs[Long]("n_ref") == 100L && r.getAs[Long]("n_cur") == 100L)
    }
  }

  test("planted mean shift on dim 3 drifts dim 3 and only dim 3") {
    val rows = (0 until 400).map { t =>
      val v = vec(1000 + t / 2) // pair even/odd on the same base vector
      if (t % 2 == 1) v(3) = (v(3) + 0.45f).min(0.59f) // shift ONLY the odd (current) half
      (t.toLong, v)
    }
    val out = Drift.psiEmbeddingDrift(spark, embDf(rows)).collect()
    val byDim = out.map(r => r.getAs[Int]("dim") -> r).toMap
    assert(byDim(3).getAs[Boolean]("drifted"), s"dim3 psi=${byDim(3).getAs[Double]("psi")}")
    (0 until Drift.AuditDims).filter(_ != 3).foreach { d =>
      assert(!byDim(d).getAs[Boolean]("drifted"), s"dim $d unexpectedly drifted")
    }
  }

  test("out-of-range values clamp into edge bins; no rows are dropped") {
    val rows = (0 until 60).map { t =>
      val v = vec(2000 + t)
      v(0) = if (t % 2 == 0) -5.0f else 5.0f // far outside [BinLo, BinHi]
      (t.toLong, v)
    }
    val out = Drift.psiEmbeddingDrift(spark, embDf(rows)).collect()
    val d0 = out.find(_.getAs[Int]("dim") == 0).get
    // every row is accounted for despite the clamp
    assert(d0.getAs[Long]("n_ref") + d0.getAs[Long]("n_cur") == 60L)
    // ref all in bin 0, cur all in bin B-1 -> maximal drift
    assert(d0.getAs[Boolean]("drifted"))
  }

  test("streaming PSI: 4-file source, one batch each — merged counter log == batch PSI exactly") {
    val rows = (0 until 240).map(t => (t.toLong, vec(3000 + t)))
    val flat = java.nio.file.Files.createTempDirectory("psi_flat").toString
    embDf(rows).repartition(4).write.parquet(s"$flat/embeddings.parquet")
    val cells = java.nio.file.Files.createTempDirectory("psi_cells").toString + "/cells"
    graft.streaming.StreamingViews.runPsiCellsAvailableNow(
      spark, flat, cells, maxFilesPerTrigger = Some(1))
    // the log is fragmented (multiple partial rows per cell)...
    val log = graft.streaming.StreamingViews.readLog(spark, cells)
    val merged = log.groupBy("dim", "bucket").count()
    assert(log.count() > merged.count(), "expected fragmented per-batch partials")
    // ...but serving merges to EXACTLY the batch report
    val streamed = Drift.psiFromCellCounts(spark, log)
      .collect().map(_.toSeq).sortBy(_.toString)
    val batch = Drift.psiEmbeddingDrift(spark, embDf(rows))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("standardize: panel==corpus gives per-dim mean ~0 and std ~1; corr diag is exactly 1") {
    val rows = (0 until 200).map(t => (t.toLong, vec(4000 + t)))
    val df = embDf(rows)
    val z = Similarity.standardizeAudit(df, 200L).collect()
    assert(z.length == 200 * 8)
    (0 until 8).foreach { d =>
      val zs = z.filter(_.getAs[Int]("dim") == d).map(_.getAs[Double]("z"))
      val m = zs.sum / zs.length
      val v = zs.map(x => (x - m) * (x - m)).sum / (zs.length - 1)
      assert(math.abs(m) < 1e-4, s"dim $d mean $m")
      assert(math.abs(v - 1.0) < 1e-3, s"dim $d var $v")
    }
    val corr = Similarity.dimCorrelation(df).collect()
    assert(corr.length == 36)
    corr.foreach { r =>
      val c = r.getAs[Double]("corr_v")
      if (r.getAs[Int]("i") == r.getAs[Int]("j")) assert(c == 1.0)
      else assert(math.abs(c) < 0.35, s"iid dims should be near-uncorrelated, got $c")
    }
  }

  private def eventsDf(rows: Seq[(String, String)]): DataFrame = {
    val schema = StructType(Seq(
      StructField("event_type", StringType, nullable = false),
      StructField("ts", TimestampType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (et, ts) => Row(et, Timestamp.valueOf(ts)) }, 2),
      schema)
  }

  test("k-anonymity ladder: day leaks, month meets k, counts hand-verified") {
    // 'click' day 2024-01-01: 6 rows (safe at day)
    // 'click' days 02..04: 2 rows each (risky at day, 6 together in January)
    // 'view'  day 2024-02-10: 3 rows (risky at day AND month, safe in year with 'view' March)
    // 'view'  day 2024-03-05: 4 rows (risky at day and month)
    val rows =
      Seq.fill(6)(("click", "2024-01-01 10:00:00")) ++
        Seq.fill(2)(("click", "2024-01-02 10:00:00")) ++
        Seq.fill(2)(("click", "2024-01-03 10:00:00")) ++
        Seq.fill(2)(("click", "2024-01-04 10:00:00")) ++
        Seq.fill(3)(("view", "2024-02-10 09:00:00")) ++
        Seq.fill(4)(("view", "2024-03-05 09:00:00"))
    val out = Privacy.kAnonymityLadder(eventsDf(rows)).collect()
    val byLevel = out.map(r => r.getAs[String]("level") -> r).toMap
    val day = byLevel("day")
    assert(day.getAs[Long]("n_groups") == 6L)
    assert(day.getAs[Long]("n_risky_groups") == 5L)
    assert(day.getAs[Long]("n_risky_rows") == 13L) // 2+2+2+3+4
    assert(!day.getAs[Boolean]("meets_k"))
    val month = byLevel("month")
    assert(month.getAs[Long]("n_groups") == 3L) // click-Jan, view-Feb, view-Mar
    assert(month.getAs[Long]("n_risky_groups") == 2L) // view-Feb (3), view-Mar (4)
    assert(month.getAs[Long]("n_risky_rows") == 7L)
    assert(!month.getAs[Boolean]("meets_k"))
    val year = byLevel("year")
    assert(year.getAs[Long]("n_groups") == 2L)
    assert(year.getAs[Long]("n_risky_rows") == 0L)
    assert(year.getAs[Boolean]("meets_k"))
    // coarsening can only merge groups: risky rows never increase up the ladder
    val riskySeq = out.sortBy(_.getAs[Int]("level_ord")).map(_.getAs[Long]("n_risky_rows"))
    assert(riskySeq.zip(riskySeq.tail).forall { case (a, b) => b <= a })
  }
}
