package graft.tools

import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: synthesize an N× scale fixture from an existing SF dir, for
  * the in-container scaling measurement in PERF.md (sf0.1 → "sf1").
  *
  * Replication must not change each operator's WORKLOAD SHAPE, so every
  * replica is a perturbed, structure-preserving copy:
  *   - documents: ids shift by a replica stride; text is Caesar-rotated
  *     per replica (lengths, token boundaries and within-replica
  *     duplicate structure preserved EXACTLY; cross-replica n-gram /
  *     span / fingerprint collisions eliminated, so dedup candidate
  *     counts scale ~linearly instead of quadratically);
  *   - embeddings: per-replica deterministic SIGN-FLIP pattern applied
  *     to every vector of the replica — within-replica dot products and
  *     norms are bit-exact (s_i² = 1), while cross-replica similarities
  *     collapse toward 0 under the pseudo-random pattern, giving N
  *     independent copies of the original geometry;
  *   - events / TPC-H facts: key columns shift by their replica stride
  *     (per-user/per-order grouping structure preserved), timestamps
  *     and values untouched;
  *   - small dimensions (region/nation/supplier/part) copy as-is.
  *
  * Usage: runMain graft.tools.ScaleUp [srcDir] [outDir] [factor]
  */
object ScaleUp {

  /** Permuted alphabet covers lowercase AND digits so numeric grams
    * perturb too — a digits-only 40-char span left identical across
    * replicas would re-introduce exactly the cross-replica quadratic
    * growth the perturbation exists to remove. (The synthetic corpus is
    * lowercase+digits; extend the alphabet if a corpus carries more.)
    */
  private val Alpha = "abcdefghijklmnopqrstuvwxyz0123456789"

  /** Per-replica alphabet permutations beyond the 36 Caesar rotations
    * (r12 verdict #6 needs factor 100 for the sf10 decade; two stacked
    * Caesar passes would NOT work — rotations compose additively, so
    * replica pairs with equal rotation sums would be byte-identical
    * text under different ids, reintroducing exactly the cross-replica
    * duplicate mass the perturbation removes; affine maps are out too —
    * two affine keys can agree on up to gcd(a₁−a₂, 36) = 18 characters,
    * enough for a digit-heavy span to collide). Deterministic
    * seeded-shuffle permutations instead, with the collision property
    * ENFORCED at build time: every accepted permutation agrees with
    * every previously accepted one (including the identity, replica 0)
    * on ≤ [[MaxAgree]] alphabet characters, so no cross-replica text
    * span of > MaxAgree distinct alphabet chars can ever collide.
    * Fixed seeds + a deterministic accept loop → the fixture is
    * reproducible byte-for-byte.
    */
  private val MaxAgree = 2
  private[graft] def buildPerms(n: Int): Vector[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String](Alpha)
    var seed = 1L
    while (out.size < n) {
      val cand =
        new scala.util.Random(seed * 1000003L).shuffle(Alpha.toVector).mkString
      if (out.forall(p => p.indices.count(i => p(i) == cand(i)) <= MaxAgree))
        out += cand
      seed += 1
    }
    out.toVector
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/root/repo/target/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    require(factor >= 1 && factor <= 1000,
      s"factor=$factor out of [1, 1000]")
    val perms = buildPerms(factor)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[scaleup] wrote $name x$factor")
    }

    // documents: Caesar-rotate text per replica (r=0 is the identity)
    val docs = Tables.load(spark, src, "documents")
    val dStride = stride(docs, "doc_id")
    write(
      (0 until factor).map { r =>
        docs.select(
          (col("doc_id") + lit(r * dStride)).as("doc_id"),
          (if (r == 0) col("text") else translate(col("text"), Alpha, perms(r))).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _),
      "documents")

    // embeddings: deterministic per-REPLICA sign flips (r=0 identity).
    // The flip pattern deliberately depends only on (dimension,
    // replica): s_i² = 1, so WITHIN a replica every dot product — and
    // therefore the whole similarity geometry the LSH/ANN families are
    // being scaled against — is preserved exactly. The cost is that
    // cross-replica pairs for a fixed replica pair are all scrambled by
    // the same pattern, so their residual similarities are correlated
    // rather than independent (ADVICE round 6) — an accepted
    // approximation: folding vec_id into the flip hash would make the
    // cross-replica noise independent but destroy the within-replica
    // dot products (two vectors would carry DIFFERENT flips), which is
    // the property the fixture exists to preserve.
    val emb = Tables.load(spark, src, "embeddings")
    val vStride = stride(emb, "vec_id")
    write(
      (0 until factor).map { r =>
        emb.select(
          (col("vec_id") + lit(r * vStride)).as("vec_id"),
          (if (r == 0) col("embedding")
           else expr(
             s"transform(embedding, (x, i) -> x * CAST(CASE WHEN pmod(xxhash64(i + ${r}L * 97), 2) = 0 " +
               "THEN 1 ELSE -1 END AS FLOAT))")).as("embedding"),
          col("label"))
      }.reduce(_ unionByName _),
      "embeddings")

    // events: shift event/user ids, keep times/values/props
    val events = Tables.load(spark, src, "events")
    val eStride = stride(events, "event_id")
    val uStride = stride(events, "user_id")
    write(
      (0 until factor).map { r =>
        events.select(
          (col("event_id") + lit(r * eStride)).as("event_id"),
          col("ts"),
          (col("user_id") + lit(r * uStride)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _),
      "events")

    // TPC-H facts: shift the join keys consistently on both sides
    val orders = Tables.load(spark, src, "orders")
    val lineitem = Tables.load(spark, src, "lineitem")
    val customer = Tables.load(spark, src, "customer")
    val oStride = stride(orders, "o_orderkey")
    val cStride = stride(customer, "c_custkey")
    write(
      (0 until factor).map { r =>
        orders
          .withColumn("o_orderkey", col("o_orderkey") + lit(r * oStride))
          .withColumn("o_custkey", col("o_custkey") + lit(r * cStride))
      }.reduce(_ unionByName _),
      "orders")
    write(
      (0 until factor).map { r =>
        lineitem.withColumn("l_orderkey", col("l_orderkey") + lit(r * oStride))
      }.reduce(_ unionByName _),
      "lineitem")
    write(
      (0 until factor).map { r =>
        customer.withColumn("c_custkey", col("c_custkey") + lit(r * cStride))
      }.reduce(_ unionByName _),
      "customer")

    // small dimensions: copy as-is
    Seq("region", "nation", "supplier", "part").foreach { t =>
      write(Tables.load(spark, src, t), t)
    }
    spark.stop()
  }
}
