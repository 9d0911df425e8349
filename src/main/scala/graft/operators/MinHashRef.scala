package graft.operators

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import graft.functions.XxHash64Ref

/** Scalar reference implementation of the xxhash64 MinHash-LSH pipeline
  * ([[Dedup.minhashLshPairs]]), used to generate the DuckDB oracle:
  * DuckDB has no Spark-compatible xxhash64, so Verify computes the
  * expected pair list with THIS code (plain Scala collections, no Spark)
  * and emits it as VALUES literals — the same technique as the
  * geo_reindex oracle. At correctness scale (sf0.01, 500 docs) this is
  * milliseconds of driver-side work. xxhash64 is MinHash-LSH's one hash
  * family, so this reference is the operator's only oracle: banding,
  * candidate join and verify are all checked against it.
  *
  * Shared semantics with the distributed pipeline (deliberately
  * duplicated, since agreement is the point of the check):
  * whitespace tokens with empties dropped, docs shorter than n tokens
  * dropped, DISTINCT word n-gram shingles, sig_i = min over shingles of
  * xxhash64(i, shingle), band key = xxhash64(b, sig-slice), candidates =
  * same band key, verified by exact shingle Jaccard >= threshold.
  */
object MinHashRef {

  def shingles(text: String, n: Int): Set[String] = {
    val toks = text.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Set.empty
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  private def round6(x: Double): Double =
    JBigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue()

  /** Expected (a_id, b_id, jac) rows, sorted — the oracle value set. */
  def lshPairs(
      docs: Seq[(Long, String)],
      n: Int,
      k: Int,
      bands: Int,
      threshold: Double): Seq[(Long, Long, Double)] = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val rows = k / bands
    val sh: Map[Long, Set[String]] =
      docs.map { case (id, text) => id -> shingles(text, n) }.filter(_._2.nonEmpty).toMap
    val sig: Map[Long, Array[Long]] = sh.map { case (id, ss) =>
      id -> Array.tabulate(k)(i => ss.iterator.map(s => XxHash64Ref.sparkIntString(i, s)).min)
    }
    val cands = scala.collection.mutable.Set.empty[(Long, Long)]
    (0 until bands).foreach { b =>
      sig.toSeq
        .groupBy { case (_, m) =>
          XxHash64Ref.sparkIntLongs(b, m.slice(b * rows, (b + 1) * rows).toSeq)
        }
        .values
        .foreach { grp =>
          val ids = grp.map(_._1).sorted
          for (i <- ids.indices; j <- i + 1 until ids.length) cands += ((ids(i), ids(j)))
        }
    }
    cands.toSeq
      .flatMap { case (a, b) =>
        val (sa, sb) = (sh(a), sh(b))
        val inter = sa.intersect(sb).size
        val jac = inter.toDouble / (sa.size + sb.size - inter)
        if (jac >= threshold) Some((a, b, round6(jac))) else None
      }
      .sortBy(p => (p._1, p._2))
  }
}
