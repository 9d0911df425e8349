package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=a,b,c restricts the dump for local spot-checks of
    // new queries (same contract as Bench). The driver never sets it —
    // a full-gate run dumps everything. A BLANK value is treated as
    // unset (an exported-but-empty var would otherwise filter out every
    // query and write a trivially-empty dump that looks green), and the
    // restriction is announced so a partial dump is self-evident.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach(f =>
      System.err.println(s"[verify] RESTRICTED run: ${f.toSeq.sorted.mkString(",")}"))
    // A restricted run must not leave STALE parquet dumps of unselected
    // queries from a prior full run in the same outDir — a later compare
    // against that directory would silently mix rounds (ADVICE round 5).
    only.foreach { f =>
      SparkEntry.queries.keys.filterNot(f.contains).foreach { name =>
        val d = Paths.get(outDir, name)
        // only delete directories that are recognizably a prior Verify
        // parquet dump (Spark leaves _SUCCESS + part-*.parquet): a
        // same-named directory of anything else is someone else's data
        // — log and leave it (ADVICE round 6)
        def looksLikeDump =
          scala.util.Using.resource(Files.list(d)) { s =>
            s.anyMatch(p => {
              val n = p.getFileName.toString
              n == "_SUCCESS" || (n.startsWith("part-") && n.endsWith(".parquet"))
            })
          }
        if (Files.exists(d)) {
          if (Files.isDirectory(d) && looksLikeDump) {
            scala.util.Using.resource(Files.walk(d)) { walk =>
              walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
                .forEach(p => Files.delete(p))
            }
            System.err.println(s"[verify] removed stale dump: $name")
          } else
            System.err.println(
              s"[verify] SKIPPED non-dump path in outDir (not a Verify parquet dump): $d")
        }
      }
    }
    // A query that throws must be VISIBLE in the round artifacts, not
    // just absent from them (round-7 lesson: 12 erroring entries were
    // silently missing from CORRECTNESS and the file read as all-green).
    // errors.json maps query name → first error line; empty when clean.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(3).mkString(" | ")
          System.err.println(s"[verify] $name FAILED: $msg")
          errors += name -> msg
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracleSqlFor = static SQL oracles + data-dependent VALUES oracles
    // (dedup_minhash_lsh pairs precomputed via the pure-Scala XXH64
    // ref); `only` is passed through so a restricted run SKIPS the
    // reference pipelines it would discard, not just their output
    val json = SparkEntry.oracleSqlFor(spark, sfDir, only)
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // Loud but non-fatal: exiting non-zero could make the driver drop
    // the 100+ good dumps over one flaky entry; errors.json plus the
    // stderr line make a partial run unmistakable instead.
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(",")}")
    // the http_* gate servers hold non-daemon JDK HttpServer threads —
    // without an explicit stop the JVM never exits after main returns
    SparkEntry.shutdownHttp()
    spark.stop()
  }
}
