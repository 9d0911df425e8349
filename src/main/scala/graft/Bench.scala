package graft

/** Per-round benchmark: runs every SparkEntry query end-to-end at
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},
  *   "errors":{...},"setup":{...},"sf":...}`.
  *
  * Protocol (labeled in the emitted JSON, nothing hidden):
  *   1. untimed warmup scan (session/codegen init);
  *   2. `setup` — SparkEntry.sharedBuilds materializes every SHARED
  *      cached frame (views, shingles, signatures), timed per cache
  *      with per-build error capture, run `passes`× with caches
  *      cleared in between and the per-build MIN reported (same
  *      stall-bounding as the query protocol). One-time
  *      shared builds are charged here, explicitly — not to
  *      whichever consumer query sorts first (rounds 2-3 attributed
  *      ~30 s of shared builds to alphabetical accidents);
  *   3. every query runs TWICE; `queries` holds the per-query MIN.
  *      This container sits on a multi-tenant host where a transient
  *      CPU-steal stall turned a 1.5 s query into 76 s (round 3,
  *      normalized_fingerprint); min-of-2 bounds a single stall's
  *      damage while both passes still execute the full plan against
  *      the noop sink. Raw per-pass sums are emitted as
  *      `pass_totals` so the min is auditable, and the per-query
  *      max−min across passes is emitted as `spread` — the same-run
  *      variance band the regression tripwire uses to separate
  *      multi-tenant box noise from a real plan change.
  *   `value` = setup total + Σ per-query min.
  *
  * Failures are NOT silently timed (VERDICT round 1 #4): a throwing
  * query is excluded from `queries` and reported under `errors`, and a
  * nonzero error count is visible in the line. A SPARK_GRAFT_ONLY
  * filter is recorded in the line (`only`, `n_queries`) so a partial
  * profiling run can never be mistaken for a full-suite run (ADVICE
  * round 3).
  *
  * Execution is forced with the `noop` sink so the full plan runs
  * (a bare `count()` would let Catalyst prune derived columns and
  * under-measure the real work).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    // SPARK_GRAFT_SHUFFLE overrides shuffle parallelism for scale
    // experiments (e.g. the sf10 decade probe: 32 partitions sized for
    // sf0.1 hit per-partition spill cliffs at 100x the bytes; a real
    // cluster sizes this to data). Recorded in the output line when set.
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = GraftSession.local(cpus, shuffle).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GeoFunctions.register(spark)

    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      }

    // untimed warmup: session/codegen/scan setup should not be charged
    // to whichever query happens to sort first. nanosAsLong must be set
    // FIRST: the test parquet carries nanos timestamps, and without it
    // this read throws PARQUET_TYPE_ILLEGAL and the warmup is a no-op.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try spark.read.parquet(s"$sfDir/events.parquet").write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // SPARK_GRAFT_ONLY=a,b,c restricts the run for local profiling of a
    // single query family (unset for driver runs: full suite). The
    // filter is RECORDED in the output line — see `only` below. A BLANK
    // value is treated as unset (Set("") would filter out every query
    // and emit a 0-timing line that reads as a fast green run).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // `*_canary<bits>` entries are DELIBERATE scale-killers (every
    // PINNED LSH band geometry — 8-bit since r9, 12-bit since r11 per
    // VERDICT r10 #3: any fixed width is quadratic-candidate at some
    // corpus size): they run and are reported under `canaries`, but
    // their time is SEGREGATED from `value`/`queries`/`pass_totals` so
    // the headline total never carries known-quadratic time, and a
    // canary blow-up reads as canary growth, not suite regression.
    def isCanary(name: String): Boolean = name.matches(".*_canary\\d+")

    // setup phase: shared caches, timed explicitly, and — like the
    // per-query protocol — run `passes` times with the per-build MIN
    // reported (caches are cleared between setup passes so every pass
    // genuinely rebuilds; the LAST pass leaves the caches populated for
    // the query passes). One multi-tenant CPU-steal stall in a single
    // cold build dominated a whole round's driver setup signal (round
    // 6: lsh_pairs 40.4 s on the driver box vs 1.9 s locally on
    // identical code) — min-of-N bounds that damage the same way it
    // does for queries. A build that throws is recorded under
    // setup_errors (partial setup timings are kept) — never silently
    // dropped (ADVICE round 4): a zero-cost setup phase must mean
    // "nothing to build", not "everything failed".
    // SPARK_GRAFT_SETUP_ONLY=a,b restricts the EAGER setup phase to the
    // named builds, for profiling ONE shared build at scale without
    // paying the other 39 (a consumer query still lazily builds any
    // un-materialized dependency it needs — that time is then charged to
    // the query, exactly the attribution the full setup phase exists to
    // avoid, so this is a profiling knob, never a reporting default).
    // Recorded in the output line like `only` so a filtered run can't
    // masquerade as a full one.
    val setupOnly = sys.env.get("SPARK_GRAFT_SETUP_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val setupTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val setupErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    (1 to passes).foreach { pass =>
      if (pass > 1) SparkEntry.clearCaches(spark)
      SparkEntry.sharedBuilds(spark, sfDir)
        .filter { case (name, _) => setupOnly.forall(_.contains(name)) }
        .foreach { case (name, f) =>
        val t0 = System.nanoTime()
        try {
          f()
          val sec = (System.nanoTime() - t0) / 1e9
          if (!setupTimes.get(name).exists(_ <= sec)) setupTimes(name) = sec
        } catch {
          case e: Throwable =>
            setupErrors(name) = s"${e.getClass.getSimpleName}: ${esc(String.valueOf(e.getMessage).take(160))}"
        }
      }
    }
    val setupSec = setupTimes.values.sum

    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val worst = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val canaryBest = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val passTotals = (1 to passes).map { _ =>
      var passSum = 0.0
      selected.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val sec = (System.nanoTime() - t0) / 1e9
          if (isCanary(name)) {
            if (!canaryBest.get(name).exists(_ <= sec)) canaryBest(name) = sec
          } else {
            passSum += sec
            if (!best.get(name).exists(_ <= sec)) best(name) = sec
            if (!worst.get(name).exists(_ >= sec)) worst(name) = sec
          }
        } catch {
          case e: Throwable =>
            errors(name) = s"${e.getClass.getSimpleName}: ${esc(String.valueOf(e.getMessage).take(160))}"
        }
      }
      passSum
    }
    // A query that failed in ANY pass is an error, full stop: it leaves
    // `queries`/`value` entirely (its lucky-pass min would undercount
    // the suite, and its failed pass contributed 0 s to that
    // pass_total, making the two views disagree — ADVICE round 4).
    errors.keys.foreach { k => best.remove(k); worst.remove(k); canaryBest.remove(k) }
    // per-query same-run variance band (max pass − min pass), emitted
    // so the regression tripwire (tools/bench_compare.py) can tell box
    // noise from a real plan change: sketch_certify wandered 2.8→3.9 s
    // across identical-code runs on this multi-tenant host (VERDICT r8)
    val spread = best.map { case (k, mn) => k -> (worst(k) - mn) }

    // Locale.ROOT: "%.3f" under a comma-decimal default locale (e.g.
    // de_DE) would emit {"value":77,300} — invalid JSON
    def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jmap(xs: Iterable[(String, Double)]): String =
      xs.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    def jerr(xs: Iterable[(String, String)]): String =
      xs.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val total = setupSec + best.values.sum
    val onlyField = only.fold("")(f => s""""only":"${esc(f.toSeq.sorted.mkString(","))}",""") +
      setupOnly.fold("")(f => s""""setup_only":"${esc(f.toSeq.sorted.mkString(","))}",""") +
      (if (shuffle != cpus) s""""shuffle":$shuffle,""" else "")
    // setup failures appear in `errors` too (prefixed) so that
    // n_errors == len(errors) always holds for consumers
    val allErrors = setupErrors.map { case (k, v) => s"setup:$k" -> v } ++ errors
    val line =
      s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
        s""""queries":${jmap(best)},"spread":${jmap(spread)},""" +
        s""""canaries":${jmap(canaryBest)},"canary_sec":${num(canaryBest.values.sum)},""" +
        s""""setup":${jmap(setupTimes)},""" +
        s""""setup_sec":${num(setupSec)},""" +
        s""""setup_errors":${jerr(setupErrors)},""" +
        s""""passes":$passes,"pass_totals":[${passTotals.map(num).mkString(",")}],""" +
        // n_queries counts HEADLINE entries only (canaries excluded, the
        // same population as `queries`/`spread`/`pass_totals`/`value`) so
        // len(queries) + n_errors == n_queries holds for consumers; the
        // segregated population has its own explicit n_canaries field
        // (ADVICE r10).
        s"""$onlyField"n_queries":${selected.count(e => !isCanary(e._1))},""" +
        s""""n_canaries":${selected.count(e => isCanary(e._1))},""" +
        s""""errors":${jerr(allErrors)},"n_errors":${allErrors.size},"sf":"${esc(sfDir)}"}"""
    println(line)
    // ALSO write the line to a file, atomically (tmp + rename in the
    // same directory): the driver's stdout tail-capture truncated
    // BENCH_r09 mid-line and the round's structured data was lost to it
    // (VERDICT r9 #6). SPARK_GRAFT_BENCH_OUT overrides the destination.
    try {
      val outPath = java.nio.file.Paths
        .get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))
        .toAbsolutePath
      val tmp = java.nio.file.Files.createTempFile(outPath.getParent, ".bench_out", ".tmp")
      java.nio.file.Files.writeString(tmp, line + "\n")
      java.nio.file.Files.move(
        tmp, outPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: Throwable => // stdout already carries the line; file is best-effort
        System.err.println(s"[bench] bench_out.json write failed: ${e.getMessage}")
    }
    SparkEntry.clearCaches(spark) // release sf-sized MEMORY_AND_DISK frames
    SparkEntry.shutdownHttp() // non-daemon server threads block JVM exit
    spark.stop()
    if (errors.nonEmpty || setupErrors.nonEmpty) sys.exit(1)
  }
}
