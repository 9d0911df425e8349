#!/usr/bin/env bash
# Round-close preflight — run before every PERF/SURVEY commit so a
# round can never be declared closed on a build that does not compile
# (round 4 shipped exactly that: a scaladoc `*/` broke the build and no
# validation ran all round).
#
#   tools/preflight.sh          # compile main + tests + no partitionOverwriteMode
#                               #   under src/ + no store maintenance outside
#                               #   StoreManifest.maintain + no task context
#                               #   or scan internals outside graftshim +
#                               #   entry-count pin
#   tools/preflight.sh --full   # + graft.Verify at sf0.01 replayed in DuckDB,
#                               #   + short serve and maintain benchmark runs,
#                               #   which must answer every operation correctly
#   tools/preflight.sh --anchor # + DuckDB anchor vs the 2x bar (needs a
#                               #   fresh sf0.1 oracle dump + Spark bench;
#                               #   see ANCHOR_* env overrides below)
set -euo pipefail
cd "$(dirname "$0")/.."

sbt -batch compile Test/compile

# One store write transaction: every partitioned store replaces its
# partitions through the staged swap (StoreManifest.swapPartitions).
# Spark's dynamic partition overwrite is a session conf, so neither the
# write path nor a spec may set it: a set that is not restored changes
# every later overwrite+partitionBy write in the same session.
if grep -rn partitionOverwriteMode src/; then
  echo "preflight FAIL: partitionOverwriteMode under src/ (use StoreManifest.swapPartitions)"
  exit 1
fi

# One keyed-store maintenance transaction: the pending marker and the
# manifest update are phases of StoreManifest.maintain, so no other
# main source may plant the marker or update a manifest itself.
if grep -rnE 'beginMaintenance\(|StoreManifest\.update\(' src/main \
    | grep -v '^src/main/scala/graft/operators/StoreManifest\.scala:'; then
  echo "preflight FAIL: store maintenance outside StoreManifest.maintain (use the one transaction)"
  exit 1
fi

# Spark internals stay in the shim: an in-thread run's task context,
# task memory and block-manager registration are built and released in
# one place (Shim.runOnePartition), so no other main source may build
# or install a task context or register a task itself.
if grep -rnE 'TaskContextImpl|TaskMemoryManager|setTaskContext|registerTask\(' src/main \
    | grep -v '^src/main/scala/org/apache/spark/sql/graftshim/'; then
  echo "preflight FAIL: task context outside org/apache/spark/sql/graftshim/ (use Shim.runOnePartition)"
  exit 1
fi

# The kept scan of a one-split GET stays in the shim too: its reader
# factory, the Hadoop conf it broadcasts once per shape and the
# translation of its pushed filters are built in one place
# (org.apache.spark.sql.graftshim), so no other main source may build
# a Parquet reader, wrap a Hadoop conf or translate filters itself.
if grep -rnE 'ParquetPartitionReaderFactory|SerializableConfiguration|DataSourceStrategy' src/main \
    | grep -v '^src/main/scala/org/apache/spark/sql/graftshim/'; then
  echo "preflight FAIL: scan internals outside org/apache/spark/sql/graftshim/ (use the shim's kept scan)"
  exit 1
fi

# Entry-count pin (VERDICT r10 #6: the SURVEY prose entry count drifted
# from the generated surface two rounds running). The ONE source of
# truth is SparkEntry.queries.size, read from the compiled classes;
# SURVEY.md must carry a literal "Entry count: <N>" line that matches,
# and the newest CHECKLOCAL artifact (if any) must have replayed the
# same number of entries.
ADD_OPENS=$(for p in java.lang java.lang.invoke java.lang.reflect java.io \
  java.net java.nio java.util java.util.concurrent \
  java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action \
  sun.util.calendar; do printf -- "--add-opens=java.base/%s=ALL-UNNAMED " "$p"; done)
cat > /tmp/graft_preflight_count.scala <<'EOF'
println("ENTRY_COUNT=" + graft.SparkEntry.queries.size)
EOF
N=$(java $ADD_OPENS -cp "/opt/spark/jars/*:target/scala-2.13/classes" \
  scala.tools.nsc.MainGenericRunner -usejavacp -nc /tmp/graft_preflight_count.scala \
  2>/dev/null | grep ENTRY_COUNT | cut -d= -f2)
[[ -n "$N" ]] || { echo "preflight FAIL: could not read SparkEntry.queries.size"; exit 1; }
grep -q "^Entry count: $N$" SURVEY.md || {
  echo "preflight FAIL: SURVEY.md 'Entry count:' line != generated surface ($N entries)"
  grep -n "^Entry count:" SURVEY.md || echo "  (no 'Entry count:' line found)"
  exit 1
}
# newest = highest round number: a fresh checkout gives every artifact
# the same mtime, so `ls -t` picked the alphabetically first (r10)
latest_checklocal=$(ls CHECKLOCAL_*.json 2>/dev/null | sort -V | tail -1 || true)
if [[ -n "$latest_checklocal" ]]; then
  python3 - "$latest_checklocal" "$N" <<'EOF'
import json, sys
d = json.load(open(sys.argv[1])); n = int(sys.argv[2])
replayed = len(d.get("queries", {}))
if replayed != n:
    print(f"preflight FAIL: {sys.argv[1]} replayed {replayed} entries, surface has {n}")
    sys.exit(1)
print(f"entry-count pin OK: surface={n}, {sys.argv[1]}={replayed}")
EOF
else
  echo "entry-count pin OK: surface=$N (no CHECKLOCAL artifact yet)"
fi

if [[ "${1:-}" == "--full" ]]; then
  python3 tools/check_local.py /root/testdata/sf0.01 /tmp/verify_out
  # the serving path and both write paths (streaming view builder,
  # index upsert) against the benchmark's independent reference: a
  # serving or streaming-sink change cannot close a round with a wrong
  # view or a failed operation
  for workload in serve maintain; do
    line=$(python3 perfbench/run.py --workload "$workload" --seed 1 --seconds 4 --trace 0 | tail -1)
    python3 - "$workload" "$line" <<'EOF'
import json, sys
w, r = sys.argv[1], json.loads(sys.argv[2])
if r.get("correct") is not True or r.get("failed") != 0:
    print(f"preflight FAIL: {w} benchmark correct={r.get('correct')} failed={r.get('failed')}")
    sys.exit(1)
print(f"{w} benchmark OK: {r.get('attempted')} operations, all correct")
EOF
  done
fi

# --anchor: the 2x acceptance bar as a one-command check (VERDICT r12
# #7). Inputs default to the standard round-close artifacts; override
# with ANCHOR_SF / ANCHOR_ORACLE / ANCHOR_BENCH / ANCHOR_OUT. NEVER run
# concurrently with a Spark bench (the DuckDB replay mmap budget).
if [[ "${1:-}" == "--anchor" ]]; then
  ANCHOR_SF="${ANCHOR_SF:-/root/testdata/sf0.1}"
  ANCHOR_ORACLE="${ANCHOR_ORACLE:-/tmp/verify_sf01/oracle_sql.json}"
  ANCHOR_BENCH="${ANCHOR_BENCH:-bench_out.json}"
  ANCHOR_OUT="${ANCHOR_OUT:-bench_history/anchor_latest.json}"
  [[ -f "$ANCHOR_ORACLE" ]] || {
    echo "preflight FAIL: no oracle dump at $ANCHOR_ORACLE (run graft.Verify at sf0.1 first)"; exit 1; }
  [[ -f "$ANCHOR_BENCH" ]] || {
    echo "preflight FAIL: no Spark bench at $ANCHOR_BENCH"; exit 1; }
  python3 tools/anchor.py "$ANCHOR_SF" "$ANCHOR_ORACLE" "$ANCHOR_BENCH" "$ANCHOR_OUT"
fi
echo "preflight OK"
