"""Run one benchmark workload against graft and print its result.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 16 --trace 0

Builds the program from source if needed (see build.py), runs the workload
in one JVM, and prints as the last stdout line a JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end ones; with --trace 1 the per-layer ones, and the spans are
written to <build dir>/traces/. The line before it carries run information
(sample counts, tail percentile, nproc, heap, Spark version, seed).
Exits non-zero without a result if the build or the run fails.
"""

import argparse
import json
import os
import shutil
import signal
import sys
import time

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
# a fixed heap, so peak RSS does not depend on when the collector chose
# to grow it. Peak RSS then moves with native and off-heap memory (RocksDB
# state, metaspace, threads, buffers), not with on-heap use, which the
# run information reports as heap_peak_used_mb.
HEAP = "1g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "maintain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build.ensure_built()
    runs = os.path.join(build.out_dir(), "runs")
    workdir = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    spans = os.path.join(build.out_dir(), "traces", f"{a.workload}-seed{a.seed}.jsonl") if a.trace else ""

    cmd = (["java"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in build.ADD_OPENS]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m", f"-Djava.io.tmpdir={workdir}/tmp",
              "-cp", classes + os.pathsep + build.spark_jars(),
              "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--workdir", workdir, "--spans", spans])
    pid = None

    def kill(*_):
        if pid is not None:
            try:
                os.killpg(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        sys.exit(1)

    signal.signal(signal.SIGTERM, kill)
    signal.signal(signal.SIGINT, kill)
    try:
        pid = os.fork()
        if pid == 0:
            os.setsid()
            os.dup2(sys.stderr.fileno(), sys.stdout.fileno())
            os.execvp(cmd[0], cmd)
        deadline = time.monotonic() + RUN_TIMEOUT_S
        while True:
            done, status, usage = os.wait4(pid, os.WNOHANG)
            if done:
                break
            if time.monotonic() > deadline:
                print(f"run timed out after {RUN_TIMEOUT_S}s", file=sys.stderr)
                os.killpg(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
                return 1
            time.sleep(0.05)
        pid = None
        code = os.waitstatus_to_exitcode(status)
        if code != 0:
            print(f"benchmark JVM exited with {code}", file=sys.stderr)
            return 1
        with open(os.path.join(workdir, "result.json")) as f:
            result = json.load(f)
        with open(os.path.join(workdir, "info.json")) as f:
            info = json.load(f)
        if not a.trace:
            # ru_maxrss is in KiB on Linux: the JVM's peak resident set
            result["metrics"]["peak_rss_mb"] = {"value": usage.ru_maxrss / 1024.0, "unit": "MB"}
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
        if {m["name"]: m["unit"] for m in declared} != {k: v["unit"] for k, v in result["metrics"].items()}:
            print("metrics printed differ from those BENCHMARK.json declares", file=sys.stderr)
            return 1
        print(json.dumps({"info": info}))
        print(json.dumps(result), flush=True)
        return 0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
