#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one perfbench workload.

    python3 tools/perfbench_ab.py PARENT_DIR CHANGE_DIR --workload serve --seeds 311-320

Runs `perfbench/run.py` in PARENT_DIR and in CHANGE_DIR once per seed, as
a pair on the same seed, one pair after another; the side that runs first
alternates from pair to pair, so a drift in the machine's load falls on
both sides alike. Each checkout runs its own `perfbench/` (built from its
own sources), so the two must declare the same metrics.

Prints one line per pair, then for every end-to-end metric (per-layer with
`--trace 1`) the parent's and the change's q1/median/q3 and IQR, the
change in the median, the change's win count over the pairs (a win is a
strictly better value in the metric's declared direction) and whether the
median gap exceeds the parent's IQR. Exits 1 if any run fails, is not
`correct`, or has `failed` > 0; the summary is still printed.
`--out FILE` keeps every run's result line as JSON.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed, seconds, trace):
    """The result line of one run as a dict, or None if it printed none."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(f"{checkout} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}\n")
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def v(result, name):
    """One metric of a result line, for the per-pair lines."""
    if result is None or name not in result.get("metrics", {}):
        return "-"
    return f"{result['metrics'][name]['value']:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True, choices=["serve", "maintain"])
    ap.add_argument("--seeds", required=True, help="e.g. 311-320 or 1,4,7-9")
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="write every run's result line to this JSON file")
    a = ap.parse_args()

    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]

    results = {"parent": [], "change": []}
    bad = []
    for i, seed in enumerate(seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run(sides[side], a.workload, seed, a.seconds, a.trace)
            results[side].append({"seed": seed, "result": r})
            if r is None or not r.get("correct") or r.get("failed", 0) > 0:
                bad.append(f"{side} seed {seed}: " + ("no result" if r is None else
                           f"correct={r.get('correct')} failed={r.get('failed')} attempted={r.get('attempted')}"))
        p, c = results["parent"][-1]["result"], results["change"][-1]["result"]
        cells = [f"{m['name']} {v(p, m['name'])} -> {v(c, m['name'])}" for m in declared]
        print(f"seed {seed} ({order[0]} first): " + "; ".join(cells), flush=True)

    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seconds": a.seconds, "trace": a.trace, "sides": sides,
                       "runs": results}, f, indent=1)

    print(f"\n{a.workload}, {len(results['parent'])} pairs, --seconds {a.seconds:g}, parent -> change")
    for m in declared:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(pr["result"]["metrics"][name]["value"], cr["result"]["metrics"][name]["value"])
                 for pr, cr in zip(results["parent"], results["change"])
                 if pr["result"] and cr["result"] and name in pr["result"]["metrics"]
                 and name in cr["result"]["metrics"]]
        if not pairs:
            print(f"  {name}: no paired values")
            continue
        pq, cq = quartiles([x for x, _ in pairs]), quartiles([y for _, y in pairs])
        wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
        change = 100.0 * (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
        iqr = pq[2] - pq[0]
        print(f"  {name} ({m['unit']}, {m['better']} is better): "
              f"parent {pq[0]:.4g}/{pq[1]:.4g}/{pq[2]:.4g} (IQR {iqr:.4g}) -> "
              f"change {cq[0]:.4g}/{cq[1]:.4g}/{cq[2]:.4g} (IQR {cq[2] - cq[0]:.4g}); "
              f"median {change:+.1f}%, change wins {wins}/{len(pairs)}, "
              f"median gap {'>' if abs(cq[1] - pq[1]) > iqr else '<='} parent IQR")

    if bad:
        print("\nruns that failed or were not correct:\n  " + "\n  ".join(bad))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
