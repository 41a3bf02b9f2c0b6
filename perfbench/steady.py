"""Steadiness report: the acceptance rule for the benchmark's bounds.

Makes two sets of untraced runs — every workload ``--runs`` times per
set, each run with its own seed, the second set after the first — and
reports every end-to-end metric's median, quartiles and spread
(quartile distance / median, as ``statistics.quantiles(values, n=4)``
gives them) per set.  A metric passes when, in both sets, its spread is
within its bound, and the second set's median is not worse than the
first's by more than the bound.  ``tight`` marks spreads under a third
of the bound, the margin the bounds are meant to leave.  Then one traced
run per workload gives the tracing overhead: its end-to-end values
against the median of the untraced runs just made.

    python3 perfbench/steady.py [--runs 10] [--workloads a,b] [--first-seed 1]

Writes ``perfbench/.work/steadiness.json``, prints a table, and exits 1
when any metric fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

SETS = 2
SET_SEED_STEP = 1000  # set k uses seeds first_seed + k * SET_SEED_STEP + i


def _run(workload: str, seed: int, seconds: int, traced: bool) -> tuple[dict, float, str]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(traced))],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stdout[-3000:]}\n{proc.stderr[-3000:]}"
        )
    trace_file = next((ln.split("trace: ", 1)[1] for ln in lines if "trace: " in ln), "")
    return json.loads(lines[-1]), wall, trace_file


def _worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of ``first``."""
    change = (second - first) / first
    return change if better == "lower" else -change


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per workload in each set")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = ap.parse_args()
    if args.runs < 2:
        ap.error("--runs must be at least 2 for quartiles")

    metrics = {m["name"]: m for m in spec["end_to_end"]}
    workloads = args.workloads.split(",")
    values = {w: [{m: [] for m in metrics} for _ in range(SETS)] for w in workloads}
    walls = {w: [] for w in workloads}
    for k in range(SETS):
        for w in workloads:
            for i in range(args.runs):
                seed = args.first_seed + k * SET_SEED_STEP + i
                out, wall, _ = _run(w, seed, args.seconds, False)
                walls[w].append(wall)
                for m in metrics:
                    values[w][k][m].append(out["metrics"][m]["value"])
                print(f"set {k + 1} {w} seed {seed}: {wall:.1f} s", flush=True)

    report: dict = {"seconds": args.seconds, "runs_per_set": args.runs, "workloads": {}}
    failing = []
    for w in workloads:
        _, wall, trace_file = _run(w, args.first_seed, args.seconds, True)
        with open(os.path.join(ROOT, trace_file)) as f:
            trace = json.load(f)
        rows = {}
        for m, spec_m in metrics.items():
            sets = [stats.spread(values[w][k][m]) | {"values": values[w][k][m]} for k in range(SETS)]
            drift = _worse_by(sets[0]["median"], sets[-1]["median"], spec_m["better"])
            ok = all(s["spread"] <= spec_m["bound"] for s in sets) and drift <= spec_m["bound"]
            untraced = statistics.median(values[w][0][m] + values[w][-1][m])
            rows[m] = {
                "bound": spec_m["bound"],
                "sets": sets,
                "median_worse_by": drift,
                "pass": ok,
                "tight": all(s["spread"] < spec_m["bound"] / 3 for s in sets),
                "tracing_overhead": trace["end_to_end_traced"][m] / untraced - 1.0,
            }
            if not ok:
                failing.append(f"{w} {m}")
        report["workloads"][w] = {
            "metrics": rows,
            "run_wall_s": walls[w],
            "traced": {"file": trace_file, "wall_s": wall, "self_time_s": trace["self_time_s"]},
        }
        print(f"\n{w}: run wall median {statistics.median(walls[w]):.1f} s, max {max(walls[w]):.1f} s,"
              f" traced {wall:.1f} s")
        print(f"  {'metric':<12} {'set':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7}"
              f" {'bound':>5} {'worse_by':>8} {'overhead':>8}")
        for m, r in rows.items():
            for k, s in enumerate(r["sets"]):
                last = k == SETS - 1
                tail = (f" {r['median_worse_by']:8.4f} {r['tracing_overhead']:8.4f}"
                        f"  {'pass' if r['pass'] else 'FAIL'}{'' if r['tight'] else ' (not tight)'}"
                        if last else "")
                print(f"  {m if k == 0 else '':<12} {k + 1:>3} {s['median']:12.4f} {s['q1']:12.4f}"
                      f" {s['q3']:12.4f} {s['spread']:7.4f} {r['bound']:5.2f}{tail}")

    # a full benchmark pass: 4 runs plus 22 per workload
    n_runs = 4 + 22 * len(spec["workloads"])
    mean_wall = statistics.mean(x for w in workloads for x in walls[w])
    report["full_pass_estimate_s"] = n_runs * mean_wall
    report["failing"] = failing
    print(f"\nestimated full pass: {n_runs} runs x {mean_wall:.1f} s = {n_runs * mean_wall:.0f} s")
    out_path = os.path.join(HERE, ".work", "steadiness.json")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"wrote {os.path.relpath(out_path, ROOT)}")
    print("FAILING: " + ", ".join(failing) if failing else "all metrics pass")
    return 1 if failing else 0


if __name__ == "__main__":
    sys.exit(main())
