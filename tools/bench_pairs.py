"""Paired parent/change benchmark runs and the acceptance rule for a
claimed gain.

For each seed, runs ``python3 perfbench/run.py --workload W --seed S
--seconds N --trace 0`` once in each checkout, alternating which one
goes first (the even-indexed seeds start with the parent), and parses
each run's last stdout line, the JSON ``{correct, attempted, failed,
metrics}``.  For every end-to-end metric of ``BENCHMARK.json`` it then
prints each side's median and quartiles (``statistics.quantiles(values,
n=4)``, as ``perfbench/steady.py`` computes them), the number of pairs
the change won and the paired median ratio change / parent.

    python3 tools/bench_pairs.py PARENT_DIR CHANGE_DIR --workload cdc_catchup_live \\
        --seeds 21-30,4242 [--claim rate_per_s] [--seconds 25]

With ``--claim METRIC`` it applies the acceptance rule to that metric:
the change wins at least 9 of every 10 pairs, and its median beats the
parent's by more than the parent's quartile distance.  The last stdout
line is one JSON object with every run's values and the summary.  Exits
1 when any run fails its checks (or prints no result), 2 when the claim
is not met, else 0.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from collections.abc import Sequence

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


def parse_seeds(spec: str) -> list[int]:
    """``"21-23,4242"`` -> ``[21, 22, 23, 4242]``."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, sep, hi = part.strip().partition("-")
        seeds.extend(range(int(lo), int(hi) + 1) if sep else [int(lo)])
    return seeds


def run_order(index: int) -> tuple[str, str]:
    """Which checkout runs first for the ``index``-th seed."""
    return SIDES if index % 2 == 0 else SIDES[::-1]


def last_json(stdout: str) -> dict | None:
    """The run's result object: its last non-empty stdout line, or None
    when that line is not a JSON object."""
    lines = stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1]) if lines else None
    except ValueError:
        return None
    return out if isinstance(out, dict) else None


def run_ok(result: dict | None) -> bool:
    """The run passed every check with no failed operation."""
    return bool(result) and result.get("correct") is True and result.get("failed") == 0


def summarize(parent: Sequence[float], change: Sequence[float], better: str) -> dict:
    """One metric over paired runs (``parent[i]`` and ``change[i]`` share
    a seed): each side's quartiles, the pairs the change won, and the
    median of the per-pair ratios change / parent."""
    if len(parent) != len(change) or len(parent) < 2:
        raise ValueError("need at least two complete pairs")
    wins = sum(
        (c < p) if better == "lower" else (c > p) for p, c in zip(parent, change)
    )
    return {
        "better": better,
        "pairs": len(parent),
        "parent": tuple(statistics.quantiles(parent, n=4)),
        "change": tuple(statistics.quantiles(change, n=4)),
        "wins": wins,
        "ratio": statistics.median(c / p for p, c in zip(parent, change)),
    }


def claim_met(summary: dict) -> bool:
    """The change wins at least 9 of every 10 pairs, and the medians
    differ in its favour by more than the parent's quartile distance."""
    (p_q1, p_med, p_q3), (_, c_med, _) = summary["parent"], summary["change"]
    gap = p_med - c_med if summary["better"] == "lower" else c_med - p_med
    return summary["wins"] * 10 >= summary["pairs"] * 9 and gap > p_q3 - p_q1


def _run(checkout: str, workload: str, seed: int, seconds: int) -> dict | None:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=900,
    )
    result = last_json(proc.stdout)
    if proc.returncode != 0 or not run_ok(result):
        print(f"  {checkout} seed {seed} FAILED (exit {proc.returncode}):\n"
              f"{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}", file=sys.stderr)
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 21-30,4242")
    ap.add_argument("--claim", help="end-to-end metric the change claims to improve")
    ap.add_argument("--seconds", type=int, help="default: BENCHMARK.json run_seconds")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    if args.claim is not None and args.claim not in better:
        ap.error(f"--claim must be one of {sorted(better)}")
    seconds = args.seconds or spec["run_seconds"]
    dirs = {"parent": args.parent_dir, "change": args.change_dir}

    runs: list[dict] = []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        pair = {"seed": seed, "first": run_order(i)[0]}
        for side in run_order(i):
            pair[side] = _run(dirs[side], args.workload, seed, seconds)
        runs.append(pair)
        print(f"seed {seed}: " + "  ".join(
            f"{side} {'ok' if run_ok(pair[side]) else 'FAILED'}" for side in SIDES
        ), file=sys.stderr, flush=True)

    failed = [(r["seed"], side) for r in runs for side in SIDES if not run_ok(r[side])]
    complete = [r for r in runs if all(r[side] for side in SIDES)]
    summary = {}
    print(f"{args.workload}: {len(complete)} pairs, parent {dirs['parent']}, change {dirs['change']}")
    print(f"  {'metric':<12} {'parent q1':>10} {'median':>10} {'q3':>10}"
          f" {'change q1':>10} {'median':>10} {'q3':>10} {'wins':>6} {'ratio':>7}")
    for m, direction in better.items():
        if len(complete) < 2:
            break
        values = {
            side: [r[side]["metrics"][m]["value"] for r in complete] for side in SIDES
        }
        s = summary[m] = summarize(values["parent"], values["change"], direction)
        print(f"  {m:<12} " + " ".join(f"{v:10.2f}" for v in s["parent"] + s["change"])
              + f" {s['wins']:>2}/{s['pairs']:<3} {s['ratio']:7.3f}")
    met = None
    if args.claim is not None:
        met = args.claim in summary and claim_met(summary[args.claim])
        print(f"claim {args.claim}: {'met' if met else 'NOT met'}")
    if failed:
        print("failed runs: " + ", ".join(f"{side} seed {seed}" for seed, side in failed))
    print(json.dumps({"workload": args.workload, "runs": runs, "summary": summary,
                      "claim": args.claim, "claim_met": met, "failed": failed}))
    if failed:
        return 1
    return 2 if met is False else 0


if __name__ == "__main__":
    sys.exit(main())
