"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Prints a readable report, then, as the
last line of stdout, one JSON object ``{correct, attempted, failed,
metrics}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  Exits 1 when an output check fails.

Everything a run writes stays under ``perfbench/.work``: its scratch
directory (removed at exit) and the trace file of a traced run.
``steady.py`` reports tracing overhead by comparing traced runs with
the untraced runs it has just made.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

import metrics  # noqa: E402
import stats  # noqa: E402


def _environment(run_dir: str, traced: bool) -> str | None:
    """Point every scratch path of Spark and its Python workers into
    ``run_dir`` and, for a traced run only, turn on an uncompressed
    event log — all through this process's own environment, before the
    JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_MATERIALIZE_DIR"] = os.path.join(run_dir, "materialize")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's own launcher JVM
    args = [
        "--driver-java-options", jvm_opts,
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    eventlog = None
    if traced:
        eventlog = os.path.join(run_dir, "eventlog")
        os.makedirs(eventlog)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir={eventlog}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return eventlog


def _measure(args, run_dir: str, eventlog: str | None, run_id: str):
    import tracing
    import workloads
    from kafka_connect_postgres_to_clickhouse_spark.session import get_spark

    tracer = tracing.Tracer(bool(args.trace), run_id)
    cores = len(os.sched_getaffinity(0))
    with tracer.span("run", workload=args.workload):
        with tracer.span("session.get_spark"):
            t0 = time.perf_counter()
            spark = get_spark("perfbench", cpus=cores)
            spark.range(1).count()
            session_s = time.perf_counter() - t0
        try:
            log = tracing.ProgressLog()
            spark.streams.addListener(log)
            ctx = workloads.Ctx(
                seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
                work=os.path.join(run_dir, "data"), cores=cores, tracer=tracer,
                spark=spark, log=log,
            )
            os.makedirs(ctx.work)
            res = workloads.WORKLOADS[args.workload](ctx)
            rss = tracing.peak_rss_mb(spark)
        finally:
            with tracer.span("session.stop"):
                tracing.stop_jvm(spark)
    if eventlog is not None:
        res.layer.update(
            tracing.eventlog_metrics(eventlog, res.op_windows, ops=res.ops, cores=cores)
        )
    return res, session_s, rss, tracer


def _values(res, session_s: float, rss: float) -> tuple[dict, dict]:
    """Every reported value (a superset of the end-to-end metrics) and,
    for each tail, its percentile and sample count."""
    tails = {}
    for name, samples in (("op_ms_tail", res.op_ms), ("read_ms_tail", res.read_ms)):
        if len(samples) > stats.TAIL_BEYOND:
            value, pct, n = stats.tail(samples)
            tails[name] = (value, pct, n)
        else:
            tails[name] = (None, None, len(samples))
    values = {
        "setup_s": session_s + statistics.median(res.setup_reps),
        "op_ms_p50": statistics.median(res.op_ms),
        "op_ms_tail": tails["op_ms_tail"][0],
        "read_ms_p50": statistics.median(res.read_ms),
        "read_ms_tail": tails["read_ms_tail"][0],
        "rate_per_s": res.work_units / res.work_s,
        "trigger_ms_p50": statistics.median(res.trigger_ms) if res.trigger_ms else None,
        "peak_rss_mb": rss,
        "mix_s": res.work_s,
        "state_disk_mb": res.layer.get("state.disk_mb", 0.0),
        "failed_frac": res.failed / max(res.attempted, 1),
    }
    return values, {k: v[1:] for k, v in tails.items()}


def _report(args, values: dict, tails: dict, res) -> None:
    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds}  trace {args.trace}")
    for name, source, unit in metrics.REPORT[args.workload]:
        if values[source] is None:
            print(f"  {name:<22} {'n/a':>14}  ({tails[source][1]} samples: a tail needs "
                  f"more than {stats.TAIL_BEYOND})")
            continue
        extra = ""
        if source in tails:
            extra = f"  (p{tails[source][0]:.1f} of {tails[source][1]} samples)"
        print(f"  {name:<22} {values[source]:14.4f} {unit}{extra}")
    print(f"  operations      {res.attempted} attempted, {res.failed} failed")
    for err in res.errors:
        print(f"  CHECK FAILED: {err}")
    print("  checks: " + ("ok" if not res.errors else f"{len(res.errors)} failed"))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(metrics.REPORT))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    sys.path.insert(0, ROOT)

    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        eventlog = _environment(run_dir, bool(args.trace))
        res, session_s, rss, tracer = _measure(args, run_dir, eventlog, run_id)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    values, tails = _values(res, session_s, rss)
    e2e = {name: values[name] for name, _, _, _ in metrics.END_TO_END}
    _report(args, values, tails, res)
    if args.trace:
        layer = {name: 0.0 for name, _, _ in metrics.PER_LAYER}
        layer.update({k: v for k, v in res.layer.items() if k in layer})
        layer["run.failed_frac"] = values["failed_frac"]
        layer["run.peak_rss_mb"] = values["peak_rss_mb"]
        units = {name: unit for name, unit, _ in metrics.PER_LAYER}
        out = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
        trace_path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}-{run_id}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as f:
            json.dump(
                {
                    "run_id": run_id,
                    "workload": args.workload,
                    "seed": args.seed,
                    "seconds": args.seconds,
                    "per_layer": layer,
                    "end_to_end_traced": e2e,
                    "self_time_s": stats.self_times(tracer.spans),
                    "spans": tracer.spans,
                },
                f,
                indent=1,
            )
        print(f"  trace: {os.path.relpath(trace_path, ROOT)}")
    else:
        units = {name: unit for name, unit, _, _ in metrics.END_TO_END}
        out = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    print(
        json.dumps(
            {
                "correct": not res.errors,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": out,
            }
        ),
        flush=True,
    )
    return 0 if not res.errors else 1


if __name__ == "__main__":
    sys.exit(main())
