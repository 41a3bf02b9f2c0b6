"""Tests of the benchmark's own code: generator, reference fold, tail
rule, span self time, event-log windows, metric names, and the
no-engine failure path.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import metrics  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import wiregen  # noqa: E402
from wiregen import ORDERS, T0_US, USERS, Fold, Stream  # noqa: E402

STREAMS = [Stream(USERS, 500, weight=0.4, zipf_s=1.1), Stream(ORDERS, 800, weight=0.6)]


def _generate(seed, out_dir):
    batches = wiregen.generate(seed, STREAMS, 3, 300, corrupt_frac=0.02)
    paths = wiregen.write_batches(batches, str(out_dir))
    return batches, [open(p, "rb").read() for p in paths]


def test_generator_is_byte_identical_for_one_seed(tmp_path):
    _, a = _generate(7, tmp_path / "a")
    _, b = _generate(7, tmp_path / "b")
    _, c = _generate(8, tmp_path / "c")
    assert a == b
    assert a != c


def test_generator_counts_match_the_wire(tmp_path):
    batches, _ = _generate(3, tmp_path)
    fold = Fold([USERS, ORDERS])
    ops = []
    for b in batches:
        assert len(b.lines) == b.events == 300
        fold.apply(b.lines)
        ops += [json.loads(line)["op"] for line in b.lines]
    assert fold.corrupt == sum(b.corrupt for b in batches) > 0
    assert 0 < ops.count("d") < len(ops) * 0.15
    # every written key is in the folded state
    for b in batches:
        for name, keys in b.keys.items():
            assert set(keys) <= set(fold.state[name])


def _ref_line(seq, op, key, name, tier, ts):
    payload = {
        "user_id": key, "username": name, "account_type": tier,
        "updated_at": ts, "created_at": T0_US,
    }
    return wiregen.wire_line(seq, USERS.topic, op, wiregen.envelope(USERS, payload))


def test_fold_reproduces_reference_scenario_golden_state():
    """The reference's end-to-end sequence: 3 inserts, a delete of key
    1 (dropped), an insert and an update of key 999."""
    lines = [
        _ref_line(1, "c", 1, "user1", "Bronze", T0_US),
        _ref_line(2, "c", 2, "user2", "Silver", T0_US),
        _ref_line(3, "c", 3, "user3", "Gold", T0_US),
        _ref_line(4, "d", 1, "user1", "Bronze", T0_US),
        _ref_line(5, "c", 999, "test_user", "Test", T0_US + 17_969_826),  # 17:31:00
        _ref_line(6, "u", 999, "updated_user", "Test", T0_US + 22_969_826),  # 17:31:05
    ]
    fold = Fold([USERS])
    fold.apply(lines)
    state = {k: (p["username"], p["account_type"]) for k, (_, _, _, p) in fold.state["users"].items()}
    assert state == {
        1: ("user1", "Bronze"),
        2: ("user2", "Silver"),
        3: ("user3", "Gold"),
        999: ("updated_user", "Test"),
    }
    # a late event (older updated_at, newer seq) does not win
    fold.apply([_ref_line(7, "u", 999, "stale", "Test", T0_US + 1)])
    assert fold.row(USERS, 999)[1] == "updated_user"
    # a corrupt envelope is counted, not applied
    fold.apply([wiregen.wire_line(8, USERS.topic, "u", '{"schema":{"type":')])
    assert fold.corrupt == 1 and len(fold.state["users"]) == 4


def test_digest_is_order_insensitive():
    rows = [[1, "a", 2.5], [2, "b", None], [3, "c", 1.0]]
    assert wiregen.digest(rows) == wiregen.digest(rows[::-1])
    assert wiregen.digest(rows) != wiregen.digest(rows[:2])


def test_tail_is_highest_percentile_with_ten_beyond():
    value, pct, n = stats.tail(list(range(1, 41)))
    assert (value, pct, n) == (30, 75.0, 40)
    assert sum(v > value for v in range(1, 41)) == stats.TAIL_BEYOND
    value, pct, _ = stats.tail(list(range(11, 0, -1)))
    assert value == 1 and pct == pytest.approx(100 / 11)
    with pytest.raises(ValueError):
        stats.tail(list(range(10)))


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 0, "name": "root", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "child", "start": 1.0, "end": 3.0, "parent": 0},
        {"id": 2, "name": "child", "start": 2.0, "end": 5.0, "parent": 0},
        {"id": 3, "name": "leaf", "start": 8.0, "end": 9.0, "parent": 0},
    ]
    st = stats.self_times(spans)
    assert st["root"] == pytest.approx(5.0)
    assert st["child"] == pytest.approx(5.0)
    assert st["leaf"] == pytest.approx(1.0)


def test_eventlog_counts_only_jobs_inside_the_windows(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000, "Stage IDs": [0]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5_000, "Stage IDs": [1]},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9_000, "Stage IDs": [2]},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
         "Task Metrics": {"Executor Run Time": 100, "JVM GC Time": 10}}
        for stage in (0, 1, 1, 2)
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    # windows around jobs 0 and 2 (epoch seconds); job 1 runs between them
    got = tracing.eventlog_metrics(str(tmp_path), [(0.5, 1.5), (8.5, 9.5)], ops=2, cores=1)
    assert got["spark.jobs_per_batch"] == 1.0
    assert got["spark.tasks_per_batch"] == 1.0
    assert got["spark.gc_ms"] == 20.0
    assert got["spark.busy_frac"] == pytest.approx(200 / 2000)


def test_metric_names_and_benchmark_json_agree():
    names = [m[0] for m in metrics.END_TO_END] + [m[0] for m in metrics.PER_LAYER]
    assert len(names) == len(set(names))
    for name in names:
        assert metrics.NAME_RE.fullmatch(name), name
        assert name[0].isalnum() and len(name) <= 64
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == [
        tuple(m) for m in metrics.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m) for m in metrics.PER_LAYER
    ]
    assert [w["name"] for w in spec["workloads"]] == list(metrics.REPORT)


def test_run_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result line."""
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "registry_queries",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
