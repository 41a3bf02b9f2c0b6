"""tools/bench_pairs.py: seed parsing, run order, result parsing and
the paired summary and acceptance rule (no Spark, no benchmark runs)."""

from __future__ import annotations

import json

import pytest

from tools.bench_pairs import (
    claim_met,
    last_json,
    parse_seeds,
    run_ok,
    run_order,
    summarize,
)


def test_parse_seeds_ranges_and_singles():
    assert parse_seeds("21-23,4242") == [21, 22, 23, 4242]
    assert parse_seeds("7") == [7]
    assert parse_seeds("1-1, 3") == [1, 3]


def test_run_order_alternates():
    assert [run_order(i)[0] for i in range(4)] == ["parent", "change"] * 2
    assert set(run_order(1)) == {"parent", "change"}


def test_last_json_takes_the_last_line():
    res = {"correct": True, "attempted": 3, "failed": 0, "metrics": {}}
    out = "report line\n  checks: ok\n" + json.dumps(res) + "\n"
    assert last_json(out) == res
    assert last_json("") is None
    assert last_json("Traceback ...\nValueError: boom") is None
    assert last_json("[1, 2]") is None


def test_run_ok_needs_correct_and_no_failed_operation():
    assert run_ok({"correct": True, "failed": 0})
    assert not run_ok({"correct": False, "failed": 0})
    assert not run_ok({"correct": True, "failed": 1})
    assert not run_ok(None)


def test_summarize_wins_quartiles_and_paired_ratio():
    parent = [100.0, 110.0, 120.0, 130.0]
    change = [80.0, 99.0, 126.0, 104.0]
    s = summarize(parent, change, "lower")
    assert s["pairs"] == 4 and s["wins"] == 3
    # paired ratios 0.8, 0.9, 1.05, 0.8 -> median 0.85
    assert s["ratio"] == pytest.approx(0.85)
    assert s["parent"] == pytest.approx((102.5, 115.0, 127.5))
    assert summarize(parent, change, "higher")["wins"] == 1
    with pytest.raises(ValueError):
        summarize([1.0], [1.0], "lower")
    with pytest.raises(ValueError):
        summarize([1.0, 2.0], [1.0], "lower")


def _ten_pairs(change_scale, losses=0):
    parent = [100.0 + 2 * i for i in range(10)]
    change = [p * change_scale for p in parent]
    for i in range(losses):
        change[i] = parent[i] * 0.9
    return parent, change


def test_claim_met_needs_nine_of_ten_and_a_gap_beyond_the_parent_iqr():
    # rate-like metric: 1.3x on every pair, far beyond the parent's IQR
    assert claim_met(summarize(*_ten_pairs(1.3), "higher"))
    # nine wins still pass, eight do not
    assert claim_met(summarize(*_ten_pairs(1.3, losses=1), "higher"))
    assert not claim_met(summarize(*_ten_pairs(1.3, losses=2), "higher"))
    # wins every pair, but the median gap (about 1 unit) is inside the
    # parent's IQR (about 10 units)
    assert not claim_met(summarize(*_ten_pairs(1.01), "higher"))
    # direction matters: a lower-is-better metric that went up
    assert not claim_met(summarize(*_ten_pairs(1.3), "lower"))
    assert claim_met(summarize(*_ten_pairs(0.7), "lower"))
    # 11 pairs need 10 wins (9 of every 10)
    parent, change = _ten_pairs(1.3, losses=1)
    parent, change = parent + [120.0], change + [100.0]
    assert not claim_met(summarize(parent, change, "higher"))
