"""The A/B summary of tools/ab_pairs.py (no Spark)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

from ab_pairs import summarize  # noqa: E402


def _runs(parent, change, correct=True):
    runs = []
    for i, (p, c) in enumerate(zip(parent, change)):
        runs.append({"pair": i, "side": "parent", "correct": True,
                     "metrics": {"pass_s": p, "eps": -p}})
        runs.append({"pair": i, "side": "change", "correct": correct,
                     "metrics": {"pass_s": c, "eps": -c}})
    return runs


def test_summary_medians_quartiles_and_claim():
    parent = [6.0, 6.2, 6.4, 6.6, 6.8, 7.0, 7.2, 7.4, 7.6, 7.8]
    change = [4.0, 4.2, 4.4, 4.6, 4.8, 5.0, 5.2, 5.4, 5.6, 8.0]
    out = summarize(_runs(parent, change), {"pass_s": "lower", "eps": "higher"})
    m = out["metrics"]["pass_s"]
    assert out["pairs"] == 10 and out["all_correct"]
    assert m["parent"]["median"] == pytest.approx(6.9)
    assert m["change"]["median"] == pytest.approx(4.9)
    assert (m["parent"]["q1"], m["parent"]["q3"]) == pytest.approx((6.45, 7.35))
    assert m["won"] == 9
    assert m["gap"] == pytest.approx(2.0) and m["parent_iqr"] == pytest.approx(0.9)
    assert m["claim"]
    # a higher-is-better metric counts wins the other way round
    assert out["metrics"]["eps"]["won"] == 9 and out["metrics"]["eps"]["claim"]


def test_claim_needs_nine_of_ten_a_wide_gap_and_correct_runs():
    parent = [6.0 + 0.2 * i for i in range(10)]
    eight = [p - 2.0 for p in parent[:8]] + [p + 1.0 for p in parent[8:]]
    assert summarize(_runs(parent, eight), {"pass_s": "lower"})[
        "metrics"]["pass_s"]["won"] == 8
    assert not summarize(_runs(parent, eight), {"pass_s": "lower"})[
        "metrics"]["pass_s"]["claim"]
    narrow = [p - 0.1 for p in parent]
    m = summarize(_runs(parent, narrow), {"pass_s": "lower"})["metrics"]["pass_s"]
    assert m["won"] == 10 and not m["claim"]
    wrong = summarize(_runs(parent, [p - 2.0 for p in parent], correct=False),
                      {"pass_s": "lower"})
    assert not wrong["all_correct"]
    assert not wrong["metrics"]["pass_s"]["claim"]


def test_a_run_without_metrics_drops_its_pair():
    runs = _runs([6.0, 7.0], [4.0, 5.0])
    runs[3] = {"pair": 1, "side": "change", "correct": False, "metrics": {}}
    out = summarize(runs, {"pass_s": "lower"})
    assert out["pairs"] == 1 and not out["all_correct"]
