"""The benchmark's own tests. Not part of the repository's test suite;
run them with

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The unit tests need no Spark. The run tests start one JVM each on the
smallest sizes (one micro-batch of 2000 lines, one request, one pass)
and take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pandas as pd
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import fraud  # noqa: E402
import host  # noqa: E402
import mixes  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


# --- generator -------------------------------------------------------------


def test_generator_is_seeded_and_fills_whole_batches(tmp_path):
    n = fraud.FILES_PER_TRIGGER * fraud.LINES_PER_FILE
    a = fraud.generate(7, n, str(tmp_path / "a"))
    b = fraud.generate(7, n, str(tmp_path / "b"))
    c = fraud.generate(8, n, str(tmp_path / "c"))
    read = lambda d: [open(os.path.join(d, f)).read() for f in sorted(os.listdir(d))]  # noqa: E731
    assert read(tmp_path / "a") == read(tmp_path / "b")
    assert read(tmp_path / "a") != read(tmp_path / "c")
    assert n - 1 <= a.lines <= n
    assert a.files == fraud.FILES_PER_TRIGGER
    assert a.lines == len(a.valid) + a.redelivered + a.corrupt
    assert sum(a.per_day.values()) == len(a.valid)
    assert 0.02 < a.redelivered / a.lines < 0.08
    assert 0 < a.corrupt < 0.02 * a.lines


def _event_time(line: str) -> float | None:
    try:
        return pd.Timestamp(json.loads(line)["event_time"]).timestamp()
    except (ValueError, KeyError):
        return None


def test_redeliveries_are_exact_and_inside_the_watermark(tmp_path):
    fraud.generate(3, 4000, str(tmp_path))
    lines = [
        line
        for f in sorted(os.listdir(tmp_path))
        for line in open(tmp_path / f).read().splitlines()
    ]
    first, worst, seen = {}, 0.0, 0
    for i, line in enumerate(lines):
        t = _event_time(line)
        tid = json.loads(line).get("transaction_id") if t is not None else None
        if tid is None:
            continue
        if tid not in first:
            first[tid] = i
            continue
        seen += 1
        assert lines[first[tid]] == line
        frontier = max(_event_time(x) or 0.0 for x in lines[first[tid] : i])
        worst = max(worst, frontier - t)
    assert seen > 0
    assert worst < 600  # the pipeline's watermark is 10 minutes


# --- checks catch planted faults -------------------------------------------


def _fake_pass(tmp_path):
    """A store, its daily metrics and request answers, as a correct pass
    would leave them, built with DuckDB."""
    backlog = fraud.generate(5, 2000, str(tmp_path / "landing"))
    rows = pd.DataFrame(
        [
            {
                "transaction_id": tid,
                "amount": ev["amount"],
                "event_time": pd.Timestamp(ev["event_time"]).tz_convert("UTC").tz_localize(None),
                "proba": (i % 97) / 97.0,
                "prediction": int((i % 97) / 97.0 >= 0.5),
            }
            for i, (tid, ev) in enumerate(backlog.valid.items())
        ]
    )
    st = {
        "backlog": backlog,
        "store": str(tmp_path / "store"),
        "metrics": str(tmp_path / "metrics"),
    }
    os.makedirs(st["store"])
    con = duckdb.connect()
    con.register("r", rows)
    con.execute(f"COPY r TO '{st['store']}/part-0.parquet' (FORMAT parquet)")
    con.execute(
        "COPY (SELECT CAST(event_time AS DATE) AS day, count(*) AS num_predictions,"
        " avg(CAST(prediction AS DOUBLE)) AS fraud_rate, avg(amount) AS avg_amount,"
        " avg(proba) AS avg_proba FROM r GROUP BY 1)"
        f" TO '{st['metrics']}' (FORMAT parquet, PARTITION_BY (day))"
    )
    first = rows.iloc[0]
    res = {
        "errors": [],
        "progress": [{"numInputRows": backlog.lines}],
        "dq": {"recent_rows": 1},
        "answers": [
            (first["transaction_id"],
             {"proba": first["proba"], "prediction": int(first["prediction"])})
        ],
    }
    return st, res, rows


def test_fraud_check_passes_a_correct_pass(tmp_path):
    st, res, _ = _fake_pass(tmp_path)
    attempted, failed, why = fraud.check(None, st, res)
    assert (attempted, failed, why) == (4, 0, [])


def test_fraud_check_catches_a_dropped_store_row(tmp_path):
    st, res, rows = _fake_pass(tmp_path)
    path = f"{st['store']}/part-0.parquet"
    rows.iloc[1:].to_parquet(path, index=False)
    _, failed, why = fraud.check(None, st, res)
    assert failed >= 1 and any(w.startswith("store") for w in why)


def test_fraud_check_catches_a_redelivered_row(tmp_path):
    st, res, rows = _fake_pass(tmp_path)
    rows.iloc[:1].to_parquet(f"{st['store']}/part-1.parquet", index=False)
    _, failed, why = fraud.check(None, st, res)
    assert failed >= 1 and any(w.startswith("store") for w in why)


def test_fraud_check_catches_a_wrong_answer(tmp_path):
    st, res, _ = _fake_pass(tmp_path)
    tid, ans = res["answers"][0]
    res["answers"][0] = (tid, {**ans, "proba": ans["proba"] + 1e-3})
    _, failed, why = fraud.check(None, st, res)
    assert failed == 1 and why[0].startswith("score_one")


def test_fraud_check_catches_a_failed_dq_gate(tmp_path):
    st, res, _ = _fake_pass(tmp_path)
    res["dq"] = None
    assert fraud.check(None, st, res)[1] == 1


def test_compare_catches_a_perturbed_result():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    assert mixes.compare(want.iloc[::-1].reset_index(drop=True), want) is None
    assert "rows" in mixes.compare(want.iloc[:2], want)
    bumped = want.assign(v=[0.5, 1.5, 2.5000001])
    assert "differing row" in mixes.compare(bumped, want)
    assert "differing row" in mixes.compare(want.assign(v=[0, 1, 2]), want.assign(v=[0.0, 1.0, 2.0]))
    assert "columns" in mixes.compare(want.rename(columns={"v": "w"}), want)


# --- tracing -----------------------------------------------------------------


def test_self_time_subtracts_the_children_cover():
    tr = tracing.Tracer("t")
    parent = tr.add("p", 0.0, 10.0)
    tr.add("c", 1.0, 4.0, parent=parent["id"])
    tr.add("c", 3.0, 5.0, parent=parent["id"])
    tr.add("c", 9.0, 12.0, parent=parent["id"])  # clipped to the parent
    st = tracing.self_times(tr.spans)
    assert st["p"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st["c"] == pytest.approx(3.0 + 2.0 + 3.0)


def test_event_log_parser_files_tasks_under_job_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "query.q1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [
             {"Name": "time to run Python workers", "Update": "250"},
             {"Name": "data sent to Python workers", "Update": "100"}]},
         "Task Metrics": {"Executor Run Time": 40, "Executor CPU Time": 3e7,
                          "JVM GC Time": 2, "Input Metrics": {"Bytes Read": 10},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                                   "Local Bytes Read": 2},
                          "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 7}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000,
         "Stage IDs": [2], "Properties": {}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    log = tracing.read_event_log(str(tmp_path))
    spans = [{"name": "stream", "start": 4.0, "end": 6.0}]
    phase = tracing.phase_of_job(log, spans, {"stream", "query.q1"})
    assert phase == {0: "query.q1", 1: "stream"}
    tot = tracing.totals(log, [0])
    assert (tot["tasks"], tot["executor_run_ms"], tot["shuffle_read_bytes"]) == (1, 40, 3)
    assert (tot["spill_bytes"], tot["python_total_ms"], tot["python_bytes"]) == (7, 250, 100)
    assert log["stages_run"][0] == 1


def test_driver_heap_is_sized_from_the_host():
    assert host.driver_mem_mb(15 * 1024) == 2048
    assert host.driver_mem_mb(2 * 1024) == 1024
    assert host.driver_mem_mb(6 * 1024) == 1536


# --- whole runs --------------------------------------------------------------


def _names(kind):
    return {m["name"]: m["unit"] for m in SPEC[kind]}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("traced", [False, True])
def test_a_run_prints_every_metric_with_its_unit(workload, traced):
    out = run.run(workload, seed=1, seconds=1, traced=traced)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = _names("per_layer" if traced else "end_to_end")
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
    json.dumps(out)


def test_a_wrong_query_answer_is_a_failed_operation(monkeypatch):
    from real_time_fraud_detection_system_spark import operators

    registry = operators.all_queries()
    monkeypatch.setattr(mixes, "QUERIES", ("q1_pricing_summary",))
    drop_one = lambda spark, sf: registry["q1_pricing_summary"](spark, sf).limit(1)  # noqa: E731
    monkeypatch.setattr(operators, "all_queries", lambda: {"q1_pricing_summary": drop_one})
    out = run.run("query_mix", seed=1, seconds=1, traced=False)
    assert out["correct"] is False
    assert (out["attempted"], out["failed"]) == (1, 1)
