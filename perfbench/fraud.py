"""The fraud_pipeline workload: the reference's three entry points.

EP1  a seeded backlog of wire-format JSON files drains through
     file_drop_source -> parse_transactions -> run_pipeline_with_registry
     (availableNow, program defaults, a fixed maxFilesPerTrigger);
EP3  daily_metrics_upsert and dq_checks run over the prediction store;
EP2  one closed-loop client replays stream transactions through
     score_one, each request sent after the previous answer arrives.

The generator follows the reference producer's marginals: amount ~
round(lognormal(3, 1), 2) with 5% of amounts spiked by U(5, 20),
num_items = int(max(1, N(2, 1))), merchant_risk ~ U(0, 1), hour = the
producer's Cairo-local hour. It adds ~5% exact redeliveries one or two
lines after the original and ~0.5% corrupt lines. Event times advance
evenly over three days with +-60 s jitter, so every redelivery lands
well inside the pipeline's 10-minute watermark.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import statistics
import uuid
from dataclasses import dataclass, field

FILES_PER_TRIGGER = 4
LINES_PER_FILE = 500
SPAN_S = 3 * 86400
JITTER_S = 60.0
REDELIVERY_P = 0.05
CORRUPT_P = 0.005
TRAINING_ROWS = 5000
CAIRO = dt.timezone(dt.timedelta(hours=2))  # no DST before late April
START = dt.datetime(2026, 3, 2, tzinfo=dt.timezone.utc)


@dataclass
class Backlog:
    """What the generator wrote, for the checks."""

    lines: int = 0
    files: int = 0
    corrupt: int = 0
    redelivered: int = 0
    valid: dict[str, dict] = field(default_factory=dict)  # id -> payload
    per_day: dict[str, int] = field(default_factory=dict)  # UTC date -> n


def _event(rng: random.Random, t: dt.datetime) -> dict:
    amount = round(math.exp(rng.gauss(3.0, 1.0)), 2)
    if rng.random() < 0.05:
        amount = round(amount * rng.uniform(5.0, 20.0), 2)
    local = t.astimezone(CAIRO)
    return {
        "transaction_id": str(uuid.UUID(int=rng.getrandbits(128), version=4)),
        "amount": amount,
        "features": {
            "num_items": int(max(1.0, rng.gauss(2.0, 1.0))),
            "merchant_risk": rng.random(),
            "hour": float(local.hour),
        },
        "event_time": local.isoformat(timespec="milliseconds"),
    }


def _corrupt_line(rng: random.Random, good: str) -> str:
    kind = rng.randrange(3)
    if kind == 0:
        return good[: len(good) // 2]  # truncated payload
    if kind == 1:
        return json.dumps({"amount": 1.0, "event_time": "2026-03-02T00:00:00Z"})
    return "\x00not json " + good[:8]


def generate(seed: int, n_lines: int, landing_dir: str) -> Backlog:
    """Write a backlog of at most n_lines lines (valid events, their
    redeliveries and corrupt lines) as LINES_PER_FILE-line files, oldest
    first, so it drains in exactly ceil(n_lines / lines-per-trigger)
    micro-batches."""
    rng = random.Random(seed)
    out = Backlog()
    lines: list[str] = []
    pending: list[tuple[int, str]] = []  # (due index, redelivered line)
    step = SPAN_S / n_lines
    i = 0
    while len(lines) + len(pending) + 2 <= n_lines:
        t = START + dt.timedelta(seconds=i * step + rng.uniform(-JITTER_S, JITTER_S))
        ev = _event(rng, t)
        line = json.dumps(ev)
        if rng.random() < CORRUPT_P:
            lines.append(_corrupt_line(rng, line))
            out.corrupt += 1
        else:
            lines.append(line)
            out.valid[ev["transaction_id"]] = ev
            day = t.astimezone(dt.timezone.utc).date().isoformat()
            out.per_day[day] = out.per_day.get(day, 0) + 1
            if rng.random() < REDELIVERY_P:
                pending.append((i + rng.randint(1, 2), line))
        while pending and pending[0][0] <= i:
            lines.append(pending.pop(0)[1])
            out.redelivered += 1
        i += 1
    lines += [line for _, line in pending]
    out.redelivered += len(pending)
    os.makedirs(landing_dir, exist_ok=True)
    base = 1_700_000_000
    for k in range(0, len(lines), LINES_PER_FILE):
        path = os.path.join(landing_dir, f"part-{k // LINES_PER_FILE:06d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines[k : k + LINES_PER_FILE]) + "\n")
        # the file source orders by modification time: make it strict
        os.utime(path, (base + k, base + k))
        out.files += 1
    out.lines = len(lines)
    return out


# --- the workload ------------------------------------------------------------


def setup(ctx) -> dict:
    """Train and register the Production model, write the backlog, warm
    the stream path with one micro-batch and start the request path."""
    from real_time_fraud_detection_system_spark.ml.scoring import score_one
    from real_time_fraud_detection_system_spark.ml.training import (
        load_production,
        train_and_register,
    )
    from real_time_fraud_detection_system_spark.sources.generators import (
        training_frame,
    )

    spark, tr = ctx.spark, ctx.tracer
    st = {"registry": os.path.join(ctx.root, "registry")}
    with tr.span("ml.train"):
        train_and_register(
            training_frame(spark, TRAINING_ROWS, seed=ctx.seed), st["registry"],
            seed=ctx.seed,
        )
    with tr.span("generate"):
        st["backlog"] = generate(
            ctx.seed,
            ctx.size["batches"] * FILES_PER_TRIGGER * LINES_PER_FILE,
            os.path.join(ctx.root, "landing"),
        )
        warm = os.path.join(ctx.root, "warmup")
        generate(ctx.seed + 1, FILES_PER_TRIGGER * LINES_PER_FILE,
                 os.path.join(warm, "landing"))
    with tr.span("stream.warmup"):
        # one micro-batch through the same path into a scratch store: a
        # long-running stream pays class loading and JIT once, not per batch
        err = _drain(spark, warm, st["registry"]).exception()
        if err is not None:
            raise RuntimeError(f"warm-up micro-batch failed: {err}")
    rng = random.Random(ctx.seed + 2)
    ids = rng.sample(sorted(st["backlog"].valid), ctx.size["requests"] + 1)
    with tr.span("ml.serve_start"):
        # the request service loads its model and answers one warm-up
        # request before it takes traffic
        st["model"], _ = load_production(spark, st["registry"])
        score_one(spark, st["model"], st["backlog"].valid[ids[0]])
    st["replay"] = ids[1:]
    return st


def _drain(spark, root: str, registry: str):
    """EP1: drain root/landing into root/store. Returns the finished
    query; a failure is left on ``query.exception()``."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_spark.streaming.pipeline import (
        file_drop_source,
        parse_transactions,
        run_pipeline_with_registry,
    )

    parsed = parse_transactions(
        file_drop_source(spark, os.path.join(root, "landing"), FILES_PER_TRIGGER)
    )
    q = run_pipeline_with_registry(
        parsed.filter(~F.col("_corrupt")),  # the parser leaves routing to callers
        os.path.join(root, "store"),
        os.path.join(root, "checkpoint"),
        registry,
    )
    try:
        q.awaitTermination()
    except StreamingQueryException:
        pass  # kept on q.exception() for the caller to report
    return q


def _trace_epochs(tr):
    """Wrap the per-epoch calls of run_pipeline_with_registry in this
    process: it resolves load_production and score at call time, and
    builds its sink through prediction_sink_writer."""
    from real_time_fraud_detection_system_spark.ml import scoring, training
    from real_time_fraud_detection_system_spark.streaming import pipeline

    epoch = {"n": 0}
    orig_writer = pipeline.prediction_sink_writer

    def writer(out_dir):
        inner = orig_writer(out_dir)

        def write_batch(batch_df, epoch_id):
            with tr.span("sink.write", epoch=epoch_id):
                inner(batch_df, epoch_id)
            epoch["n"] = epoch_id + 1

        return write_batch

    def per_epoch(name, fn):
        def traced(*a, **k):
            with tr.span(name, epoch=epoch["n"]):
                return fn(*a, **k)

        return traced

    saved = [
        (training, "load_production", training.load_production),
        (scoring, "score", scoring.score),
        (pipeline, "prediction_sink_writer", orig_writer),
    ]
    training.load_production = per_epoch("ml.load_production", training.load_production)
    scoring.score = per_epoch("ml.score", scoring.score)
    pipeline.prediction_sink_writer = writer
    return saved


def timed_pass(ctx, st) -> dict:
    from real_time_fraud_detection_system_spark.ml.scoring import score_one
    from real_time_fraud_detection_system_spark.streaming.jobs import (
        daily_metrics_upsert,
        dq_checks,
    )

    spark, tr, sc = ctx.spark, ctx.tracer, ctx.spark.sparkContext
    st["store"] = os.path.join(ctx.root, "store")
    st["metrics"] = os.path.join(ctx.root, "daily_metrics")
    res = {"errors": []}
    with tr.span("pass"):
        sc.setJobGroup("stream", "EP1 backlog drain")
        # the per-epoch calls are wrapped for the drain only, so the
        # scoring inside score_one stays part of the request's own span
        saved = _trace_epochs(tr) if ctx.traced else []
        try:
            with tr.span("stream") as s_stream:
                q = _drain(spark, ctx.root, st["registry"])
        finally:
            for mod, name, fn in saved:
                setattr(mod, name, fn)
        res["progress"] = [json.loads(p.json) for p in q.recentProgress]
        res["stream_s"] = s_stream["end"] - s_stream["start"]
        if q.exception() is not None:
            res["errors"].append(f"stream: {q.exception()}")
        with tr.span("jobs") as s_jobs:
            sc.setJobGroup("jobs.daily_metrics", "EP3 daily metrics")
            with tr.span("jobs.daily_metrics"):
                daily_metrics_upsert(
                    spark, spark.read.parquet(st["store"]), st["metrics"]
                )
            sc.setJobGroup("jobs.dq", "EP3 data quality")
            with tr.span("jobs.dq"):
                try:
                    res["dq"] = dq_checks(spark.read.parquet(st["store"]))
                except AssertionError as exc:
                    res["dq"] = None
                    res["errors"].append(f"dq_checks: {exc}")
        res["jobs_s"] = s_jobs["end"] - s_jobs["start"]
        res["answers"], res["latency_ms"] = [], []
        with tr.span("predict"):
            for i, tid in enumerate(st["replay"]):
                tx = json.loads(json.dumps(st["backlog"].valid[tid]))
                sc.setJobGroup(f"predict.{i}", "EP2 request")
                with tr.span("predict.request") as s_req:
                    ans = score_one(spark, st["model"], tx)
                res["answers"].append((tid, ans))
                res["latency_ms"].append(1000 * (s_req["end"] - s_req["start"]))
        sc.setJobGroup("checks", "untimed")
    return res


def check(ctx, st, res) -> tuple[int, int, list[str]]:
    """Verdicts for every operation of the pass: (attempted, failed,
    reasons). Runs after the timed region, over the files the pass left."""
    import duckdb

    batches = sum(1 for p in res["progress"] if p["numInputRows"] > 0)
    attempted = batches + 2 + len(res["answers"])
    failed, why = 0, list(res["errors"])
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
    except duckdb.Error:
        pass
    con.execute(
        "CREATE VIEW store AS SELECT * FROM read_parquet("
        f"'{st['store']}/**/*.parquet', hive_partitioning=true)"
    )
    rows = con.execute(
        "SELECT transaction_id, count(*), any_value(proba), any_value(prediction)"
        " FROM store GROUP BY transaction_id"
    ).fetchall()
    stored = {r[0]: (r[1], r[2], r[3]) for r in rows}
    res["stored_rows"] = sum(r[1] for r in rows)
    valid = st["backlog"].valid
    if res["errors"] and any(e.startswith("stream") for e in res["errors"]):
        failed += batches
    elif set(stored) != set(valid) or any(v[0] != 1 for v in stored.values()):
        failed += batches
        why.append(
            f"store: {len(stored)} ids ({sum(v[0] for v in stored.values())} rows)"
            f" vs {len(valid)} distinct valid ids"
        )
    # daily metrics: the job's output vs a GROUP BY day over the store,
    # and its counts vs the generator's own per-day tally
    want = con.execute(
        "SELECT CAST(CAST(event_time AS DATE) AS VARCHAR), count(*),"
        " avg(CAST(prediction AS DOUBLE)), avg(amount), avg(proba)"
        " FROM store GROUP BY 1 ORDER BY 1"
    ).fetchall()
    got = con.execute(
        "SELECT CAST(day AS VARCHAR), num_predictions, fraud_rate, avg_amount,"
        " avg_proba FROM read_parquet("
        f"'{st['metrics']}/**/*.parquet', hive_partitioning=true) ORDER BY 1"
    ).fetchall()
    tally = sorted(st["backlog"].per_day.items())
    if not _rows_close(got, want) or [(g[0], g[1]) for g in got] != tally:
        failed += 1
        why.append(f"daily_metrics: got {got[:3]}... want {want[:3]}... tally {tally[:3]}...")
    if res.get("dq") is None:
        failed += 1
    for tid, ans in res["answers"]:
        ref = stored.get(tid)
        if (
            ref is None
            or ans["prediction"] != ref[2]
            or not math.isclose(ans["proba"], ref[1], rel_tol=1e-9, abs_tol=1e-12)
        ):
            failed += 1
            why.append(f"score_one {tid}: {ans} vs store {ref}")
    con.close()
    return attempted, failed, why


def _rows_close(a, b) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if ra[:2] != rb[:2]:
            return False
        for x, y in zip(ra[2:], rb[2:]):
            if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12):
                return False
    return True


PHASES = ("addBatch", "latestOffset", "getBatch", "queryPlanning", "walCommit",
          "commitOffsets")


def _batches(res) -> list[dict]:
    return [p for p in res["progress"] if p["numInputRows"] > 0]


def end_to_end(ctx, st, res) -> dict:
    batches = _batches(res)
    trig = [p["durationMs"]["triggerExecution"] for p in batches]
    return {
        "pass_s": res["stream_s"] + res["jobs_s"] + sum(res["latency_ms"]) / 1000.0,
        "op_ms": statistics.median(trig),
        "samples_ms": trig,
    }


def _iso(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def add_batch_spans(tr, res) -> None:
    """File each micro-batch as a span under the stream span, from the
    query's own progress report, and hang the per-epoch spans of the
    traced calls under their batch."""
    stream = tr.named("stream")[0]
    by_epoch = {}
    for p in res["progress"]:
        start = _iso(p["timestamp"])
        end = start + p["durationMs"].get("triggerExecution", 0) / 1000.0
        by_epoch[p["batchId"]] = tr.add(
            "stream.batch", start, end, parent=stream["id"], epoch=p["batchId"]
        )
    for s in tr.spans:
        if s["name"] in ("ml.load_production", "ml.score", "sink.write"):
            batch = by_epoch.get(s["epoch"])
            if batch is not None:
                s["parent"] = batch["id"]


def per_layer(ctx, st, res, log, phase_jobs) -> dict:
    tr = ctx.tracer
    batches = _batches(res)
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    out = {}
    loads = tr.named("ml.load_production")
    out["ml.load_production.calls"] = len(loads)
    out["ml.load_production.s"] = sum(s["end"] - s["start"] for s in loads)
    out["ml.load_production.per_batch"] = len(loads) / max(1, len(batches))
    in_batch = {s["id"] for s in tr.named("stream.batch")}
    out["ml.score.plan_ms"] = (
        med([1000 * (s["end"] - s["start"]) for s in tr.named("ml.score")
             if s["parent"] in in_batch]))
    jobs = [j for j, g in log["job_group"].items() if (g or "").startswith("predict.")]
    n_req = max(1, len(res["answers"]))
    out["ml.score_one.jobs_per_request"] = len(jobs) / n_req
    out["ml.score_one.stages_per_request"] = (
        sum(log["stages_run"].get(j, 0) for j in jobs) / n_req)
    out["stream.batches"] = len(batches)
    out["stream.rows_in"] = sum(p["numInputRows"] for p in batches)
    out["stream.rows_out"] = res["stored_rows"]
    for ph in PHASES:
        out[f"stream.{ph}_ms"] = med([p["durationMs"].get(ph, 0) for p in batches])
    ops = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    out["dedup.state_rows"] = ops[-1]["numRowsTotal"] if ops else 0
    out["dedup.state_mem_bytes"] = ops[-1]["memoryUsedBytes"] if ops else 0
    out["dedup.commit_ms"] = med([o["commitTimeMs"] for o in ops])
    out["dedup.dropped_duplicates"] = (
        sum(o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for o in ops))
    out["dedup.dropped_by_watermark"] = (
        sum(o.get("numRowsDroppedByWatermark", 0) for o in ops))
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(st["store"])
        for f in fs
        if f.endswith(".parquet")
    ]
    out["sink.write_ms"] = (
        med([1000 * (s["end"] - s["start"]) for s in tr.named("sink.write")]))
    out["sink.files"] = len(files)
    out["sink.bytes"] = sum(os.path.getsize(f) for f in files)
    out["sink.rows_per_file"] = len(st["backlog"].valid) / max(1, len(files))
    for name in ("jobs.daily_metrics", "jobs.dq"):
        s = tr.named(name)[0]
        out[f"{name}_s"] = s["end"] - s["start"]
    # how much of the batch time Spark's own phase durations account for
    trig = sum(p["durationMs"]["triggerExecution"] for p in batches)
    phases = sum(p["durationMs"].get(ph, 0) for p in batches for ph in PHASES)
    out["trace.batch_phase_coverage"] = phases / trig if trig else 0.0
    return out
