"""Benchmark entry point.

    python3 perfbench/run.py --workload fraud_pipeline --seed 1 --seconds 12 --trace 0

One invocation is one run in a fresh JVM: session start and set-up,
one timed pass, the correctness checks (untimed), then a JSON line on
stdout with the verdict and the metrics: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
from dataclasses import dataclass

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import fraud  # noqa: E402
import host  # noqa: E402
import mixes  # noqa: E402
import tracing  # noqa: E402

sys.path.insert(0, host.REPO_ROOT)

WORKLOADS = {"fraud_pipeline": fraud, "query_mix": mixes}
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_ms": "ms",
    "peak_rss_mb": "MB",
}


@dataclass
class Ctx:
    spark: object
    tracer: tracing.Tracer
    root: str
    seed: int
    seconds: int
    traced: bool
    size: dict


def sizing(workload: str, seconds: int) -> dict:
    """Work per run, scaled by --seconds (calibrated so one pass takes
    about that long on a 4-core host)."""
    if workload == "fraud_pipeline":
        return {"batches": max(1, seconds // 4), "requests": max(1, seconds // 8)}
    return {"passes": max(1, seconds // 6)}


def quantile(xs: list[float], q: float) -> float:
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def run(workload: str, seed: int, seconds: int, traced: bool) -> dict:
    from real_time_fraud_detection_system_spark.session import get_spark

    wl = WORKLOADS[workload]
    root = host.make_run_root()
    host.configure_env(root)
    tr = tracing.Tracer(f"{workload}-{seed}-{os.getpid()}")
    rss = host.RssSampler()
    stop = threading.Event()

    def sample():
        while not stop.wait(0.5):
            rss.sample()

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    spark = None
    log_dir = os.path.join(root, "eventlog") if traced else None
    try:
        with tr.span("session"):
            spark = get_spark(
                f"perfbench-{workload}",
                extra_conf=host.spark_conf(root, log_dir),
            )
        ctx = Ctx(spark, tr, root, seed, seconds, traced, sizing(workload, seconds))
        with tr.span("setup"):
            spark.sparkContext.setJobGroup("setup", "set-up")
            spark.range(1000).selectExpr("sum(id)").collect()  # warm-up
            st = wl.setup(ctx)
        res = wl.timed_pass(ctx, st)
        with tr.span("checks"):
            attempted, failed, why = wl.check(ctx, st, res)
        e2e = wl.end_to_end(ctx, st, res)
    except BaseException:
        stop.set()
        if spark is not None:
            host.stop_spark(spark)
        host.rmtree_retry(root)
        raise
    stop.set()
    sampler.join()
    peak = rss.peak_mb()
    host.stop_spark(spark)
    for line in why:
        print(f"check failed: {line}", file=sys.stderr)
    setup = tr.named("session")[0], tr.named("setup")[0]
    metrics = {
        "setup_s": sum(s["end"] - s["start"] for s in setup),
        "pass_s": e2e["pass_s"],
        "op_ms": e2e["op_ms"],
        "peak_rss_mb": peak,
    }
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()},
    }
    try:
        if traced:
            out["metrics"] = layer_metrics(workload, wl, ctx, st, res, log_dir, metrics,
                                           e2e, attempted, failed)
        else:
            _remember_untraced(workload, seconds, metrics)
    finally:
        host.rmtree_retry(root)
    return out


def _untraced_path(workload: str, seconds: int) -> str:
    return os.path.join(host.RUNS_DIR, f"untraced-{workload}-{seconds}s.jsonl")


def _remember_untraced(workload: str, seconds: int, metrics: dict) -> None:
    """Keep untraced results, so a traced run of the same workload and
    size in this checkout can report its overhead against them."""
    os.makedirs(host.RUNS_DIR, exist_ok=True)
    with open(_untraced_path(workload, seconds), "a") as f:
        f.write(json.dumps(metrics) + "\n")


def _untraced_runs(workload: str, seconds: int) -> list[dict]:
    path = _untraced_path(workload, seconds)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric, with its unit. A traced run of any
    workload prints all of them; a layer the workload does not reach
    reads 0."""
    return {
        "session.start_s": "s",
        "ml.train_s": "s",
        "ml.load_production.calls": "count",
        "ml.load_production.s": "s",
        "ml.load_production.per_batch": "ratio",
        "ml.score.plan_ms": "ms",
        "ml.score_one.jobs_per_request": "count",
        "ml.score_one.stages_per_request": "count",
        "stream.batches": "count",
        "stream.rows_in": "count",
        "stream.rows_out": "count",
        **{f"stream.{ph}_ms": "ms" for ph in fraud.PHASES},
        "dedup.state_rows": "count",
        "dedup.state_mem_bytes": "bytes",
        "dedup.commit_ms": "ms",
        "dedup.dropped_duplicates": "count",
        "dedup.dropped_by_watermark": "count",
        "sink.write_ms": "ms",
        "sink.files": "count",
        "sink.bytes": "bytes",
        "sink.rows_per_file": "count",
        "jobs.daily_metrics_s": "s",
        "jobs.dq_s": "s",
        **{f"query.{q}_s": "s" for q in mixes.QUERIES},
        **{f"memo.build_s.{t}": "s" for t in mixes.MEMO_TAGS},
        "memo.builds": "count",
        "memo.hits": "count",
        "memo.entries": "count",
        "memo.bytes": "bytes",
        "memo.rebuilds_in_mix": "count",
        "memo.cold_pass_s": "s",
        "spark.tasks": "count",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.gc_s": "s",
        "spark.input_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes",
        "spark.shuffle_read_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "spark.python_total_s": "s",
        "spark.python_boot_s": "s",
        "spark.python_bytes": "bytes",
        "spark.sql_half.python_total_s": "s",
        **{f"self.{layer}_s": "s" for layer in SELF_LAYERS.values()},
        "trace.batch_phase_coverage": "ratio",
        "trace.batch_self_coverage": "ratio",
        **{f"trace.overhead.{k}": u for k, u in END_TO_END.items()},
        "trace.overhead_base_runs": "count",
        "stream_eps": "events/s",
        "batch_p50_ms": "ms",
        "batch_p90_ms": "ms",
        "batch_n": "count",
        "jobs_s": "s",
        "predict_p50_ms": "ms",
        "predict_p90_ms": "ms",
        "predict_n": "count",
        "mix_s": "s",
        "error_rate": "ratio",
    }


# span name -> self-time layer; self time excludes the children's cover
SELF_LAYERS = {
    "session": "session",
    "setup": "setup",
    "ml.train": "ml.training",
    "generate": "generate",
    "stream.warmup": "stream.warmup",
    "ml.serve_start": "ml.serve_start",
    "memo.build": "memo.build",
    "cold.*": "operators.cold",
    "stream": "stream.query",
    "stream.batch": "stream.batch",
    "ml.load_production": "ml.load_production",
    "ml.score": "ml.score",
    "sink.write": "sink",
    "jobs.daily_metrics": "jobs.daily_metrics",
    "jobs.dq": "jobs.dq",
    "predict.request": "ml.score_one",
    "query.*": "operators",
    "checks": "checks",
}


def layer_metrics(workload, wl, ctx, st, res, log_dir, e2e_vals, e2e, attempted, failed):
    tr = ctx.tracer
    names = per_layer_names()
    vals = {n: 0.0 for n in names}
    log = tracing.read_event_log(log_dir)
    if workload == "fraud_pipeline":
        wl.add_batch_spans(tr, res)
    windows = {"setup", "stream", "jobs.daily_metrics", "jobs.dq",
               "predict", "checks"} | {s["name"] for s in tr.spans
                                        if s["name"].startswith("query.")}
    job_phase = tracing.phase_of_job(log, tr.spans, windows)
    timed = {"stream", "jobs.daily_metrics", "jobs.dq", "predict"}
    pass_jobs = [j for j, p in job_phase.items() if p in timed or p.startswith("query.")]
    tot = tracing.totals(log, pass_jobs)
    vals.update(
        {
            "spark.tasks": tot["tasks"],
            "spark.executor_run_s": tot["executor_run_ms"] / 1000.0,
            "spark.executor_cpu_s": tot["executor_cpu_ns"] / 1e9,
            "spark.gc_s": tot["gc_ms"] / 1000.0,
            "spark.input_bytes": tot["input_bytes"],
            "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
            "spark.shuffle_read_bytes": tot["shuffle_read_bytes"],
            "spark.spill_bytes": tot["spill_bytes"],
            "spark.python_total_s": tot["python_total_ms"] / 1000.0,
            "spark.python_boot_s": tot["python_boot_ms"] / 1000.0,
            "spark.python_bytes": tot["python_bytes"],
        }
    )
    vals.update(wl.per_layer(ctx, st, res, log, job_phase))
    span_s = lambda n: sum(s["end"] - s["start"] for s in tr.named(n))  # noqa: E731
    vals["session.start_s"] = span_s("session")
    vals["ml.train_s"] = span_s("ml.train")
    selfs = tracing.self_times(tr.spans)
    for span_name, v in selfs.items():
        layer = SELF_LAYERS.get(span_name) or SELF_LAYERS.get(span_name.split(".")[0] + ".*")
        if layer is not None:
            vals[f"self.{layer}_s"] += v
    batch_s = span_s("stream.batch")
    if batch_s:
        # the micro-batch time, split into the layers it passes through
        vals["trace.batch_self_coverage"] = sum(
            vals[f"self.{layer}_s"]
            for layer in ("ml.load_production", "ml.score", "sink", "stream.batch")
        ) / batch_s
    base = _untraced_runs(workload, ctx.seconds)
    for k in END_TO_END:
        vals[f"trace.overhead.{k}"] = (
            e2e_vals[k] - statistics.median(b[k] for b in base) if base else 0.0
        )
    vals["trace.overhead_base_runs"] = len(base)
    ops = e2e["samples_ms"]
    if workload == "fraud_pipeline":
        lat = res["latency_ms"]
        vals.update(
            {
                "stream_eps": len(st["backlog"].valid) / res["stream_s"],
                "batch_p50_ms": quantile(ops, 0.5),
                "batch_p90_ms": quantile(ops, 0.9),
                "batch_n": len(ops),
                "jobs_s": res["jobs_s"],
                "predict_p50_ms": quantile(lat, 0.5),
                "predict_p90_ms": quantile(lat, 0.9),
                "predict_n": len(lat),
            }
        )
    else:
        vals["mix_s"] = e2e_vals["pass_s"]
    vals["error_rate"] = failed / attempted
    ctx_dir = os.path.join(host.RUNS_DIR, "traces", tr.run_id)
    os.makedirs(ctx_dir, exist_ok=True)
    tr.write(os.path.join(ctx_dir, "spans.jsonl"))
    return {n: {"value": vals[n], "unit": names[n]} for n in names}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
