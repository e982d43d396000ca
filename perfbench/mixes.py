"""The query_mix workload: timed passes over registered queries at
sf0.01 (the copy under data/), each result checked against DuckDB
running the query's registered ORACLE SQL on the same parquet.

The mix has two halves. SQL_MIX is JVM-only: scans, joins, shuffles,
windows, no Python workers. CORPUS_MIX runs the pandas/Arrow kernels and
probes the memo indexes. Set-up starts from an empty memo store and runs
the mix once, untimed: that pass builds every memo the mix reads and
compiles each query's plan shapes. The timed passes then measure the
probes, not the builds. Results are collected to the driver inside the
timed region (they are small) and compared after it, canonicalized the
way tools/check_correctness.py does.
"""

from __future__ import annotations

import math
import os
import statistics

import numpy as np
import pandas as pd

import host

SQL_MIX = (
    "q1_pricing_summary",  # scan, filter, hash aggregate, sort
    "q3_shipping_priority",  # three-way join, top-k
    "q18_large_volume_customers",  # aggregate, semi-join
    "part_rankings",  # window functions over a shuffle
)
CORPUS_MIX = (
    "bootstrap_fraud_ci",  # map-only Arrow kernel
    "repetition_stats",  # pandas kernel
    "dedup_minhash_lsh",  # probes the sig and pairs memos
)
QUERIES = SQL_MIX + CORPUS_MIX
MEMO_TAGS = ("sig", "postings", "bm25stats", "srcsh", "srcpairs", "pairs",
             "rarecand", "semlabels", "kmvsketch", "orderitems", "tradew")


def memo_entries() -> set[str]:
    root = os.environ["SPARK_GRAFT_SIGCACHE"]
    return {d for d in os.listdir(root) if not d.startswith(".") and not d.endswith(".tmp")}


def memo_bytes() -> int:
    root = os.environ["SPARK_GRAFT_SIGCACHE"]
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


def trace_memo(tr) -> list:
    """Wrap memo_parquet where the operator modules bound it, in this
    process: a call whose entry is missing is a build, else a hit.
    Returns the (module, original) pairs to restore."""
    import sys

    from real_time_fraud_detection_system_spark.operators import _memo

    orig = _memo.memo_parquet

    def memo_parquet(spark, fingerprint, tag, build):
        if fingerprint is None:  # not memoized
            return orig(spark, fingerprint, tag, build)
        if os.path.isdir(os.path.join(_memo.memo_root(), f"{fingerprint}-{tag}")):
            tr.add("memo.hit", 0.0, 0.0, tag=tag)
            return orig(spark, fingerprint, tag, build)
        with tr.span("memo.build", tag=tag):
            return orig(spark, fingerprint, tag, build)

    bound = [m for m in list(sys.modules.values()) if getattr(m, "memo_parquet", None) is orig]
    for mod in bound:
        mod.memo_parquet = memo_parquet
    return [(mod, orig) for mod in bound]


def _run_queries(ctx, st, label: str) -> dict:
    sc, tr = ctx.spark.sparkContext, ctx.tracer
    out = {"results": {}, "errors": {}, "seconds": {}}
    with tr.span(label) as p:
        for q in QUERIES:
            sc.setJobGroup(f"{label}.{q}", q)
            with tr.span(f"{label}.{q}") as s:
                try:
                    out["results"][q] = st["fns"][q](ctx.spark, host.DATA_DIR).toPandas()
                except Exception as exc:  # a failed query is a failed operation
                    out["errors"][q] = f"{type(exc).__name__}: {exc}"
            out["seconds"][q] = s["end"] - s["start"]
    out["wall_s"] = p["end"] - p["start"]
    return out


def setup(ctx) -> dict:
    from real_time_fraud_detection_system_spark.operators import all_queries

    registry = all_queries()
    st = {"fns": {q: registry[q] for q in QUERIES}}
    st["untrace"] = trace_memo(ctx.tracer) if ctx.traced else []
    st["cold"] = _run_queries(ctx, st, "cold")
    st["memo_entries"] = len(memo_entries())
    st["memo_bytes"] = memo_bytes()
    return st


def timed_pass(ctx, st) -> dict:
    before = memo_entries()
    try:
        with ctx.tracer.span("pass"):
            passes = [_run_queries(ctx, st, "query") for _ in range(ctx.size["passes"])]
    finally:
        for mod, fn in st["untrace"]:
            mod.memo_parquet = fn
    ctx.spark.sparkContext.setJobGroup("checks", "untimed")
    return {"passes": passes, "rebuilds": len(memo_entries() - before)}


def check(ctx, st, res) -> tuple[int, int, list[str]]:
    import duckdb

    from real_time_fraud_detection_system_spark.catalog import TABLES, table_path
    from real_time_fraud_detection_system_spark.operators import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(host.DATA_DIR, t)}'")
    failed, why = 0, []
    for q in QUERIES:
        want = con.execute(oracles[q]).fetchdf()
        for p in res["passes"]:
            verdict = (
                f"raised {p['errors'][q]}" if q in p["errors"]
                else compare(p["results"][q], want)
            )
            if verdict:
                failed += 1
                why.append(f"{q}: {verdict}")
    con.close()
    return len(QUERIES) * len(res["passes"]), failed, why


def end_to_end(ctx, st, res) -> dict:
    per_query = [
        1000 * statistics.median(p["seconds"][q] for p in res["passes"]) for q in QUERIES
    ]
    return {
        "pass_s": statistics.median(p["wall_s"] for p in res["passes"]),
        # the queries differ by 10x, so the typical one is their geometric
        # mean: a pooled median would jump between whichever two sit mid-list
        "op_ms": math.exp(statistics.fmean(math.log(x) for x in per_query)),
        "samples_ms": per_query,
    }


def per_layer(ctx, st, res, log, job_phase) -> dict:
    import tracing

    tr = ctx.tracer
    out = {
        f"query.{q}_s": statistics.median(p["seconds"][q] for p in res["passes"])
        for q in QUERIES
    }
    builds = tr.named("memo.build")
    for tag in MEMO_TAGS:  # a memo tag may carry a parameter suffix
        out[f"memo.build_s.{tag}"] = (
            sum(s["end"] - s["start"] for s in builds if s["tag"].split("-")[0] == tag))
    out["memo.builds"] = len(builds)
    out["memo.hits"] = len(tr.named("memo.hit"))
    out["memo.entries"] = st["memo_entries"]
    out["memo.bytes"] = st["memo_bytes"]
    out["memo.rebuilds_in_mix"] = res["rebuilds"]
    out["memo.cold_pass_s"] = st["cold"]["wall_s"]
    sql = {f"query.{q}" for q in SQL_MIX}
    sql_jobs = [j for j, p in job_phase.items() if p in sql]
    out["spark.sql_half.python_total_s"] = (
        tracing.totals(log, sql_jobs)["python_total_ms"] / 1000.0)
    return out


# --- result comparison, as tools/check_correctness.py does it -------------


def _cell(v) -> str:
    if v is None or v is pd.NaT or (isinstance(v, float) and np.isnan(v)):
        return "NULL"
    if isinstance(v, pd.Timestamp):
        # DuckDB renders DATE as a midnight datetime; Spark keeps dates
        if v.tzinfo is None and v == v.normalize():
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    return str(v)  # no numeric normalization: int-vs-float drift is a miss


def canon(df: pd.DataFrame) -> list[str]:
    df = df[sorted(df.columns)]
    for col in df.columns:
        if df[col].map(lambda v: isinstance(v, (list, tuple, np.ndarray, dict))).any():
            raise TypeError(f"array/list cells in column {col}")
    df = df.sort_values(by=list(df.columns), kind="mergesort")
    return ["|".join(_cell(v) for v in row) for row in df.itertuples(index=False)]


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames match; else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows vs oracle {len(want)}"
    try:
        a, b = canon(got), canon(want)
    except TypeError as exc:
        return str(exc)
    for x, y in zip(a, b):
        if x != y:
            return f"first differing row: {x} vs oracle {y}"
    return None
