"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line with per-query seconds.

Execution is forced with the noop sink (full plan runs, nothing
collected to the driver, no output I/O in the measurement).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

from real_time_fraud_detection_system_spark.operators import all_queries
from real_time_fraud_detection_system_spark.session import (
    cpu_count,
    default_sf_dir,
    get_spark,
)

# Headline MEMBERSHIP RULE (tests/test_bench_headline.py pins it):
#   1. every operator family (module with QUERIES) keeps at least one
#      member, so a family-wide regression cannot hide;
#   2. deliberately-quadratic teaching variants (dedup_ngram_jaccard,
#      embedding_near_dup, dedup_simhash16) stay OUT -- their scale
#      paths (dedup_minhash_lsh, ann_lsh_bucketed, dedup_simhash) are
#      in; at bench scale the guards would refuse them anyway.
# The names are kept stable so BENCH_r*.json files stay comparable.
# The full registry is measured by tools/scale_sweep.py; this list is
# the regression gate, not the coverage sweep.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_change",
    "q10_returned_items",
    "q7_volume_shipping",
    "q18_large_volume_customers",
    "top_orders_per_customer",
    "daily_metrics",
    "hourly_timeseries",
    "recent_topk",
    "heuristic_score",
    "logit_score",
    "user_sessions",
    "asof_click_before_purchase",
    "clicks_before_errors",
    "dedup_exact",
    "salted_value_by_type",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_clusters_wide",
    "text_stats",
    "corpus_token_stats",
    "repetition_stats",
    "sequence_packing",
    "contamination_check",
    "q21_sole_late_supplier",
    "ann_cosine_topk",
    "ann_lsh_bucketed",
    "multimodal_features",
    "multimodal_frames",
    "tfidf_top_terms",
    "semantic_dedup_clusters",
    "dedup_minhash_clusters",
    "weekly_retention_cohorts",
    "source_mixture_plan",
    "value_drift_psi",
    "lang_mismatch_rate",
    "predictions_profile",
    "event_gap_buckets",
    "shuffle_balance_profile",
    "dedup_incremental",
    "split_leakage_check",
    "pii_scrub_stats",
    "embedding_outliers",
    "bigram_lm_score",
    "q20_excess_stock_suppliers",
    "ann_ivf_topk",
    "ann_recall_eval",
    "crossdoc_ngram_share",
    "supplier_pagerank",
    "dedup_containment",
    "token_concentration_bins",
    "cluster_safe_split",
    "minhash_lsh_recall",
    "layout_pruning_stats",
    "kmeans_fixedpoint",
    "rfm_segments",
    "dq_expectations",
    "join_blowup_probe",
    "source_token_entropy",
    "bloom_prefilter_stats",
    "countmin_heavy_hitters",
    "skyline_parts",
    "supplier_bfs_hops",
    "exact_median_by_type",
    "event_comovement_corr",
    "activity_islands",
    "last_touch_attribution",
    "daily_value_percentiles",
    "ann_knn_join",
    "daily_trend_slopes",
    "part_cooccurrence_topk",
    "time_weighted_value",
    "fk_integrity_check",
    "exact_substring_spans",
    "dsir_importance_bins",
    "dedup_signal_crosstab",
    "token_fertility",
    "shingle_df_curve",
    "dedup_keep_best",
    "packing_budget_sweep",
    "minhash_est_vs_exact",
    "scd2_priority_history",
    "pit_event_enrichment",
    "zipf_alpha_by_source",
    "dup_chao1_estimate",
    "activity_shape_buckets",
    "kmv_source_overlap",
    "activity_shape_matches",
    "shape_match_recall",
    "containment_recall",
    "shard_overlap",
    "part_rankings",
    "lsh_band_sweep",
    "ann_int8_recall",
    "corpus_snapshot_diff",
    "snapshot_novelty",
    "added_dup_against_base",
    "intrinsic_dim_twonn",
    "source_epoch_plan",
    "snapshot_quality_drift",
    "label_centroid_separation",
    "weighted_sample_topk",
    "dedup_prefix_filter",
    "bm25_topk",
    "bm25_indexed_topk",
    "bm25_batch_topk",
    "text_index_stats",
    "dedup_phash",
    "dedup_audio_fp",
    "dedup_video_fp",
    "bootstrap_fraud_ci",
    "position_attribution",
    "top_session_paths",
    "hll_shingle_cardinality",
    "index_tombstone_stats",
    "hybrid_topk",
    "ann_index_stats",
    "bm25_discovered_topk",
    "bpe_token_stats",
    "dup_rate_by_source",
    "peak_concurrency",
    "wire_format_roundtrip",
    "simhash_fingerprints",
    "event_type_affinity",
    "cusum_changepoints",
    "part_triangles",
]


def run_query(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_streaming_ingest(spark, seconds: int = 20) -> float:
    """Sustained scored-events throughput (BASELINE target >= 2000 ev/s):
    rate source -> dedup -> heuristic score -> counted foreachBatch sink.
    eps is measured from stream start to the LAST COMMITTED batch, so a
    trailing in-flight batch cut off by stop() doesn't zero the number
    (micro-batches run seconds at this rate on a loaded machine)."""
    import tempfile

    from real_time_fraud_detection_system_spark.ml.scoring import score
    from real_time_fraud_detection_system_spark.sources.generators import (
        transactions_stream,
    )
    from real_time_fraud_detection_system_spark.streaming.pipeline import (
        deduplicated,
    )

    counts = {"n": 0, "t_last": None}

    def count_batch(batch_df, epoch_id):
        counts["n"] += batch_df.count()
        counts["t_last"] = time.time()

    # NOT TemporaryDirectory's context manager: its exit rmtree RACES
    # Spark's state-store maintenance threads, which keep flushing
    # commit files into the checkpoint dir for a moment after
    # q.stop() returns -- the cleanup then dies on 'Directory not
    # empty' AFTER the measurement succeeded, and the child exits
    # with no JSON line (observed intermittently at round-11 close:
    # recorded eps=0.0 while solo re-runs read 860-907k). Best-effort
    # retried rmtree instead; a leaked tmpdir is noise, a lost
    # measurement is a phantom regression.
    ckpt = tempfile.mkdtemp(prefix="bench_ingest_ckpt_")
    try:
        q = (
            score(deduplicated(
                transactions_stream(spark, rows_per_second=1000000)
            ))
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(count_batch)
            .trigger(processingTime="1 seconds")
            .start()
        )
        t0 = time.time()
        time.sleep(seconds)
        # under heavy host contention the first micro-batch can outlive
        # the whole window (observed: eps recorded 0.0); extend rather
        # than record a number that says "broken" when it means "busy"
        extra = 0
        while counts["n"] == 0 and extra < 40:
            time.sleep(10)
            extra += 10
        q.stop()
    finally:
        import shutil

        for _ in range(5):
            shutil.rmtree(ckpt, ignore_errors=True)
            if not os.path.exists(ckpt):
                break
            time.sleep(1)
        if os.path.exists(ckpt):
            # evidence-stream note (ADVICE r11): a tmpdir the
            # state-store maintenance thread kept recreating past the
            # retries leaks silently otherwise
            print(json.dumps({"leaked_checkpoint_dir": ckpt}),
                  file=sys.stderr)
    if not counts["n"] or counts["t_last"] is None:
        return 0.0
    return counts["n"] / (counts["t_last"] - t0)


def _fresh_session(split_bytes: int):
    """Build this PROCESS's session. Every measured section (sf0.1
    suite, streaming ingest, sf1, sf10) runs in its own subprocess ->
    its own JVM: ~170 query runs of accumulated driver/listener/GC
    state inflated late-section numbers up to 20x over solo runs of the
    same code (ann_lsh_bucketed 2.4 s solo vs 31-58 s in-session,
    rounds 5-7), and an in-process SparkContext restart leaves streaming
    state-store maintenance threads chasing the dead coordinator. A
    fresh JVM per section is the only isolation that actually holds."""
    return get_spark(
        "bench",
        cpus=cpu_count(),
        extra_conf={"spark.sql.files.maxPartitionBytes": str(split_bytes)},
    )


def _warmup(spark, queries, sf_dir: str) -> None:
    """JVM/codegen warmup outside the measurement, plus a trivial
    mapInPandas pass so Python-worker spawn (32 procs) is not billed to
    the first pandas-stage query. One full pass over the two corpus
    tables warms the OS page cache and the scan/explode codegen paths,
    so the first heavy corpus query of a fresh-JVM section is not
    billed for section-global cold-start (steady state on a real
    cluster has those hot). Re-run per fresh session."""
    run_query(queries["q6_revenue_change"](spark, sf_dir))
    import os

    for t in ("documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            run_query(spark.read.parquet(p))
    import pandas as _pd  # noqa: F401

    spark.range(64, numPartitions=cpu_count()).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()


def _run_suite(spark, queries, dir_: str, deadline: float | None = None,
               runs: int = 2) -> dict[str, float]:
    """Best-of-`runs` per query: the first run pays codegen/JIT compile
    and is exposed to machine noise; the min is the reproducible number.
    One protocol for every measured suite -- sf0.1 and sf1 numbers must
    stay comparable.

    deadline (abs epoch seconds): between queries, if the clock has
    passed it, remaining queries record -1 ("not run") instead of
    blocking the harness window -- a partial suite with an explicit
    marker beats a bench line that never prints."""
    out: dict[str, float] = {}
    for name in HEADLINE:
        if deadline is not None and time.time() > deadline:
            out[name] = -1.0
            continue
        best = float("inf")
        for _ in range(runs):
            t0 = time.time()
            run_query(queries[name](spark, dir_))
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
        # operators that cache intermediates (dedup, contamination)
        # must not leave them pinned: accumulated caches shift later
        # queries' GC behavior and make run N depend on runs 1..N-1
        spark.catalog.clearCache()
    return out


def _section_child(argv: list[str]) -> None:
    """Child-process entry: run ONE suite section in a fresh JVM and
    print its scale_section JSON line. argv: label dir sf split runs
    deadline_epoch (0 = none).

    Memo artifacts (MinHash signatures, shingle census, verified
    pairs, ...) are PRE-BUILT before the measured pass and their cost
    reported separately as memo_build_seconds: the steady-state
    posture is build-once-per-snapshot/probe-from-every-query, and a
    single-cold section that lands the one-time build on whichever
    query touches the memo first records a phantom regression
    (round-10 exhibit: kmv_source_overlap 28.7 s recorded vs 2.3 s
    warm -- the census rebuild forced by a schema change)."""
    label, dir_, sf_val, split, runs, deadline = (
        argv[0], argv[1], float(argv[2]), int(argv[3]), int(argv[4]),
        float(argv[5]),
    )
    from real_time_fraud_detection_system_spark.operators._memo import prime_memos

    spark = _fresh_session(split)
    queries = all_queries()
    _warmup(spark, queries, dir_)
    t0 = time.time()
    memo_tags = prime_memos(spark, dir_)
    memo_s = round(time.time() - t0, 3)
    spark.catalog.clearCache()
    timings = _run_suite(spark, queries, dir_,
                         deadline=deadline or None, runs=runs)
    evidence = {
        "scale_section": label,
        "queries": timings,
        "sf": sf_val,
        "memo_build_seconds": memo_s,
        "memo_build_tags": memo_tags,
    }
    if runs == 1:
        # single-run sections age: by the 100+th query the JVM/host has
        # drifted enough that the permanent record overstated its worst
        # entries 4-7x vs solo re-runs (r13: supplier_pagerank 57.8 s
        # recorded, 11.6 s solo min-of-2).  Re-measure ONLY the worst-3
        # once more and keep the min -- bounded extra cost, and the
        # first-pass numbers stay on this evidence line unchanged.
        worst3 = sorted(
            ((k, v) for k, v in timings.items() if v >= 0),
            key=lambda kv: -kv[1],
        )[:3]
        evidence["worst3_first_pass"] = {k: v for k, v in worst3}
        for name, first in worst3:
            if deadline and time.time() > deadline:
                break
            t1 = time.time()
            run_query(queries[name](spark, dir_))
            timings[name] = round(min(first, time.time() - t1), 3)
            spark.catalog.clearCache()
    print(json.dumps(evidence), flush=True)
    spark.stop()


def _ingest_child() -> None:
    """Child-process entry: streaming ingest in a fresh JVM (the
    driver-recorded eps swung 377-686k vs 830k+ in repo runs when it
    shared the aged suite session)."""
    spark = _fresh_session(1024 * 1024)
    eps = bench_streaming_ingest(spark)
    print(json.dumps({"ingest_eps": round(eps, 1)}), flush=True)
    spark.stop()


def _spawn(args: list[str], timeout_s: float) -> dict | None:
    """Run a bench child process; forward its stdout lines (the live
    evidence record) and return its LAST parseable JSON line."""
    import subprocess

    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), *args],
            capture_output=True, text=True, timeout=timeout_s,
        )
    except subprocess.TimeoutExpired as e:
        # CPython quirk: even with text=True, the partial output
        # captured at timeout is raw bytes (and None on POSIX when
        # nothing was read) -- decode defensively or the evidence
        # stream gets a b'...' repr blob instead of the JSON lines
        out = (e.stdout.decode(errors="replace")
               if isinstance(e.stdout, bytes) else (e.stdout or ""))
        if out:
            print(out, end="", flush=True)
        return None
    last = None
    for ln in proc.stdout.splitlines():
        print(ln, flush=True)
        try:
            last = json.loads(ln)
        except ValueError:
            pass
    if last is None:
        # a crashed child previously recorded only "died/timed out"
        # with no cause (the round-11 ingest checkpoint-cleanup race
        # took three bench runs to diagnose for exactly this reason);
        # surface the stderr tail on the evidence stream
        tail = [
            ln for ln in (proc.stderr or "").splitlines()
            if ln.strip() and not ln.startswith("\tat ")
        ][-12:]
        if tail:
            print(json.dumps({"child_stderr_tail": tail}), flush=True)
    return last


def main() -> None:
    # child-process modes
    if len(sys.argv) > 1 and sys.argv[1] == "--section":
        _section_child(sys.argv[2:])
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--ingest":
        _ingest_child()
        return

    t_start = time.time()
    sf_dir = default_sf_dir()
    sf = sf_dir.rstrip("/").split("sf")[-1]

    # Memo-cold contract (round-13 verdict Next #1): the .sigcache memo
    # store used to survive ACROSS bench runs, so a run that found it
    # warm from a prior invocation recorded ~0 s of index-build cost
    # (r13 sf10: 0.87 s vs the 78.2 s the r12 run paid cold).  Every
    # bench invocation now starts with the store EMPTY: each section's
    # prime_memos() pays the full first-ever build (still outside the
    # per-query timed region -- the steady-state posture is
    # build-once-per-snapshot, probe-from-every-query), its cost lands
    # on that section's memo_build_seconds, and the contract line sums
    # them as memo_cold_total.  Nothing computed from the test data
    # persists across bench runs.
    from real_time_fraud_detection_system_spark.operators._memo import (
        memo_root,
    )

    _root = memo_root()
    if os.path.isdir(_root):
        import shutil

        for entry in os.listdir(_root):
            shutil.rmtree(os.path.join(_root, entry), ignore_errors=True)

    # --- section 1: the sf0.1 gate suite, own JVM. Local-bench scan
    # parallelism: the sf0.1 tables are single ~1-10 MB parquet files,
    # which at the cluster-sane 128 MB default arrive as ONE input split
    # each and serialize every scan onto one core. 1 MB splits spread
    # them; a real cluster keeps the default (its files are
    # file-per-partition and 128 MB-sized to begin with).
    gate = _spawn(
        ["--section", f"sf{sf}", sf_dir, sf, str(1024 * 1024), "2",
         str(t_start + 900)],
        timeout_s=1200,
    )
    timings = (gate or {}).get("queries", {})

    # --- section 2: streaming ingest, own JVM. Timeout 600: the
    # child measures ~30 s solo, but on a host still draining a heavy
    # prior section JVM startup + Python-worker spawn has been
    # observed to blow the old 300 s limit (round-11 close: one
    # recorded eps=0.0 that re-ran at 887k solo minutes later).
    ing = _spawn(["--ingest"], timeout_s=600)
    ingest_eps = (ing or {}).get("ingest_eps", 0.0)

    ran01 = {k: v for k, v in timings.items() if v >= 0}
    result = {}
    # a dead gate/ingest child must be distinguishable from an
    # impossibly-fast suite in the parsed record (scale sections
    # already mark this; mirror it here)
    if gate is None:
        result["gate_error"] = "section subprocess died/timed out"
    if ing is None:
        result["ingest_error"] = "section subprocess died/timed out"
    result.update({
        "metric": "headline_suite_seconds",
        "value": round(sum(ran01.values()), 3),
        "unit": "sec",
        "sf": float(sf),
        "n_queries": len(timings),
        "n_skipped": len(timings) - len(ran01),
        # the contract line carries only the WORST entries per scale
        # (full per-query detail already went out on the scale_section
        # lines): the driver's record keeps the last 2,000 chars of
        # output, so the final line must stay under that -- a full
        # 84-query map alone is ~2.4 KB and cost rounds 3/4/6/7 their
        # parsed bench record
        "queries": dict(sorted(
            ((k, round(v, 2)) for k, v in ran01.items()),
            key=lambda kv: -kv[1])[:15]),
        "queries_shed": max(0, len(ran01) - 15),
        "streaming_ingest_eps": ingest_eps,
    })

    # Scale validation: run the suite over whichever replica datasets
    # exist (built with tools/make_scale_data.py): sf1 = 10x sf0.1,
    # sf10 = 100x. Best-of-2 like the main suite (the shared host's
    # wall-clock noise swamps single passes); split sizes grow with the
    # data -- the 1 MB local knob would shred the larger files into
    # thousands of scheduling-dominated tasks.
    repo = os.path.dirname(os.path.abspath(__file__))
    scale_sections = [
        # (label, dir, sf, split bytes, elapsed budget s, runs/query).
        # The 100x section runs each query ONCE: at 74 headline queries
        # best-of-2 blew past the old 900 s budget on a slow-host day
        # and 22 queries recorded -1; isolated best-of-2 at 100x lives
        # in tools/scale_sweep.py where a kill cannot truncate the
        # contract line.
        ("sf1", os.environ.get("SPARK_GRAFT_SF1_DIR",
                               os.path.join(repo, ".scale/sf1")),
         1.0, 16 * 1024 * 1024, 900, 2),
        ("sf10", os.environ.get("SPARK_GRAFT_SF10_DIR",
                                os.path.join(repo, ".scale/sf10")),
         10.0, 64 * 1024 * 1024, 1800, 1),
    ]
    for label, dir_, sf_val, split, budget_s, runs in scale_sections:
        if not os.path.isdir(dir_):
            continue
        # skip gracefully when earlier sections already burned the wall
        # clock (host-noise storm): a truncated-by-timeout bench line
        # is worse than a bench line that says the scale section was
        # skipped and why
        if time.time() - t_start > budget_s:
            result[f"{label}_skipped"] = (
                f"suite at {round(time.time() - t_start)}s elapsed "
                "(host contention); scale section skipped to stay "
                "inside the harness window"
            )
            continue
        # own JVM per scale section; hard mid-suite deadline inside the
        # child (-1 marks "not run") plus a subprocess timeout backstop
        deadline = t_start + budget_s + 600
        sec = _spawn(
            ["--section", label, dir_, str(sf_val), str(split),
             str(runs), str(deadline)],
            timeout_s=max(60.0, deadline - time.time() + 300),
        )
        if not sec:
            result[f"{label}_error"] = "section subprocess died/timed out"
            continue
        timings_s = sec.get("queries", {})
        ran = {k: v for k, v in timings_s.items() if v >= 0}
        worst5 = dict(sorted(ran.items(), key=lambda kv: -kv[1])[:5])
        result[label] = {
            "value": round(sum(ran.values()), 3),
            "n_queries": len(timings_s),
            "n_skipped": len(timings_s) - len(ran),
            "sf": sf_val,
            # one-time index/memo build, paid BEFORE the measured pass
            # (per-tag detail on the scale_section evidence line)
            "memo_build_s": sec.get("memo_build_seconds", 0.0),
            "worst5": {k: round(v, 2) for k, v in worst5.items()},
        }

    # first-ever-run index economics (r13 verdict Next #1): the store
    # was wiped above, so summing the sections' build seconds IS the
    # cold cost of every derived artifact at every measured scale
    result["memo_cold_total"] = round(
        (gate or {}).get("memo_build_seconds", 0.0)
        + sum(
            result[lbl]["memo_build_s"]
            for lbl, *_ in scale_sections
            if lbl in result and isinstance(result[lbl], dict)
        ),
        3,
    )

    # HARD budget on the contract line: the driver's record keeps
    # exactly the LAST 2,000 CHARACTERS of output and parses what
    # survives (measured across rounds 1-7: every final line <= 2,000
    # chars parsed, every longer one recorded parsed=null). Budget 1,900
    # with the worst-15 sf0.1 map; shed further if a pathological round
    # still overflows.
    line = json.dumps(result)
    while len(line) > 1900 and result["queries"]:
        by_cost = sorted(result["queries"].items(), key=lambda kv: -kv[1])
        result["queries"] = dict(by_cost[:-3])
        result["queries_shed"] = len(ran01) - len(result["queries"])
        line = json.dumps(result)
    print(line, flush=True)


if __name__ == "__main__":
    main()
