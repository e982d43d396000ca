"""Operator smoke tests at sf0.001 (the full value-level correctness gate
is tools/check_correctness.py against DuckDB; these assert invariants)."""

import pytest

from real_time_fraud_detection_system_spark.operators import all_queries


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "daily_metrics",
        "dedup_exact",
        "dedup_minhash_lsh",
        "ann_cosine_topk",
        "text_stats",
        "user_sessions",
        "multimodal_features",
        "q4_order_priority_exists",
        "q12_shipping_delay_classes",
        "q21_sole_late_supplier",
        "q22_dormant_high_balance",
        "dedup_simhash",
        "dedup_simhash16",
        "dedup_clusters_wide",
        "repetition_stats",
        "sequence_packing",
        "contamination_check",
        "vocab_coverage",
        "shard_overlap",
        "stratified_sample",
        "dup_rate_by_source",
        "q2_min_cost_supplier",
        "q11_important_stock",
        "q16_parts_supplier_counts",
        "q20_excess_stock_suppliers",
    ],
)
def test_query_runs_at_smoke_sf(spark, sf_dir, name):
    df = all_queries()[name](spark, sf_dir)
    rows = df.take(5)
    assert df.columns  # stable schema
    assert rows is not None


def test_vocab_coverage_invariants(spark, sf_dir):
    from real_time_fraud_detection_system_spark.operators.corpusops import (
        vocab_coverage,
    )

    rows = vocab_coverage(spark, sf_dir).collect()
    assert rows, "top-k must be non-empty on a non-empty corpus"
    cov = [r["cum_coverage"] for r in rows]
    # cumulative coverage is nondecreasing and bounded by 1
    assert all(a <= b + 1e-9 for a, b in zip(cov, cov[1:]))
    assert cov[-1] <= 1.0 + 1e-9
    # counts sorted descending (rank order)
    cnts = [r["cnt"] for r in rows]
    assert cnts == sorted(cnts, reverse=True)


def test_shard_overlap_invariants(spark, sf_dir):
    from real_time_fraud_detection_system_spark.operators.corpusops import (
        shard_overlap,
    )

    rows = shard_overlap(spark, sf_dir).collect()
    for r in rows:
        assert r["src_a"] < r["src_b"]  # each unordered pair once
        assert 0.0 <= r["jaccard"] <= 1.0
        assert r["n_shared"] >= 1


def test_stratified_sample_rates(spark, sf_dir):
    from real_time_fraud_detection_system_spark.operators.mlqueries import (
        STRATA_RATES,
        stratified_sample,
    )

    rows = {r["event_type"]: r for r in stratified_sample(spark, sf_dir).collect()}
    for et, r in rows.items():
        assert r["n_kept"] <= r["n_total"]
        # rate-1.0 strata keep everything, deterministically
        if STRATA_RATES.get(et) == 1.0:
            assert r["n_kept"] == r["n_total"]
        # realized rate tracks the target within statistical noise
        assert abs(r["realized_rate"] - r["target_rate"]) < 0.2


def test_minhash_lsh_subset_of_exact(spark, sf_dir):
    # LSH can only miss pairs, never invent them
    from real_time_fraud_detection_system_spark.operators.dedup import (
        dedup_minhash_lsh,
        dedup_ngram_jaccard,
    )

    exact = {
        (r["a_id"], r["b_id"]) for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    lsh = {
        (r["a_id"], r["b_id"]) for r in dedup_minhash_lsh(spark, sf_dir).collect()
    }
    assert lsh <= exact
    # and on this corpus banding should catch the vast majority
    assert len(lsh) >= len(exact) * 0.7


def test_ann_lsh_recall_vs_brute_force(spark, sf_dir):
    from real_time_fraud_detection_system_spark.operators.similarity import (
        ann_cosine_topk,
        ann_lsh_bucketed,
    )

    brute = ann_cosine_topk(spark, sf_dir).collect()
    bucketed = {
        (r["q_id"], r["neighbor_id"])
        for r in ann_lsh_bucketed(spark, sf_dir).collect()
    }
    # every bucketed hit must be a real vector pair with sane cosine
    for r in brute:
        assert -1.0 <= r["cosine"] <= 1.0
    assert all(q != n for q, n in bucketed)


def test_heuristic_score_parity_with_scorer(spark, sf_dir):
    # the oracled events-table query and ml.scoring's heuristic must agree
    from real_time_fraud_detection_system_spark.operators.metrics import (
        heuristic_score,
    )

    rows = heuristic_score(spark, sf_dir).collect()
    for r in rows[:200]:
        expected = 1.0 if r["amount"] > 1000 else 0.05
        assert r["proba"] == expected
        assert r["prediction"] == int(expected >= 0.5)


def test_ann_ivf_recall_vs_brute_force(spark, sf_dir):
    from real_time_fraud_detection_system_spark.operators.similarity import (
        TOPK,
        ann_cosine_topk,
        ann_ivf_topk,
    )

    brute = {
        r["q_id"]: set()
        for r in ann_cosine_topk(spark, sf_dir).collect()
    }
    for r in ann_cosine_topk(spark, sf_dir).collect():
        brute[r["q_id"]].add(r["neighbor_id"])
    ivf_rows = ann_ivf_topk(spark, sf_dir).collect()
    ivf = {}
    for r in ivf_rows:
        ivf.setdefault(r["q_id"], set()).add(r["neighbor_id"])
        assert r["rank"] <= TOPK
        assert -1.0 <= r["cosine"] <= 1.0
    # every query answered, no self-matches, and probing finds a
    # non-trivial share of the true top-k on this corpus
    assert set(ivf) == set(brute)
    hits = sum(len(ivf[q] & brute[q]) for q in brute)
    total = sum(len(brute[q]) for q in brute)
    assert hits / total >= 0.2


def test_sequence_packing_invariants(spark, sf_dir):
    """Bins are contiguous per source, start at 0, and every bin except
    possibly the last begins before the budget boundary it fills."""
    from real_time_fraud_detection_system_spark.operators.corpusops import (
        PACK_BUDGET,
        sequence_packing,
    )

    rows = sequence_packing(spark, sf_dir).collect()
    assert rows
    by_source = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    for source, rs in by_source.items():
        bins = [r["bin"] for r in rs]
        assert bins[0] == 0
        assert bins == sorted(bins)
        # total tokens across bins == sum of per-bin tokens (no doc lost)
        assert all(r["n_docs"] >= 1 for r in rs)
        # every non-final bin holds at least a budget's worth of starts
        for r in rs[:-1]:
            assert r["bin_tokens"] > 0


def test_contamination_excludes_eval_docs(spark, sf_dir):
    from real_time_fraud_detection_system_spark.operators.corpusops import (
        EVAL_DOCS,
        contamination_check,
    )
    from real_time_fraud_detection_system_spark.catalog import load_table

    out = contamination_check(spark, sf_dir)
    total = sum(r["n_docs"] for r in out.collect())
    n_train = load_table(spark, sf_dir, "documents").filter(
        f"doc_id >= {EVAL_DOCS}"
    ).count()
    assert total == n_train
    for r in out.collect():
        assert 0.0 <= r["contamination_share"] <= 1.0
        assert r["n_contaminated"] <= r["n_docs"]


def test_repetition_stats_bounds(spark, sf_dir):
    from real_time_fraud_detection_system_spark.operators.corpusops import (
        repetition_stats,
    )

    for r in repetition_stats(spark, sf_dir).take(200):
        assert 0.0 <= r["rep_bigram_share"] <= 1.0
        assert 0.0 < r["top_token_share"] <= 1.0


def test_repetition_stats_kernel_matches_jvm_aggregate_form(spark, sf_dir):
    """The round-13 Arrow kernel must reproduce the retired explode +
    hash-aggregate form EXACTLY, row for row -- same integer counts in,
    same share arithmetic out (the kernel returns only exact int64
    counts; the division/round expressions are shared verbatim)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from real_time_fraud_detection_system_spark.catalog import (
        load_table,
        spread,
    )
    from real_time_fraud_detection_system_spark.operators.corpusops import (
        _TOKS,
        repetition_stats,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    wl = Window.partitionBy("doc_id").orderBy("i")
    bigrams = (
        docs.selectExpr("doc_id", f"posexplode({_TOKS}) AS (i, t)")
        .select(
            "doc_id",
            F.concat_ws(" ", "t", F.lead("t").over(wl)).alias("bg"),
            F.lead("t").over(wl).alias("t2"),
        )
        .filter(F.col("t2").isNotNull())
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bi"), F.countDistinct("bg").alias("n_bi_d"))
    )
    tok_stats = (
        docs.selectExpr("doc_id", f"explode({_TOKS}) AS t")
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("max_cnt"), F.sum("cnt").alias("n_tokens"))
    )
    old = (
        tok_stats.join(bigrams, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.when(
                    F.col("n_bi") > 0,
                    F.lit(1.0) - F.col("n_bi_d") / F.col("n_bi"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("rep_bigram_share"),
            F.round(F.col("max_cnt") / F.col("n_tokens"), 6).alias(
                "top_token_share"
            ),
        )
        .orderBy("doc_id")
        .collect()
    )
    new = repetition_stats(spark, sf_dir).collect()
    assert new == old


def test_bigram_lm_kernels_match_jvm_bigram_form(spark, sf_dir):
    """The round-13 bigram count kernels must reproduce the retired
    posexplode + window-lead bigram subtree EXACTLY: the batch kernel's
    (bg, w1) totals equal the per-instance census, and the per-doc
    kernel's multiplicities sum back to the instance counts -- so the
    downstream model/scoring sums are integer-identical."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from real_time_fraud_detection_system_spark.catalog import (
        load_table,
        spread,
    )
    from real_time_fraud_detection_system_spark.operators.corpusops import (
        _TOKS,
        _bigram_batch_counts,
        _bigram_doc_counts,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    w = Window.partitionBy("doc_id").orderBy("i")
    bg = (
        docs.selectExpr("doc_id", f"posexplode({_TOKS}) AS (i, t)")
        .select(
            "doc_id",
            F.col("t").alias("w1"),
            F.lead("t").over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .select("doc_id", "w1", F.concat_ws(" ", "w1", "w2").alias("bg"))
    )
    want_census = {
        r["bg"]: r["cb"]
        for r in bg.groupBy("bg").agg(F.count("*").alias("cb")).collect()
    }
    got_census = {
        r["bg"]: r["cb"]
        for r in docs.select("text")
        .mapInPandas(_bigram_batch_counts, "bg string, k long")
        .groupBy("bg")
        .agg(F.sum("k").alias("cb"))
        .collect()
    }
    assert got_census == want_census
    # the JVM-side prefix recovery the round-14 form relies on:
    # substring_index(bg, ' ', 1) reproduces the retired w1 column for
    # every observed bigram (tokens are space-free by construction)
    w1_mismatch = (
        bg.selectExpr("bg", "w1", "substring_index(bg, ' ', 1) AS w1d")
        .filter("w1 != w1d")
        .count()
    )
    assert w1_mismatch == 0
    import collections

    want_doc = {
        (r["doc_id"], r["bg"]): r["k"]
        for r in bg.groupBy("doc_id", "bg").agg(F.count("*").alias("k")).collect()
    }
    got_doc: dict = collections.defaultdict(int)
    for r in (
        docs.select("doc_id", "text")
        .mapInPandas(_bigram_doc_counts, "doc_id long, bg string, k long")
        .collect()
    ):
        got_doc[(r["doc_id"], r["bg"])] += r["k"]
    assert dict(got_doc) == want_doc


def test_predictions_profile_invariants(spark, sf_dir):
    from real_time_fraud_detection_system_spark.catalog import load_table
    from real_time_fraud_detection_system_spark.operators.metrics import (
        PROFILE_COLS,
        predictions_profile,
    )

    rows = {r["col_name"]: r for r in predictions_profile(spark, sf_dir).collect()}
    assert set(rows) == {c for c, _ in PROFILE_COLS}
    n = load_table(spark, sf_dir, "events").count()
    for r in rows.values():
        assert r["n_rows"] == n
        assert 0 <= r["n_nulls"] <= n
        assert r["n_distinct"] <= n - r["n_nulls"]
    # string columns profile min/max as NULL; numeric/epoch columns don't
    for c, kind in PROFILE_COLS:
        if kind is None:
            assert rows[c]["min_value"] is None and rows[c]["max_value"] is None
        elif rows[c]["n_nulls"] < n:
            assert rows[c]["min_value"] <= rows[c]["max_value"]


def test_event_gap_buckets_invariants(spark, sf_dir):
    from real_time_fraud_detection_system_spark.catalog import load_table
    from real_time_fraud_detection_system_spark.operators.temporal import (
        GAP_EDGES_US,
        GAP_LAST,
        event_gap_buckets,
    )

    rows = event_gap_buckets(spark, sf_dir).collect()
    labels = {lbl for _, lbl in GAP_EDGES_US} | {GAP_LAST}
    assert {r["gap_bucket"] for r in rows} <= labels
    # each user's k events contribute exactly k-1 gaps
    ev = load_table(spark, sf_dir, "events")
    expected = ev.count() - ev.select("user_id").distinct().count()
    assert sum(r["n_gaps"] for r in rows) == expected
    for r in rows:
        assert 0 <= r["min_gap_s"] <= r["max_gap_s"]
        # bucket edges respected (whole-second resolution)
        if r["gap_bucket"] == GAP_EDGES_US[0][1]:
            assert r["max_gap_s"] < 60
        if r["gap_bucket"] == GAP_LAST:
            assert r["min_gap_s"] >= 3600


def test_shuffle_balance_profile_partitions_the_table(spark, sf_dir):
    from real_time_fraud_detection_system_spark.catalog import load_table
    from real_time_fraud_detection_system_spark.operators.skew import (
        N_PROFILE_BUCKETS,
        shuffle_balance_profile,
    )

    rows = shuffle_balance_profile(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    # buckets partition rows AND keys: totals must reconcile exactly.
    # NULL user_ids land in a NULL bucket whose countDistinct is 0, so
    # key reconciliation and the >=1 floor apply to non-NULL buckets
    # only (distinct() would count NULL as one extra key).
    assert sum(r["n_rows"] for r in rows) == ev.count()
    assert sum(
        r["n_keys"] for r in rows if r["bucket_id"] is not None
    ) == (
        ev.filter(ev.user_id.isNotNull())
        .select("user_id")
        .distinct()
        .count()
    )
    for r in rows:
        if r["bucket_id"] is not None:  # null user_ids bucket as NULL
            assert 0 <= r["bucket_id"] < N_PROFILE_BUCKETS
            assert r["n_keys"] >= 1


def test_customer_blocking_er_invariants(spark, sf_dir):
    from real_time_fraud_detection_system_spark.operators.dedup import (
        ER_MAX_DIST,
        customer_blocking_er,
    )

    rows = customer_blocking_er(spark, sf_dir).collect()
    assert rows, "sequential synthetic names must yield close pairs"
    seen = set()
    for r in rows:
        assert r["custkey_a"] != r["custkey_b"]
        # identical names collapse in stage 1, so near pairs are strict
        assert 1 <= r["name_dist"] <= ER_MAX_DIST
        assert r["n_records_a"] >= 1 and r["n_records_b"] >= 1
        pair = tuple(sorted((r["custkey_a"], r["custkey_b"])))
        assert pair not in seen  # each identity pair exactly once
        seen.add(pair)


def test_sem_signature_kernel_matches_sql_fold(spark, sf_dir):
    """The numpy signature kernel claims BIT-EXACT parity with the SQL
    aggregate() fold (that claim is what keeps the DuckDB oracle on
    plain SQL). Evaluate both over the real embeddings and demand zero
    differing rows."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_spark.operators.similarity import (
        SEM_TABLES,
        _vectors,
        lsh_signature_expr,
        sem_signatures_udf,
    )

    planes = 9  # odd width, exercises multi-table offsets
    vecs = _vectors(spark, sf_dir)
    sql_sigs = F.array(
        *[
            F.expr(
                lsh_signature_expr("emb", planes=planes, plane_offset=t * planes)
            ).cast("bigint")
            for t in range(SEM_TABLES)
        ]
    )
    both = vecs.select(
        sql_sigs.alias("a"),
        sem_signatures_udf(planes)(F.col("emb")).alias("b"),
    )
    assert both.filter("a != b").count() == 0


def test_semantic_dedup_collapses_scalar_multiples(spark, tmp_path, monkeypatch):
    """Direction collapse: a vector and its positive scalar multiple
    must land in one cluster (cosine exactly 1) while an orthogonal
    vector stays apart; cluster_id is the min member vec_id."""
    import real_time_fraud_detection_system_spark.operators.similarity as sim

    rows = [
        (10, [1.0, 2.0, 2.0]),
        (11, [2.0, 4.0, 4.0]),   # 2x row 10: same direction
        (12, [-2.0, 2.0, -1.0]), # orthogonal to row 10
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    real_load = sim.load_table
    monkeypatch.setattr(
        sim,
        "load_table",
        lambda s, d, n, _r=real_load: df if n == "embeddings" else _r(s, d, n),
    )
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in sim.semantic_dedup_clusters(spark, str(tmp_path)).collect()
    }
    assert got == {10: 10, 11: 10, 12: 12}


def test_semantic_dedup_unpersists_sql_caches(spark, sf_dir):
    """The two .cache()s (tagged directions, bucketed signatures) must
    be unpersisted once the labels materialize -- only localCheckpoint
    RDD blocks (graph.py's lineage truncation) may outlive the call."""
    from real_time_fraud_detection_system_spark.operators.similarity import (
        semantic_dedup_clusters,
    )

    spark.catalog.clearCache()
    df = semantic_dedup_clusters(spark, sf_dir)
    assert df.count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_decayed_user_value_bounds(spark, sf_dir):
    """Decay can only shrink: 0 < decayed_value <= total_value, with
    equality iff every event is inside the first half-life bucket."""
    from real_time_fraud_detection_system_spark.operators.temporal import (
        decayed_user_value,
    )

    rows = decayed_user_value(spark, sf_dir).collect()
    assert rows
    assert any(r["decayed_value"] < r["total_value"] for r in rows)
    for r in rows:
        assert 0 < r["decayed_value"] <= r["total_value"] + 1e-9
        assert r["n_events"] >= 1


def test_pii_scrub_redacts_and_matches_duckdb(spark):
    """The corpus oracle only exercises the zero-PII case, so this
    drives pii_scrub over injected emails/urls/long numbers AND runs
    the DuckDB oracle SQL on the same rows: redaction counts, digests,
    and changed flags must agree engine-for-engine."""
    import duckdb
    import pandas as pd

    from real_time_fraud_detection_system_spark.operators.textops import (
        PII_SCRUB_STATS_SQL,
        pii_scrub,
    )

    rows = [
        (1, "contact john.doe+x@exa-mple.co.uk for info"),
        (2, "see https://ex.com/a?b=1 and http://t.co now"),
        (3, "acct 12345678 ok 123 and 999999"),
        (4, "clean text no pii"),
        (5, "mix a@b.io https://x.y 1234567 a@b.io"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert got[1]["n_emails"] == 1 and got[1]["changed"]
    assert got[2]["n_urls"] == 2 and got[2]["changed"]
    assert got[3]["n_numbers"] == 2  # 123 is below the 6-digit floor
    assert not got[4]["changed"]
    assert got[5]["n_emails"] == 2 and got[5]["n_urls"] == 1

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    for doc_id, n_e, n_u, n_n, h, ch in con.execute(
        PII_SCRUB_STATS_SQL
    ).fetchall():
        r = got[doc_id]
        assert (r["n_emails"], r["n_urls"], r["n_numbers"]) == (n_e, n_u, n_n)
        assert r["clean_hash"] == h and r["changed"] == ch


def test_bigram_lm_score_hand_computed(spark):
    """Tiny corpus whose bigram MLE is computable by hand: fixed-point
    per-bigram log-probs, integer-summed, must reproduce the exact
    values (and stay <= 0: MLE probabilities never exceed 1)."""
    import math

    import real_time_fraud_detection_system_spark.operators.corpusops as co

    rows = [(1, "a b a c", "en", "s0"), (2, "a b", "en", "s0")]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    real = co.load_table
    co.load_table = lambda s, d, n: df if n == "documents" else real(s, d, n)
    try:
        got = {
            r["doc_id"]: r
            for r in co.bigram_lm_score(spark, "unused").collect()
        }
    finally:
        co.load_table = real

    # corpus: C(a b)=2, C(b a)=1, C(a c)=1; prefix counts a=3, b=1
    lp = lambda x: int(round(math.log(x) * 1_000_000))  # noqa: E731
    want1 = (lp(2 / 3) + lp(1 / 1) + lp(1 / 3)) / 3 / 1_000_000
    want2 = lp(2 / 3) / 1_000_000
    assert got[1]["n_bigrams"] == 3 and got[2]["n_bigrams"] == 1
    assert got[1]["avg_logprob"] == want1
    assert got[2]["avg_logprob"] == want2
    assert all(r["avg_logprob"] <= 0 for r in got.values())


def test_ann_recall_eval_matches_set_arithmetic(spark, sf_dir):
    """The registered recall query must equal recall computed from the
    two top-k results directly, with recall_ppm the integer-rounded
    ratio and every count bounded by TOPK."""
    from real_time_fraud_detection_system_spark.operators.similarity import (
        TOPK,
        ann_cosine_topk,
        ann_ivf_topk,
        ann_recall_eval,
    )

    brute, ivf = {}, {}
    for r in ann_cosine_topk(spark, sf_dir).collect():
        brute.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    for r in ann_ivf_topk(spark, sf_dir).collect():
        ivf.setdefault(r["q_id"], set()).add(r["neighbor_id"])

    rows = {r["q_id"]: r for r in ann_recall_eval(spark, sf_dir).collect()}
    assert set(rows) == set(brute)
    for q, r in rows.items():
        want_hits = len(brute[q] & ivf.get(q, set()))
        assert r["n_exact"] == len(brute[q]) <= TOPK
        assert r["n_hits"] == want_hits
        assert r["recall_ppm"] == round(want_hits * 1_000_000 / r["n_exact"])
        assert 0 <= r["recall_ppm"] <= 1_000_000


def test_crossdoc_ngram_share_invariants(spark, sf_dir):
    """Shares live in [0, 1e6] ppm, high-dup docs are a subset of the
    source's docs, and per-source doc counts reconcile with the number
    of docs that produce at least one shingle."""
    from real_time_fraud_detection_system_spark.operators.corpusops import (
        _TOKS,
        crossdoc_ngram_share,
    )
    from real_time_fraud_detection_system_spark.catalog import load_table
    from real_time_fraud_detection_system_spark.functions.text import (
        SHINGLE_N,
    )

    rows = crossdoc_ngram_share(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["dup_share_ppm"] <= 1_000_000
        assert 0 <= r["high_dup_docs"] <= r["n_docs"]

    with_shingles = (
        load_table(spark, sf_dir, "documents")
        .selectExpr(f"size({_TOKS}) >= {SHINGLE_N} AS ok")
        .filter("ok")
        .count()
    )
    assert sum(r["n_docs"] for r in rows) == with_shingles

    # the replica corpus recycles text between docs, so duplication
    # must actually register somewhere
    assert any(r["dup_share_ppm"] > 0 for r in rows)


def test_anomaly_partition_kernel_matches_grouped_map(spark, sf_dir):
    """user_value_anomalies' partition-wise mapInPandas kernel must
    equal the per-group applyInPandas reference form row-for-row."""
    from real_time_fraud_detection_system_spark.catalog import load_table
    from real_time_fraud_detection_system_spark.operators.anomaly import (
        ANOMALY_SCHEMA,
        _score_group,
        user_value_anomalies,
    )

    got = user_value_anomalies(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    )
    ref = ev.groupBy("user_id").applyInPandas(_score_group, ANOMALY_SCHEMA)
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_ivf_cell_stats_reconciles(spark, sf_dir):
    """Occupancy histogram must reconcile exactly: vectors across
    buckets sum to the corpus, cells (incl. the -1 empty bucket) sum
    to the centroid count, and the empty bucket carries no vectors."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_spark.catalog import load_table
    from real_time_fraud_detection_system_spark.operators.similarity import (
        _SPARK_ID_HASH,
        _vectors,
        centroid_modulus,
        ivf_cell_stats,
    )

    rows = ivf_cell_stats(spark, sf_dir).collect()
    assert rows
    n = load_table(spark, sf_dir, "embeddings").count()
    k = (
        _vectors(spark, sf_dir)
        .filter(
            F.expr(_SPARK_ID_HASH.format(id="vec_id"))
            % centroid_modulus(n)
            == 0
        )
        .count()
    )
    assert sum(r["n_vectors"] for r in rows) == n
    assert sum(r["n_cells"] for r in rows) == k
    for r in rows:
        assert r["n_cells"] > 0
        if r["occupancy_bucket"] == -1:
            assert r["n_vectors"] == 0
        else:
            # bucket b holds cells with 2^b <= members < 2^(b+1)
            assert r["occupancy_bucket"] >= 0
            assert (
                r["n_cells"] * (1 << r["occupancy_bucket"])
                <= r["n_vectors"]
                < r["n_cells"] * (1 << (r["occupancy_bucket"] + 1))
            )


def test_crossdoc_ngram_share_matches_hand_reference(spark, monkeypatch):
    """Fixed tiny corpus with known shingle overlaps: shares and
    majority-dup counts must equal the hand-computed values (micro-
    averaged over (doc, shingle) occurrences, integer-ppm)."""
    import real_time_fraud_detection_system_spark.operators.corpusops as co

    rows = [
        (1, "a b c d", "en", "srcA", 7),
        (2, "a b c x", "en", "srcA", 7),
        (3, "z z z", "en", "srcB", 5),
        (4, "p q", "en", "srcB", 3),  # < SHINGLE_N tokens: excluded
        (5, "z z z q", "en", "srcB", 7),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(
        co, "load_table", lambda s, d, n: df if n == "documents" else None
    )
    # the shingle sets now come from the dedup signature index (memo
    # skipped: "unused" is unstattable), which loads via dedup's module
    import real_time_fraud_detection_system_spark.operators.dedup as dd

    monkeypatch.setattr(
        dd, "load_table", lambda s, d, n: df if n == "documents" else None
    )
    got = {
        r["source"]: r
        for r in co.crossdoc_ngram_share(spark, "unused").collect()
    }
    # srcA: d1 {abc,bcd}, d2 {abc,bcx}; "a b c" shared -> 2 dup of 4
    assert got["srcA"]["n_docs"] == 2
    assert got["srcA"]["dup_share_ppm"] == 500000
    assert got["srcA"]["high_dup_docs"] == 0
    # srcB: d3 {zzz}, d5 {zzz,zzq}; "z z z" shared -> 2 dup of 3;
    # d3 is majority-duplicated (its only shingle is shared)
    assert got["srcB"]["n_docs"] == 2
    assert got["srcB"]["dup_share_ppm"] == round(2 / 3 * 1_000_000)
    assert got["srcB"]["high_dup_docs"] == 1


def test_dedup_containment_catches_swallowed_doc(spark, monkeypatch):
    """A short doc quoted wholesale inside a long one must pass the
    containment gate with containment 1.0 even though Jaccard is far
    below the symmetric threshold."""
    import real_time_fraud_detection_system_spark.operators.dedup as dd

    short = "alpha beta gamma delta"
    filler = " ".join(f"w{i}" for i in range(40))
    rows = [
        (1, short, "en", "srcA", len(short)),
        (2, f"{filler} {short}", "en", "srcA", 7),
        (3, "unrelated text entirely different words here", "en", "srcB", 7),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(
        dd, "load_table", lambda s, d, n: df if n == "documents" else None
    )
    got = {(r["a_id"], r["b_id"]): r for r in dd.dedup_containment(spark, "unused").collect()}
    assert (1, 2) in got
    assert got[(1, 2)]["containment"] == 1.0
    assert got[(1, 2)]["jaccard"] < dd.JACCARD_THRESHOLD
    assert not any(3 in k for k in got)


def test_doc_chunks_tile_documents(spark, sf_dir):
    """Chunks must tile every document under the stride rule: count =
    ceil(n/stride), starts advance by exactly the stride, and each
    chunk's token count is the window clipped at the doc end."""
    import math
    from collections import defaultdict

    import real_time_fraud_detection_system_spark.operators.corpusops as co
    from real_time_fraud_detection_system_spark.catalog import load_table

    per = defaultdict(list)
    for r in co.doc_chunks(spark, sf_dir).collect():
        per[r["doc_id"]].append(r)
    sizes = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .selectExpr("doc_id", f"size({co._TOKS}) AS n")
        .collect()
    }
    assert set(per) == set(sizes)
    for d, chunks in per.items():
        n = sizes[d]
        chunks.sort(key=lambda r: r["chunk_id"])
        assert len(chunks) == math.ceil(n / co.CHUNK_STRIDE)
        for i, r in enumerate(chunks):
            assert r["chunk_id"] == i
            assert r["start_token"] == i * co.CHUNK_STRIDE + 1
            assert r["chunk_tokens"] == min(
                co.CHUNK_TOKENS, n - i * co.CHUNK_STRIDE
            )
            assert len(r["chunk_md5"]) == 32


def test_persisted_ann_index_matches_fresh_ivf(spark, sf_dir):
    """Searching the persisted bucketed IVF index must equal running
    ann_ivf_topk fresh, and the candidate join must add no
    member-side exchange (the members table scans bucketed)."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_spark.catalog import load_table
    from real_time_fraud_detection_system_spark.operators.similarity import (
        ann_ivf_topk,
        ann_search,
        persist_ann_index,
    )

    try:
        cents, members = persist_ann_index(spark, sf_dir, prefix="t_ann_idx")
        queries = (
            load_table(spark, sf_dir, "embeddings")
            .filter("vec_id < 5")
            .selectExpr("vec_id", "embedding AS emb")
        )
        got = [tuple(r) for r in ann_search(cents, members, queries).collect()]
        want = [tuple(r) for r in ann_ivf_topk(spark, sf_dir).collect()]
        assert got == want
        assert want  # non-vacuous

        probe = spark.createDataFrame([(1,)], "c_id bigint").join(
            members.hint("merge"), "c_id"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            probe.explain("formatted")
        assert "Bucketed: true" in buf.getvalue()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ann_idx_cents")
        spark.sql("DROP TABLE IF EXISTS t_ann_idx_members")


def test_ann_index_sink_grows_index_and_ignores_replays(spark, sf_dir, tmp_path):
    """Stream two micro-batches of embeddings into a persisted ANN
    index seeded from a partial corpus: after the stream drains,
    searching the grown index equals ann_ivf_topk... only where cell
    CONTENTS agree -- centroids stay fixed at the seed corpus's
    sample, so instead assert structural properties: every vector is
    indexed exactly once, search still returns full top-k for every
    query, and a manual replay of a processed batch adds nothing."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_spark.catalog import load_table
    from real_time_fraud_detection_system_spark.operators.similarity import (
        TOPK,
        ann_search,
        persist_ann_index,
    )
    from real_time_fraud_detection_system_spark.streaming.jobs import (
        ann_index_sink_writer,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    try:
        # seed the index from the even vec_ids only
        import real_time_fraud_detection_system_spark.operators.similarity as sim

        seed = emb.filter(F.pmod("vec_id", F.lit(2)) == 0)
        real = sim.load_table
        sim.load_table = lambda s, d, n: seed if n == "embeddings" else real(s, d, n)
        try:
            cents, members = persist_ann_index(spark, "unused", prefix="t_grow")
        finally:
            sim.load_table = real

        n_seed = spark.table("t_grow_members").count()
        # stream the odd vec_ids in as two files
        odd = emb.filter(F.pmod("vec_id", F.lit(2)) == 1)
        src = tmp_path / "src"
        odd.filter("vec_id % 4 = 1").coalesce(1).write.parquet(str(src / "b0"))
        odd.filter("vec_id % 4 = 3").coalesce(1).write.parquet(str(src / "b1"))
        stream = (
            spark.readStream.schema(odd.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
        )
        q = (
            stream.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .foreachBatch(ann_index_sink_writer("t_grow_cents", "t_grow_members"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

        # this session read the table pre-stream: refresh its cached
        # file listing to see the out-of-band appends (documented in
        # ann_index_sink_writer)
        spark.catalog.refreshTable("t_grow_members")
        grown = spark.table("t_grow_members")
        assert grown.count() == emb.count()  # every vector indexed...
        assert grown.select("m_id").distinct().count() == emb.count()  # ...once

        queries = emb.filter("vec_id < 5").selectExpr("vec_id", "embedding AS emb")
        res = ann_search(spark.table("t_grow_cents"), grown, queries).collect()
        assert {r["q_id"] for r in res} == {0, 1, 2, 3, 4}
        assert all(
            sum(1 for r in res if r["q_id"] == q_) == TOPK for q_ in range(5)
        )

        # manual replay of an already-appended batch: a no-op
        writer = ann_index_sink_writer("t_grow_cents", "t_grow_members")
        writer(odd.filter("vec_id % 4 = 1"), 999)
        assert spark.table("t_grow_members").count() == emb.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_grow_cents")
        spark.sql("DROP TABLE IF EXISTS t_grow_members")


def test_supplier_pagerank_invariants(spark, sf_dir):
    """Top-k shape invariants: exactly PR_TOPK ranked rows, strictly
    sequential ranks, non-increasing positive scores, valid node
    types, and determinism across runs (the integer fixed-point
    guarantee)."""
    from real_time_fraud_detection_system_spark.operators.tpch_extra import (
        PR_TOPK,
        supplier_pagerank,
    )

    rows = supplier_pagerank(spark, sf_dir).collect()
    assert len(rows) == PR_TOPK
    assert [r["rank"] for r in rows] == list(range(1, PR_TOPK + 1))
    scores = [r["score_ppb"] for r in rows]
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)
    assert {r["node_type"] for r in rows} <= {"customer", "supplier"}
    again = supplier_pagerank(spark, sf_dir).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_supplier_pagerank_smj_fallback_matches_broadcast(
    spark, sf_dir, monkeypatch
):
    """The round-14 per-iteration broadcast dispatch (PR_BCAST_MAX_NODES)
    must be output-invariant: the sort-merge fallback branch (node count
    above the bound) computes the exact same integer fixpoint as the
    broadcast branch the small fixtures normally take."""
    from real_time_fraud_detection_system_spark.operators import tpch_extra

    bcast_rows = [
        tuple(r) for r in tpch_extra.supplier_pagerank(spark, sf_dir).collect()
    ]
    monkeypatch.setattr(tpch_extra, "PR_BCAST_MAX_NODES", 0)
    smj_rows = [
        tuple(r) for r in tpch_extra.supplier_pagerank(spark, sf_dir).collect()
    ]
    assert smj_rows == bcast_rows


def test_token_concentration_invariants(spark, sf_dir):
    """The binned Lorenz report must reconcile exactly with the corpus:
    bins partition all docs, cumulative columns are running sums from
    the largest bin down, the final row covers the whole corpus
    (1,000,000 ppm up to integer-floor), and every bin id matches
    floor(log2(n_chars)) recomputed in python."""
    import math

    from real_time_fraud_detection_system_spark.catalog import load_table
    from real_time_fraud_detection_system_spark.operators.corpusops import (
        token_concentration_bins,
    )

    rows = token_concentration_bins(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").select("n_chars").collect()
    by_bin: dict[int, list[int]] = {}
    for r in docs:
        by_bin.setdefault(int(math.log2(r["n_chars"])), []).append(r["n_chars"])

    assert {r["chars_bin"] for r in rows} == set(by_bin)
    assert sum(r["n_docs"] for r in rows) == len(docs)
    cum_d = cum_c = 0
    total_c = sum(sum(v) for v in by_bin.values())
    prev_ppm = -1
    for r in rows:  # ordered largest bin first
        assert r["n_docs"] == len(by_bin[r["chars_bin"]])
        assert r["bin_chars"] == sum(by_bin[r["chars_bin"]])
        cum_d += r["n_docs"]
        cum_c += r["bin_chars"]
        assert (r["cum_docs"], r["cum_chars"]) == (cum_d, cum_c)
        assert r["char_share_ppm"] == cum_c * 1_000_000 // total_c
        assert r["char_share_ppm"] >= prev_ppm
        prev_ppm = r["char_share_ppm"]
    assert rows[-1]["char_share_ppm"] == 1_000_000
    assert rows[-1]["doc_share_ppm"] == 1_000_000


def test_cluster_safe_split_kills_leakage(spark, sf_dir):
    """The property the operator exists for: under cluster-keyed
    assignment every verified near-dup pair lands in ONE split (the
    doc-keyed assignment leaks by construction whenever a pair's md5
    fractions straddle a boundary), and the census reconciles with the
    corpus."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_spark.catalog import load_table
    from real_time_fraud_detection_system_spark.operators.dedup import (
        _doc_split_spark,
        cluster_safe_split,
        dedup_minhash_clusters,
        dedup_minhash_lsh,
    )

    census = cluster_safe_split(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in census) == n_docs
    assert {r["split"] for r in census} <= {"train", "val", "test"}
    assert all(0 <= r["moved_docs"] <= r["n_docs"] for r in census)
    assert all(r["n_clusters"] <= r["n_docs"] for r in census)

    labels = dedup_minhash_clusters(spark, sf_dir).withColumn(
        "split", F.expr(_doc_split_spark("cluster_id"))
    )
    pairs = dedup_minhash_lsh(spark, sf_dir)
    leaked = (
        pairs.join(
            labels.select(F.col("doc_id").alias("a_id"), F.col("split").alias("sa")),
            "a_id",
        )
        .join(
            labels.select(F.col("doc_id").alias("b_id"), F.col("split").alias("sb")),
            "b_id",
        )
        .filter(F.col("sa") != F.col("sb"))
        .count()
    )
    assert leaked == 0


def test_minhash_lsh_recall_buckets_and_exactness(spark, monkeypatch):
    """Engineered corpus: an exact-dup pair (bucket 10, always caught --
    identical signatures collide in every band) plus a mid-Jaccard pair
    pinned to a known bucket by integer shingle arithmetic, plus a
    disjoint doc contributing nothing."""
    import real_time_fraud_detection_system_spark.operators.dedup as dd

    a_toks = [f"a{i}" for i in range(20)]
    b_toks = a_toks[:12] + [f"b{i}" for i in range(8)]
    texts = {
        1: " ".join(a_toks),
        2: " ".join(b_toks),
        3: " ".join(a_toks),  # exact dup of 1
        4: "zz yy xx ww vv uu tt ss",
    }
    rows = [(i, t, "en", "src", len(t)) for i, t in texts.items()]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(
        dd, "load_table", lambda s, d, n: df if n == "documents" else None
    )
    out = {r["j_bucket"]: r for r in dd.minhash_lsh_recall(spark, "unused").collect()}

    # A/B share shingles over the common 12-token prefix: 10 of each
    # doc's 18 tri-shingles -> jaccard 10/26 -> bucket (100 DIV 26) = 3.
    # Both (1,2) and (2,3) land there (3 is a copy of 1).
    assert out[3]["n_true"] == 2
    assert 0 <= out[3]["n_caught"] <= 2
    # the exact-dup pair (1,3): identical signatures, every band collides
    assert out[10]["n_true"] == 1
    assert out[10]["n_caught"] == 1
    assert out[10]["recall_ppm"] == 1_000_000
    for r in out.values():
        assert r["recall_ppm"] == r["n_caught"] * 1_000_000 // r["n_true"]
        assert r["n_caught"] <= r["n_true"]
    assert not any(b for b in out if b < 3)  # truth floor respected


def test_containment_recall_measures_the_df_cap_loss(spark, monkeypatch):
    """Engineered corpus with a KNOWN structurally-missed pair: docs 2
    and 12 are identical boilerplate whose every shingle also appears
    in 8 more (unsampled) docs, so df=10 > CONTAINMENT_MAX_DF=8 and the
    rare-shingle candidacy is blind to the pair; docs 7/8 are a fully
    contained pair on df=2 shingles (caught, bucket 10); docs 43/44 a
    partial-containment pair at 7/8 (caught, bucket 8). doc ids are
    chosen so every relevant doc passes the md5 %% 4 sample gate (2, 7,
    8, 12, 43, 44 sampled; boilerplate fillers 1,3,4,5,6,9,10,11 not)."""
    import real_time_fraud_detection_system_spark.operators.dedup as dd

    boiler = " ".join(f"b{i}" for i in range(12))
    r_toks = [f"r{i}" for i in range(12)]
    c_toks = [f"c{i}" for i in range(10)]
    texts = {
        2: boiler,
        12: boiler,
        # 8 unsampled copies push every boilerplate shingle past the cap
        **{i: boiler for i in (1, 3, 4, 5, 6, 9, 10, 11)},
        7: " ".join(r_toks),
        8: " ".join(r_toks + [f"x{i}" for i in range(8)]),
        43: " ".join(c_toks),
        44: " ".join(c_toks[:9] + ["d0", "d1", "d2"]),
        13: "zz yy xx ww vv uu tt ss",  # sampled, disjoint: contributes 0
    }
    rows = [(i, t, "en", "src", len(t)) for i, t in texts.items()]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(
        dd, "load_table", lambda s, d, n: df if n == "documents" else None
    )
    out = {r["c_bucket"]: r for r in dd.containment_recall(spark, "unused").collect()}

    # bucket 10: the caught exact-containment pair (7,8) + the
    # boilerplate pair (2,12) the df cap structurally misses
    assert out[10]["n_true"] == 2
    assert out[10]["n_caught"] == 1
    assert out[10]["recall_ppm"] == 500_000
    # bucket 8: 43/44 share 7 of min(8,10) shingles -> (70 DIV 8) = 8
    assert out[8]["n_true"] == 1 and out[8]["n_caught"] == 1
    for r in out.values():
        assert r["recall_ppm"] == r["n_caught"] * 1_000_000 // r["n_true"]
        assert r["n_caught"] <= r["n_true"]
    assert not any(b for b in out if b < 8)  # gate respected


def test_write_zordered_prunes_real_footers(spark, tmp_path):
    """write_zordered must produce parquet files whose REAL footer
    min/max stats prune a 2-D predicate better than a time-sorted
    layout: count files whose user_id range overlaps a narrow user band
    in each layout via pyarrow, and require the z-ordered layout to
    skip strictly more."""
    import pyarrow.parquet as pq

    from real_time_fraud_detection_system_spark.catalog import load_table
    from real_time_fraud_detection_system_spark.operators.layout import (
        write_zordered,
    )

    ev = load_table(spark, "/root/testdata/sf0.01", "events").withColumn(
        "t_us", __import__("pyspark").sql.functions.expr("unix_micros(ts)")
    )
    zdir, tdir = str(tmp_path / "z"), str(tmp_path / "t")
    write_zordered(ev, zdir, "user_id", "t_us", n_files=16)
    (
        ev.repartitionByRange(16, "t_us")
        .sortWithinPartitions("t_us")
        .write.mode("overwrite")
        .parquet(tdir)
    )

    def overlapping(d, lo, hi):
        import pathlib

        total = scanned = 0
        for f in pathlib.Path(d).glob("*.parquet"):
            md = pq.ParquetFile(f).metadata
            fmin = min(
                md.row_group(i).column(
                    next(
                        j
                        for j in range(md.num_columns)
                        if md.schema.column(j).name == "user_id"
                    )
                ).statistics.min
                for i in range(md.num_row_groups)
            )
            fmax = max(
                md.row_group(i).column(
                    next(
                        j
                        for j in range(md.num_columns)
                        if md.schema.column(j).name == "user_id"
                    )
                ).statistics.max
                for i in range(md.num_row_groups)
            )
            total += 1
            if fmin <= hi and fmax >= lo:
                scanned += 1
        return total, scanned

    # narrow user band: ids 70-79 of 0-149
    zt, zs = overlapping(zdir, 70, 79)
    tt, ts_ = overlapping(tdir, 70, 79)
    assert zt == tt == 16
    assert ts_ == 16  # every time-sorted file spans all users
    assert zs < ts_  # the point of the layout
    # and nothing was lost: same row count both layouts
    assert (
        spark.read.parquet(zdir).count() == spark.read.parquet(tdir).count()
    )


def test_kmeans_fixedpoint_invariants(spark, sf_dir):
    """Exact-math guarantees: every vector is assigned (sizes sum to
    the table count), inertia is non-negative, the majority label is a
    real label with count <= cluster size, and two runs are
    bit-identical (integer arithmetic end to end -- no IEEE fold, no
    seed drift)."""
    from real_time_fraud_detection_system_spark.catalog import load_table
    from real_time_fraud_detection_system_spark.operators.similarity import (
        KM_K,
        kmeans_fixedpoint,
    )

    rows = kmeans_fixedpoint(spark, sf_dir).collect()
    n = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_points"] for r in rows) == n
    assert len(rows) <= KM_K
    assert all(0 <= r["cid"] < KM_K for r in rows)
    assert all(r["sum_dist"] >= 0 for r in rows)
    assert all(0 <= r["top_label"] <= 9 for r in rows)
    assert all(1 <= r["top_label_n"] <= r["n_points"] for r in rows)
    again = kmeans_fixedpoint(spark, sf_dir).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_kmeans_report_rollup_matches_two_aggregate_form(spark):
    """The round-13 reporting reshape: one (cid, label) aggregate
    rolled up per cid via whole-partition windows must equal the old
    stats/lab two-aggregate + join form for ANY assignment frame
    (integer sums reassociate exactly; majority-label ordering is
    (desc n, asc label) in both). Adversarial fixture: ties on the
    majority count, a singleton cluster, and a cid gap."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    final = spark.createDataFrame(
        [
            # cid 0: label tie 2-2 -> smallest label wins
            (1, 3, 0, 10), (2, 3, 0, 0), (3, 1, 0, 7), (4, 1, 0, 5),
            # cid 2 (gap at 1): clear majority
            (5, 9, 2, 1), (6, 9, 2, 2), (7, 0, 2, 3),
            # cid 4: singleton
            (8, 5, 4, 11),
        ],
        "vec_id int, label int, cid int, dist long",
    )
    stats = final.groupBy("cid").agg(
        F.count("*").alias("n_points"), F.sum("dist").alias("sum_dist")
    )
    lab = (
        final.groupBy("cid", "label")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cid").orderBy(F.desc("n"), F.asc("label"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cid", F.col("label").alias("top_label"), F.col("n").alias("top_label_n")
        )
    )
    old = (
        stats.join(lab, "cid")
        .orderBy("cid")
        .select("cid", "n_points", "sum_dist", "top_label", "top_label_n")
        .collect()
    )
    base = final.groupBy("cid", "label").agg(
        F.count("*").alias("n"), F.sum("dist").alias("sd")
    )
    cidw = Window.partitionBy("cid")
    new = (
        base.withColumn("n_points", F.sum("n").over(cidw))
        .withColumn("sum_dist", F.sum("sd").over(cidw))
        .withColumn(
            "rn", F.row_number().over(cidw.orderBy(F.desc("n"), F.asc("label")))
        )
        .filter(F.col("rn") == 1)
        .select("cid", "n_points", "sum_dist",
                F.col("label").alias("top_label"), F.col("n").alias("top_label_n"))
        .orderBy("cid")
        .collect()
    )
    assert [tuple(r) for r in new] == [tuple(r) for r in old]
    assert [r["top_label"] for r in new] == [1, 9, 5]  # the tie pinned


def test_dq_expectations_counts_injected_violations(spark, monkeypatch):
    """Engineered frame with one violation per rule class: the report
    must count each exactly and ppm-rate it against the row count."""
    from datetime import datetime

    import real_time_fraud_detection_system_spark.operators.metrics as mm

    ok_ts = datetime(2024, 1, 5)
    rows = [
        (1, ok_ts, 10, "click", 5.0, '{"k": 1}'),       # clean
        (None, ok_ts, 11, "view", 1.0, '{"k": 2}'),     # null event_id
        (3, ok_ts, None, "click", 1.0, '{"k": 3}'),     # null user_id
        (4, ok_ts, 12, "click", -2.0, '{"k": 4}'),      # negative value
        (5, ok_ts, 13, "weird", 1.0, '{"k": 5}'),       # enum violation
        (6, datetime(2031, 1, 1), 14, "click", 1.0, '{"k": 6}'),  # bad ts
        (7, ok_ts, 15, "click", 1.0, "not json"),       # props violation
        (8, ok_ts, 16, "click", 1.0, '{"k": 8}'),       # dup id below
        (8, ok_ts, 17, "click", 1.0, '{"k": 9}'),
        (9, ok_ts, 18, "click", 1.0, '{"k": null}'),    # JSON null = missing
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    monkeypatch.setattr(mm, "_events", lambda s, d: df)
    got = {r["rule"]: r for r in mm.dq_expectations(spark, "unused").collect()}
    expect = {
        "event_id_not_null": 1,
        "user_id_not_null": 1,
        "value_non_negative": 1,
        "event_type_in_enum": 1,
        "ts_in_sane_range": 1,
        "props_has_k": 2,  # malformed + JSON-null (get_json_object: NULL)
        "event_id_unique": 1,
    }
    assert {k: v["n_violations"] for k, v in got.items()} == expect
    assert all(v["n_checked"] == 10 for v in got.values())
    assert all(
        v["violation_ppm"] == v["n_violations"] * 1_000_000 // 10
        for v in got.values()
    )


def test_join_blowup_probe_exact_on_engineered_keys(spark, monkeypatch):
    """A hot key must dominate with exactly n^2 pairs and the correct
    integer-ppm share: 5 rows of user 1 (25 pairs), 2 of user 2 (4),
    1 of user 3 (1), NULL user ignored -> total 30 pairs."""
    from datetime import datetime

    import real_time_fraud_detection_system_spark.operators.skew as sk

    ts = datetime(2024, 1, 1)
    rows = (
        [(i, ts, 1, "click", 1.0, "{}") for i in range(5)]
        + [(10, ts, 2, "click", 1.0, "{}"), (11, ts, 2, "view", 1.0, "{}")]
        + [(20, ts, 3, "view", 1.0, "{}")]
        + [(30, ts, None, "view", 1.0, "{}")]
    )
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    monkeypatch.setattr(
        sk, "load_table", lambda s, d, n: df if n == "events" else None
    )
    got = sk.join_blowup_probe(spark, "unused").collect()
    assert [(r["user_id"], r["n_rows"], r["pairs"]) for r in got] == [
        (1, 5, 25),
        (2, 2, 4),
        (3, 1, 1),
    ]
    assert all(r["total_pairs"] == 30 and r["total_rows"] == 8 for r in got)
    assert got[0]["pair_share_ppm"] == 25 * 1_000_000 // 30


def test_source_token_entropy_bounds(spark, sf_dir):
    """Entropy must land in [0, log2(n_types)] (up to the nanobit
    quantization), TTR must reconcile exactly, and a single-token
    corpus must score zero entropy."""
    import math

    import real_time_fraud_detection_system_spark.operators.textops as tx

    rows = tx.source_token_entropy(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_types"] <= r["n_tokens"]
        assert r["ttr_ppm"] == r["n_types"] * 1_000_000 // r["n_tokens"]
        upper = math.log2(r["n_types"]) * 1e9 + 2  # quantization slack
        assert 0 <= r["entropy_nanobits"] <= upper

    one = spark.createDataFrame(
        [(1, "a a a a", "en", "s", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import pytest  # noqa: F401

    orig = tx.load_table
    try:
        tx.load_table = lambda s, d, n: one if n == "documents" else orig(s, d, n)
        got = tx.source_token_entropy(spark, "unused").collect()
    finally:
        tx.load_table = orig
    assert got[0]["entropy_nanobits"] == 0
    assert got[0]["n_tokens"] == 4 and got[0]["n_types"] == 1


def test_ivf_probe_sweep_monotone_and_consistent(spark, sf_dir):
    """Probe depths nest, so recall must be non-decreasing in nprobe;
    hits never exceed the exact count; depth NPROBE's aggregate matches
    ann_recall_eval's per-query rows summed."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_spark.operators.similarity import (
        NPROBE,
        SWEEP_MAX_PROBE,
        ann_recall_eval,
        ivf_probe_sweep,
    )

    rows = ivf_probe_sweep(spark, sf_dir).collect()
    assert [r["nprobe"] for r in rows] == list(range(1, SWEEP_MAX_PROBE + 1))
    hits = [r["n_hits"] for r in rows]
    assert hits == sorted(hits)  # nested candidates -> monotone recall
    assert all(0 <= r["n_hits"] <= r["n_exact"] for r in rows)
    assert all(
        r["recall_ppm"] == round(r["n_hits"] * 1_000_000 / r["n_exact"])
        for r in rows
    )

    per_q = ann_recall_eval(spark, sf_dir).agg(
        F.sum("n_exact").alias("e"), F.sum("n_hits").alias("h")
    ).first()
    at_nprobe = {r["nprobe"]: r for r in rows}[NPROBE]
    assert (at_nprobe["n_exact"], at_nprobe["n_hits"]) == (
        per_q["e"],
        per_q["h"],
    )


def test_dedup_cluster_density_flags_chains(spark, monkeypatch):
    """An engineered a~b~c chain (a and c never verified against each
    other) must report a size-3 cluster with 2 edges = 666,666 ppm,
    while an exact-dup pair reports a fully dense size-2 cluster."""
    import real_time_fraud_detection_system_spark.operators.dedup as dd

    # sliding 30-token windows over a 46-token sequence: adjacent
    # windows overlap 22 tokens (jaccard 0.556, verified), the outer
    # pair only 14 (jaccard 0.27, never verified) -- a true chain. The
    # "x2" salt picks a token set whose md5 band keys collide for BOTH
    # adjacent pairs (banding is probabilistic per token set but
    # deterministic once fixed).
    W = [f"w2x{i}" for i in range(46)]
    texts = {
        1: " ".join(W[0:30]),
        2: " ".join(W[8:38]),
        3: " ".join(W[16:46]),
        4: "dup dup one two three four five six",
        5: "dup dup one two three four five six",
        6: "lonely words that match nothing else at all",
    }
    rows = [(i, t, "en", "s", len(t)) for i, t in texts.items()]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(
        dd, "load_table", lambda s, d, n: df if n == "documents" else None
    )
    pairs = {(r["a_id"], r["b_id"]) for r in dd.dedup_minhash_lsh(spark, "x").collect()}
    assert pairs == {(1, 2), (2, 3), (4, 5)}
    got = {r["n_docs"]: r for r in dd.dedup_cluster_density(spark, "x").collect()}
    assert got[2]["density_ppm"] == 1_000_000
    assert got[3]["n_clusters"] == 1
    assert got[3]["sum_edges"] == 2
    assert got[3]["density_ppm"] == 666_666


def test_bootstrap_fraud_ci_invariants(spark, sf_dir):
    """Band ordering, exact reconciliation with the corpus, rate
    bounds, and bit-determinism across runs (md5-keyed weights)."""
    from real_time_fraud_detection_system_spark.catalog import load_table
    from real_time_fraud_detection_system_spark.operators.anomaly import (
        FRAUD_CUT,
        bootstrap_fraud_ci,
    )

    rows = bootstrap_fraud_ci(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    assert sum(r["n_events"] for r in rows) == ev.count()
    for r in rows:
        assert 0 <= r["ci_lo_ppm"] <= r["ci_hi_ppm"] <= 1_000_000
        assert 0 <= r["rate_ppm"] <= 1_000_000
    n_fraud = ev.filter(f"value > {FRAUD_CUT}").count()
    got_fraud = sum(
        r["rate_ppm"] * r["n_events"] for r in rows
    )  # floor-division loses < 1 event per day
    assert abs(got_fraud / 1_000_000 - n_fraud) <= len(rows)
    again = bootstrap_fraud_ci(spark, sf_dir).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_bootstrap_kernel_matches_jvm_expression_form(spark, sf_dir):
    """The round-14 Arrow partial-sum kernel must reproduce the retired
    JVM conv + CASE-ladder + 34-sum aggregate form EXACTLY: same per-day
    integer sums, same band rows. This re-runs the retired expression
    pipeline verbatim and compares final outputs row for row."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from real_time_fraud_detection_system_spark.catalog import load_table
    from real_time_fraud_detection_system_spark.operators.anomaly import (
        BOOT_R,
        FRAUD_CUT,
        _pois_ladder,
        bootstrap_fraud_ci,
    )

    ev = load_table(spark, sf_dir, "events")
    digests = [
        f"md5(concat('boot:', CAST(event_id AS STRING), ':g{j}')) AS d{j}"
        for j in range(BOOT_R // 4)
    ]
    ws = [
        _pois_ladder(
            f"(CAST(conv(substr(d{r // 4}, {1 + 8 * (r % 4)}, 8), 16, 10)"
            " AS DOUBLE) / 4294967296.0)"
        )
        for r in range(BOOT_R)
    ]
    weighted = ev.selectExpr(
        "CAST(ts AS DATE) AS day",
        f"CASE WHEN value > {FRAUD_CUT} THEN 1 ELSE 0 END AS is_fraud",
        *digests,
    ).selectExpr(
        "day", "is_fraud", *[f"{w} AS w{r}" for r, w in enumerate(ws)]
    )
    sums = weighted.groupBy("day").agg(
        *[
            F.expr(f"sum(w{r} * is_fraud)").alias(f"num{r}")
            for r in range(BOOT_R)
        ],
        *[F.expr(f"sum(w{r})").alias(f"den{r}") for r in range(BOOT_R)],
        F.count("*").alias("n_events"),
        F.sum("is_fraud").alias("n_fraud"),
    )
    stack_args = ", ".join(f"{r}, num{r}, den{r}" for r in range(BOOT_R))
    per_rep = (
        sums.selectExpr(
            "day", "n_events", "n_fraud",
            f"stack({BOOT_R}, {stack_args}) AS (r, num, den)",
        )
        .selectExpr(
            "day", "n_events", "n_fraud", "r",
            "CASE WHEN den = 0 THEN 0"
            " ELSE CAST((num * 1000000L) DIV den AS BIGINT) END AS rate_ppm",
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("day").orderBy("rate_ppm", "r")
            ),
        )
    )
    band = per_rep.groupBy("day").agg(
        F.first("n_events").alias("n_events"),
        F.first("n_fraud").alias("n_fraud"),
        F.max(F.when(F.col("rk") == 2, F.col("rate_ppm"))).alias("ci_lo_ppm"),
        F.max(F.when(F.col("rk") == BOOT_R - 1, F.col("rate_ppm"))).alias(
            "ci_hi_ppm"
        ),
    )
    old = (
        band.selectExpr(
            "day", "n_events",
            "CAST((n_fraud * 1000000L) DIV n_events AS BIGINT) AS rate_ppm",
            "ci_lo_ppm", "ci_hi_ppm",
        )
        .orderBy("day")
        .collect()
    )
    new = bootstrap_fraud_ci(spark, sf_dir).collect()
    assert [tuple(r) for r in new] == [tuple(r) for r in old]


def test_gapfill_hourly_fills(spark, monkeypatch):
    """Engineered gaps: linear interpolation hits the exact integer
    cents, LOCF carries forward, leading gaps stay NULL, trailing gaps
    LOCF but never interpolate, and the grid is dense over the global
    hour bounds for every type."""
    import real_time_fraud_detection_system_spark.operators.temporal as tp
    from datetime import datetime

    h0 = datetime(2024, 3, 1, 0, 30)

    def at(hours):
        return datetime(2024, 3, 1, hours, 30)

    rows = [
        # type a: observed at hour 0 (100.00) and hour 3 (400.00)
        (1, h0, 7, "a", 100.0, "{}"),
        (2, at(3), 7, "a", 400.0, "{}"),
        # type b: observed only at hour 1
        (3, at(1), 8, "b", 50.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    monkeypatch.setattr(tp, "load_table", lambda s, d, n: df)
    got = {
        (r["event_type"], r["bucket_hour"][11:13]): r
        for r in tp.gapfill_hourly(spark, "x").collect()
    }
    assert len(got) == 8  # 4 hours x 2 types: dense grid
    a = [got[("a", f"{h:02d}")] for h in range(4)]
    assert [r["n_events"] for r in a] == [1, 0, 0, 1]
    assert [r["avg_cents"] for r in a] == [10000, None, None, 40000]
    assert [r["locf_cents"] for r in a] == [10000, 10000, 10000, 40000]
    assert [r["interp_cents"] for r in a] == [10000, 20000, 30000, 40000]
    b = [got[("b", f"{h:02d}")] for h in range(4)]
    assert [r["n_events"] for r in b] == [0, 1, 0, 0]
    # leading gap: nothing to carry; trailing gaps: LOCF, no interp
    assert [r["locf_cents"] for r in b] == [None, 5000, 5000, 5000]
    assert [r["interp_cents"] for r in b] == [None, 5000, None, None]


def test_emb_quantize_int8_bounds(spark, monkeypatch):
    """Constant dims collapse to one code with zero error; a two-point
    dim uses the extreme codes; every error is under the half-cell
    bound (mx - mn) / 512."""
    import real_time_fraud_detection_system_spark.operators.similarity as sim

    rows = [
        (1, [0.0, -1.0, 5.0], 0),
        (2, [0.0, 1.0, 5.0], 0),
        (3, [0.0, 0.25, 5.0], 0),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    monkeypatch.setattr(
        sim, "load_table", lambda s, d, n: df if n == "embeddings" else None
    )
    got = {r["dim"]: r for r in sim.emb_quantize_int8(spark, "x").collect()}
    assert set(got) == {0, 1, 2}
    # dim 0 and 2: constant -> single code, midpoint == value, no error
    for d in (0, 2):
        assert got[d]["n_codes"] == 1
        assert got[d]["sum_abserr_fp"] == 0
        assert got[d]["max_abserr_fp"] == 0
    assert got[0]["mn_fp"] == 0 and got[2]["mn_fp"] == 5_000_000
    # dim 1: range [-1, 1]; -1 -> code 0, 1 -> clamp 255, 0.25 -> 160
    d1 = got[1]
    assert d1["mn_fp"] == -1_000_000 and d1["mx_fp"] == 1_000_000
    assert d1["n_codes"] == 3
    # half-cell bound: (mx-mn)/512 = 2/512 in nanounits
    assert d1["max_abserr_fp"] <= int(2 / 512 * 1e9) + 1


def test_part_triangles_clique_and_wedge(spark, monkeypatch):
    """A 4-clique (every pair co-ordered twice) yields 4 triangles with
    every member on 3 of them; an open wedge (5-6, 6-7, no 5-7) and
    single-co-order pairs (below TRI_MIN_SUP) yield none."""
    import real_time_fraud_detection_system_spark.operators.tpch_extra as tx

    orders = {
        101: [1, 2, 3, 4], 102: [1, 2, 3, 4],   # clique, support 2
        103: [5, 6], 104: [5, 6], 105: [6, 7], 106: [6, 7],  # wedge
        107: [8, 9],                              # support 1: no edge
    }
    rows = [(o, p) for o, parts in orders.items() for p in parts]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    monkeypatch.setattr(
        tx, "load_table", lambda s, d, n: df if n == "lineitem" else None
    )
    got = {r["l_partkey"]: r["n_triangles"]
           for r in tx.part_triangles(spark, "x").collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_skyline_parts_matches_bruteforce_dominance(spark, monkeypatch):
    """The windowed skyline equals the O(n^2) textbook dominance filter
    on an engineered catalog: minimize price, maximize size, a point
    survives iff nothing is <= price AND >= size with one strict."""
    import real_time_fraud_detection_system_spark.operators.tpch_extra as tx

    #            key  size  price
    parts = [
        (1, 10, 5.00),   # frontier (cheapest overall)
        (2, 10, 5.00),   # tie at the same point
        (3, 20, 5.00),   # dominates 1/2 on size at equal price
        (4, 20, 7.00),   # dominated by 3
        (5, 30, 9.00),   # frontier
        (6, 25, 9.50),   # dominated by 5 (smaller AND dearer)
        (7, 30, 9.00),   # tie with 5
    ]
    df = spark.createDataFrame(
        [(k, f"part{k}", "B", "T", s, p) for k, s, p in parts],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    monkeypatch.setattr(
        tx, "load_table", lambda s, d, n: df if n == "part" else None
    )
    got = sorted(
        (r["p_size"], r["price_cents"], r["n_parts"], r["min_partkey"])
        for r in tx.skyline_parts(spark, "x").collect()
    )
    # brute force: (size s, min price m) survives iff no s' > s with
    # m(s') <= m -- here sizes 20 (500) and 30 (900); size 10's 500 is
    # matched at size 20, so 10 is dominated; size 25 loses to 30.
    assert got == [(20, 500, 1, 3), (30, 900, 2, 5)]


def test_supplier_bfs_hops_levels_on_engineered_graph(spark, monkeypatch):
    """BFS levels on a hand-built path: supplier 1 sells to customers
    10 and 11 (hop 1); customer 10 also buys from supplier 2 (hop 2);
    supplier 2 also sells to customer 12 (hop 3); an island (supplier
    9 <-> customer 99) is never reached."""
    import real_time_fraud_detection_system_spark.operators.tpch_extra as tx

    # (orderkey, custkey) and (orderkey, suppkey) pairs
    ords = [(1, 10), (2, 11), (3, 10), (4, 12), (5, 99)]
    lis = [(1, 1), (2, 1), (3, 2), (4, 2), (5, 9)]
    odf = spark.createDataFrame(ords, "o_orderkey long, o_custkey long")
    ldf = spark.createDataFrame(lis, "l_orderkey long, l_suppkey long")
    monkeypatch.setattr(
        tx, "load_table",
        lambda s, d, n: {"orders": odf, "lineitem": ldf}[n],
    )
    got = {
        r["hop"]: (r["n_nodes"], r["n_customers"], r["n_suppliers"])
        for r in tx.supplier_bfs_hops(spark, "x").collect()
    }
    assert got == {
        0: (1, 0, 1),   # the source supplier
        1: (2, 2, 0),   # customers 10, 11
        2: (1, 0, 1),   # supplier 2 via customer 10
        3: (1, 1, 0),   # customer 12 via supplier 2
    }


def _stats_events(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


def test_exact_median_odd_and_even_groups(spark, monkeypatch):
    """Odd group -> the middle value; even group -> mean of the two
    middles, exact in cents (no interpolation drift)."""
    import datetime as dt

    import real_time_fraud_detection_system_spark.operators.stats as st

    t = dt.datetime(2024, 1, 1)
    rows = [
        # odd: values 1.00, 2.00, 9.00 -> median 2.00
        (1, t, 1, "a", 9.00, None),
        (2, t, 1, "a", 1.00, None),
        (3, t, 1, "a", 2.00, None),
        # even: 1.00, 2.01, 3.00, 50.0 -> median (2.01+3.00)/2 = 2.505
        (4, t, 1, "b", 3.00, None),
        (5, t, 1, "b", 1.00, None),
        (6, t, 1, "b", 50.0, None),
        (7, t, 1, "b", 2.01, None),
        # NULL values are excluded entirely
        (8, t, 1, "c", None, None),
    ]
    df = _stats_events(spark, rows)
    monkeypatch.setattr(st, "load_table", lambda s, d, n: df)
    got = {
        r["event_type"]: (r["n_events"], r["median_value"])
        for r in st.exact_median_by_type(spark, "x").collect()
    }
    assert got == {"a": (3, 2.00), "b": (4, 2.505)}


def test_event_comovement_corr_known_series(spark, monkeypatch):
    """Perfectly correlated, anti-correlated, and constant day series
    give r_ppm 1e6, -1e6 (floor of exactly -1 stays -1e6), and NULL."""
    import datetime as dt

    import real_time_fraud_detection_system_spark.operators.stats as st

    # 3 days: a = [1, 2, 3] events, b = [3, 2, 1], c = [2, 2, 2]
    counts = {"a": [1, 2, 3], "b": [3, 2, 1], "c": [2, 2, 2]}
    rows, eid = [], 0
    for typ, per_day in counts.items():
        for day, n in enumerate(per_day):
            for _ in range(n):
                eid += 1
                rows.append(
                    (eid, dt.datetime(2024, 1, 1 + day), 1, typ, 1.0, None)
                )
    df = _stats_events(spark, rows)
    monkeypatch.setattr(st, "load_table", lambda s, d, n: df)
    got = {
        (r["type_a"], r["type_b"]): r["r_ppm"]
        for r in st.event_comovement_corr(spark, "x").collect()
    }
    assert got[("a", "b")] == -1_000_000
    assert got[("a", "c")] is None and got[("b", "c")] is None


def test_activity_islands_streak_census(spark, monkeypatch):
    """User 1 active on days 1,2,3 and 5 (streaks 3 and 1); user 2 on
    days 2,3 (streak 2); duplicate events on one day collapse."""
    import datetime as dt

    import real_time_fraud_detection_system_spark.operators.stats as st

    def ev(eid, day, user):
        return (eid, dt.datetime(2024, 1, day, 12), user, "view", 1.0, None)

    rows = [
        ev(1, 1, 1), ev(2, 2, 1), ev(3, 2, 1), ev(4, 3, 1), ev(5, 5, 1),
        ev(6, 2, 2), ev(7, 3, 2),
    ]
    df = _stats_events(spark, rows)
    monkeypatch.setattr(st, "load_table", lambda s, d, n: df)
    got = {
        r["streak_days"]: (r["n_streaks"], r["n_users"])
        for r in st.activity_islands(spark, "x").collect()
    }
    assert got == {1: (1, 1), 2: (1, 1), 3: (1, 1)}


def test_last_touch_attribution_credits_prior_event(spark, monkeypatch):
    """A purchase credits the latest prior non-purchase touch; a
    same-instant touch counts (inclusive as-of); a first-event
    purchase is 'direct'; a purchase between two touches picks the
    later one; purchases never credit other purchases."""
    import datetime as dt

    import real_time_fraud_detection_system_spark.operators.stats as st

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # user 1: click@0, view@1, purchase@2 (10.00) -> view
        (1, t(0), 1, "click", 1.0, None),
        (2, t(1), 1, "view", 1.0, None),
        (3, t(2), 1, "purchase", 10.00, None),
        # user 1: purchase@3 right after -> still view (not purchase@2)
        (4, t(3), 1, "purchase", 5.00, None),
        # user 2: purchase with NO prior event -> direct
        (5, t(0), 2, "purchase", 2.50, None),
        # user 3: same-instant click + purchase -> click (inclusive)
        (6, t(0), 3, "click", 1.0, None),
        (7, t(0), 3, "purchase", 1.25, None),
    ]
    df = _stats_events(spark, rows)
    monkeypatch.setattr(st, "load_table", lambda s, d, n: df)
    got = {
        r["touch_type"]: (r["n_purchases"], r["revenue"])
        for r in st.last_touch_attribution(spark, "x").collect()
    }
    assert got == {
        "view": (2, 15.00),
        "direct": (1, 2.50),
        "click": (1, 1.25),
    }


def test_daily_value_percentiles_nearest_rank(spark, monkeypatch):
    """Type-1 (nearest-rank) percentiles on a 10-value day: rank
    ceil(q*n/100) -> p10 = 1st, p50 = 5th, p90 = 9th value."""
    import datetime as dt

    import real_time_fraud_detection_system_spark.operators.stats as st

    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    rows = [
        (i, dt.datetime(2024, 1, 1, 0, i), 1, "view", v, None)
        for i, v in enumerate(vals)
    ]
    df = _stats_events(spark, rows)
    monkeypatch.setattr(st, "load_table", lambda s, d, n: df)
    [r] = st.daily_value_percentiles(spark, "x").collect()
    assert (r["n_events"], r["p10"], r["p50"], r["p90"]) == (10, 1.0, 5.0, 9.0)


def test_daily_trend_slopes_known_lines(spark, monkeypatch):
    """Counts [1,2,3] rise exactly 1/day (1e6 ppm); [3,2,1] fall
    -1e6 ppm; a single-day type has zero x-variance and is dropped."""
    import datetime as dt

    import real_time_fraud_detection_system_spark.operators.stats as st

    counts = {"up": [1, 2, 3], "down": [3, 2, 1], "one": [4]}
    rows, eid = [], 0
    for typ, per_day in counts.items():
        for day, n in enumerate(per_day):
            for _ in range(n):
                eid += 1
                rows.append(
                    (eid, dt.datetime(2024, 1, 1 + day), 1, typ, 1.0, None)
                )
    df = _stats_events(spark, rows)
    monkeypatch.setattr(st, "load_table", lambda s, d, n: df)
    got = {
        r["event_type"]: (r["n_days"], r["total_events"], r["slope_ppm_per_day"])
        for r in st.daily_trend_slopes(spark, "x").collect()
    }
    assert got == {"up": (3, 6, 1_000_000), "down": (3, 6, -1_000_000)}


def test_fk_integrity_counts_orphans_and_nulls(spark, monkeypatch):
    """Injected orphan and NULL child keys are counted separately
    (SQL-FK style: NULL is not an orphan), duplicates of an orphan key
    count per ROW, and clean relations report zero."""
    import real_time_fraud_detection_system_spark.operators.metrics as mt

    tables = {
        "orders": spark.createDataFrame(
            [(1, 10), (2, 10), (3, 99)],  # custkey 99 has no customer
            "o_orderkey long, o_custkey long",
        ),
        "lineitem": spark.createDataFrame(
            # two rows with orphan orderkey 7, one NULL orderkey
            [(1, 1, 1), (7, 1, 1), (7, 1, 1), (None, 1, 1)],
            "l_orderkey long, l_partkey long, l_suppkey long",
        ),
        "part": spark.createDataFrame([(1,)], "p_partkey long"),
        "supplier": spark.createDataFrame(
            [(1, 5)], "s_suppkey long, s_nationkey long"
        ),
        "customer": spark.createDataFrame(
            [(10, 5)], "c_custkey long, c_nationkey long"
        ),
        "nation": spark.createDataFrame(
            [(5, 2)], "n_nationkey long, n_regionkey long"
        ),
        "region": spark.createDataFrame([(2,)], "r_regionkey long"),
        "documents": spark.createDataFrame(
            [(1, "t")], "doc_id long, text string"
        ),
        "embeddings": spark.createDataFrame(
            # vec 1 aligns to doc 1; vec 8 is an orphan vector (the
            # doc store and the vector store diverged)
            [(1, [0.1]), (8, [0.2])],
            "vec_id long, embedding array<float>",
        ),
    }
    monkeypatch.setattr(mt, "load_table", lambda s, d, n: tables[n])
    got = {
        r["relation"]: (r["n_child_rows"], r["n_null_keys"],
                        r["n_orphans"], r["orphan_ppm"])
        for r in mt.fk_integrity_check(spark, "x").collect()
    }
    assert got["lineitem_orderkey"] == (4, 1, 2, 500_000)
    assert got["orders_custkey"] == (3, 0, 1, 333_333)
    assert got["embeddings_vec_doc"] == (2, 0, 1, 500_000)
    for clean in ("lineitem_partkey", "lineitem_suppkey",
                  "customer_nationkey", "supplier_nationkey",
                  "nation_regionkey"):
        assert got[clean][2] == 0 and got[clean][3] == 0


def test_time_weighted_value_locf_segments(spark, monkeypatch):
    """value 100.00 held 10 s then 200.00 held 30 s -> TWA 175.00; the
    closing event contributes no segment; a single-event user drops."""
    import datetime as dt

    import real_time_fraud_detection_system_spark.operators.stats as st

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "view", 100.00, None),
        (2, t0 + dt.timedelta(seconds=10), 1, "view", 200.00, None),
        (3, t0 + dt.timedelta(seconds=40), 1, "view", 999.0, None),
        (4, t0, 2, "view", 50.0, None),  # single event: no segment
    ]
    df = _stats_events(spark, rows)
    monkeypatch.setattr(st, "load_table", lambda s, d, n: df)
    out = {r["user_id"]: r for r in st.time_weighted_value(spark, "x").collect()}
    assert set(out) == {1}
    r = out[1]
    assert (r["n_segments"], r["span_us"], r["twa_cents"]) == (
        2, 40_000_000, 17_500,
    )


def test_part_cooccurrence_topk_engineered_baskets(spark, monkeypatch):
    """4 orders: {1,2} x3 and {1,3} x1 -> focus includes part 1
    (n_a=4); partner 2 has n_ab=3, lift = 3*4/(4*3) = 1.0 (1e6 ppm);
    partner 3 has n_ab=1 < CO_MIN_SUP and is pruned. Duplicate
    (order, part) rows must not inflate counts."""
    import real_time_fraud_detection_system_spark.operators.tpch_extra as tx

    rows = [
        (1, 1), (1, 2), (1, 2),   # dup (1,2) row: must collapse
        (2, 1), (2, 2),
        (3, 1), (3, 2),
        (4, 1), (4, 3),
    ]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    monkeypatch.setattr(
        tx, "load_table", lambda s, d, n: df if n == "lineitem" else None
    )
    got = {
        (r["part"], r["partner"]): (r["n_ab"], r["lift_ppm"], r["rank"])
        for r in tx.part_cooccurrence_topk(spark, "x").collect()
    }
    # part 1: n_a=4; partner 2: n_ab=3, n_b=3 -> 3*4*1e6/(4*3) = 1e6
    assert got[(1, 2)] == (3, 1_000_000, 1)
    # part 2: n_a=3; partner 1: n_ab=3, n_b=4 -> 3*4*1e6/(3*4) = 1e6
    assert got[(2, 1)] == (3, 1_000_000, 1)
    assert (1, 3) not in got  # support 1 pruned


def test_exact_substring_spans_merges_overlapping_runs(spark, monkeypatch):
    """Constructed corpus: one 10-token run repeated across two docs
    must merge its 3 overlapping 8-token shingle hits into ONE span of
    10 tokens per doc; a unique doc contributes nothing."""
    import real_time_fraud_detection_system_spark.operators.corpusops as co

    run = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    rows = [
        (1, f"a1 a2 {run} a3 a4", "en", "srcA", 1),
        (2, f"b1 {run} b2 b3 b4 b5", "en", "srcA", 1),
        (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9", "en", "srcB", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    monkeypatch.setattr(
        co, "load_table", lambda s, d, n: df if n == "documents" else None
    )
    got = {
        r["source"]: r
        for r in co.exact_substring_spans(spark, "unused").collect()
    }
    # each doc: 3 shingle positions of the run collide -> one merged
    # span covering exactly the 10 run tokens
    assert got["srcA"]["docs_with_dup"] == 2
    assert got["srcA"]["dup_tokens"] == 20  # 10 per doc, merged
    assert got["srcB"]["docs_with_dup"] == 0
    assert got["srcB"]["dup_tokens"] == 0


def test_packing_budget_sweep_straddle_accounting(spark, monkeypatch):
    """One source with doc lengths 100, 100, 100: at budget 128 the
    second doc straddles (starts at 100, ends at 199 across the
    128-boundary) and the third straddles (200..299 across 256);
    at budget 512 nothing straddles and one bin holds all 300 tokens."""
    import real_time_fraud_detection_system_spark.operators.corpusops as co

    text = " ".join(["t"] * 100)
    rows = [(i, text, "en", "srcA", 1) for i in range(3)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    monkeypatch.setattr(
        co, "load_table", lambda s, d, n: df if n == "documents" else None
    )
    got = {
        r["budget"]: r
        for r in co.packing_budget_sweep(spark, "unused").collect()
    }
    assert got[128]["straddling_docs"] == 2
    assert got[128]["n_bins"] == 3  # 300 tokens / 128 -> bins 0,1,2
    assert got[512]["straddling_docs"] == 0
    assert got[512]["n_bins"] == 1
    assert got[512]["avg_fill_ppm"] == 300 * 1_000_000 // 512


def test_packing_oracle_listfree_count_matches_list_form():
    """The packing oracle counts tokens arithmetically
    (length - length(replace) + 1) instead of materializing
    string_split's per-row list -- the round-12 driver OOM'd inside
    that list allocation. string_split keeps empty fields, so the two
    forms are IDENTICAL by construction; pin it on the real sf0.001
    corpus plus the edge rows (empty text, consecutive spaces,
    leading/trailing space)."""
    import duckdb

    import real_time_fraud_detection_system_spark.operators.corpusops as co
    from tests.conftest import SF_SMOKE

    assert "string_split" not in co.PACKING_BUDGET_SWEEP_SQL
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW real_docs AS SELECT text FROM"
        f" read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    con.execute(
        "CREATE VIEW documents AS SELECT text FROM real_docs "
        "UNION ALL SELECT * FROM (VALUES (''), ('a  b'), (' a'),"
        " ('a '), ('   ')) v(text)"
    )
    n_bad = con.execute(
        "SELECT sum(CASE WHEN len(string_split(text, ' ')) !="
        " length(text) - length(replace(text, ' ', '')) + 1"
        " THEN 1 ELSE 0 END) FROM documents"
    ).fetchone()[0]
    assert n_bad == 0


def test_dedup_keep_best_prefers_richer_copy(spark, monkeypatch):
    """Two near-dup docs where the LARGER id has more distinct tokens:
    keep-best must move the keep off the min-id doc and the kept-token
    budget must grow accordingly."""
    import real_time_fraud_detection_system_spark.operators.dedup as dd

    # docs 1 and 2 share enough 3-gram shingles to pair (>= 0.5
    # Jaccard); doc 2 carries extra distinct tokens
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    rows = [
        (1, base, "en", "srcA", 1),
        (2, base + " x1 x2", "en", "srcA", 1),
        (3, "z1 z2 z3 z4 z5", "en", "srcB", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    monkeypatch.setattr(
        dd, "load_table", lambda s, d, n: df if n == "documents" else None
    )
    got = {
        r["source"]: r for r in dd.dedup_keep_best(spark, "unused").collect()
    }
    # min-id policy keeps doc 1 (10 tokens); best policy keeps doc 2
    # (12 tokens, more distinct)
    assert got["srcA"]["keeps_moved"] == 1
    assert got["srcA"]["kept_tokens_best"] == 12
    assert got["srcA"]["kept_tokens_minid"] == 10
    # singleton cluster: keep never moves
    assert got["srcB"]["keeps_moved"] == 0


def test_dsir_importance_separates_target_like_docs(spark, monkeypatch):
    """Docs written in the target source's vocabulary must land in
    strictly higher importance bins than docs from a disjoint
    vocabulary (the whole point of DSIR reweighting)."""
    import real_time_fraud_detection_system_spark.operators.corpusops as co

    tgt_vocab = "alpha beta gamma delta epsilon"
    off_vocab = "zeta eta theta iota kappa"
    rows = (
        # target domain (src0) + a target-like doc in srcA
        [(i, tgt_vocab, "en", "src0", 1) for i in range(5)]
        + [(10, tgt_vocab, "en", "srcA", 1)]
        + [(11, off_vocab, "en", "srcB", 1)]
    )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    monkeypatch.setattr(
        co, "load_table", lambda s, d, n: df if n == "documents" else None
    )
    bins = {
        (r["source"], r["bin"])
        for r in co.dsir_importance_bins(spark, "unused").collect()
    }
    bin_of = {src: b for src, b in bins}
    assert bin_of["srcA"] > bin_of["srcB"]
    assert bin_of["src0"] == bin_of["srcA"]  # same text -> same bin


def test_token_fertility_counts(spark, monkeypatch):
    """'ab12cd' splits to [ab,1,2,cd] under the BPE-ish regex: 4
    subtokens over 1 whitespace word -> fertility 4.0 exactly."""
    import real_time_fraud_detection_system_spark.operators.textops as tx

    df = spark.createDataFrame(
        [(1, "ab12cd", "en", "srcA", 6)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    monkeypatch.setattr(
        tx, "load_table", lambda s, d, n: df if n == "documents" else None
    )
    row = tx.token_fertility(spark, "unused").collect()[0]
    assert row["n_ws_tokens"] == 1
    assert row["n_bpe_tokens"] == 4
    assert row["fertility_ppm"] == 4_000_000
    assert row["chars_per_bpe_ppm"] == 6 * 1_000_000 // 4


def test_dup_chao1_estimate_matches_hand_reference(spark, monkeypatch):
    """5 docs: 3 singleton texts + 1 doubleton -> D=4, f1=3, f2=1,
    chao1 = 4 + 3*2 // (2*2) = 5 (one estimated unseen distinct)."""
    import real_time_fraud_detection_system_spark.operators.dedup as dd

    rows = [
        (1, "alpha", "en", "s", 5),
        (2, "beta", "en", "s", 4),
        (3, "gamma", "en", "s", 5),
        (4, "delta", "en", "s", 5),
        (5, "delta", "en", "s", 5),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(
        dd, "load_table", lambda s, d, n: df if n == "documents" else None
    )
    r = dd.dup_chao1_estimate(spark, "unused").collect()[0]
    assert (r["n_docs"], r["n_distinct"], r["f1"], r["f2"]) == (5, 4, 3, 1)
    assert r["chao1_distinct_est"] == 5
    assert r["observed_dup_docs"] == 1
    assert r["est_unseen_distinct"] == 1


def test_zipf_alpha_matches_numpy_fixpoint(spark, monkeypatch):
    """Synthetic corpus with known token counts: the integer-ppm alpha
    must equal the SAME fixed-point OLS computed by hand in numpy
    (quantize ln to 1e6, integer moments, truncating division)."""
    import numpy as np

    import real_time_fraud_detection_system_spark.operators.textops as tx

    # counts: t1 x 8, t2 x 4, t3 x 2, t4 x 1 (a perfect power law)
    text = " ".join(["t1"] * 8 + ["t2"] * 4 + ["t3"] * 2 + ["t4"])
    df = spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(
        tx, "load_table", lambda s, d, n: df if n == "documents" else None
    )
    r = tx.zipf_alpha_by_source(spark, "unused").collect()[0]
    assert r["n_ranks"] == 4
    counts = np.array([8, 4, 2, 1])
    ranks = np.arange(1, 5)
    lx = np.rint(np.log(ranks) * 1e6).astype(np.int64)
    ly = np.rint(np.log(counts) * 1e6).astype(np.int64)
    n = 4
    sx, sy = int(lx.sum()), int(ly.sum())
    sxy, sxx = int((lx * ly).sum()), int((lx * lx).sum())
    num = (sx * sy - n * sxy) * 1_000_000
    den = n * sxx - sx * sx
    # exact integer division truncating toward zero (Spark DIV and
    # DuckDB // semantics; Python // floors, so divide magnitudes)
    want = (abs(num) // abs(den)) * (1 if (num > 0) == (den > 0) else -1)
    assert r["alpha_ppm"] == want
    # a perfect 2^k power law over ranks 1,2,4? -- sanity: alpha near 1
    assert 0 < r["alpha_ppm"] < 3_000_000


def test_activity_shape_buckets_matches_hand_reference(spark, monkeypatch):
    """Two shape archetypes: a front-loaded burster (all events in
    segment 0 -> 'daaaaa') and a uniform user (one event per segment;
    1e6 DIV 6 = 166,666 ppm sits just under the 166,667 par breakpoint
    -> 'bbbbbb')."""
    import datetime as dt

    import real_time_fraud_detection_system_spark.operators.sessionize as sz

    rows = []
    # user 1: 10 events on days 0-4 (all segment 0)
    for i in range(10):
        rows.append((i, dt.datetime(2024, 1, 1 + (i % 5)), 1, "click", 1.0, "{}"))
    # user 2: one event in each 5-day segment (days 0,5,10,15,20,25)
    for j in range(6):
        rows.append((100 + j, dt.datetime(2024, 1, 1 + 5 * j), 2, "click", 1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(
        sz, "load_table", lambda s, d, n: df if n == "events" else None
    )
    got = {
        r["sax_word"]: (r["n_users"], r["n_events"], r["example_user"])
        for r in sz.activity_shape_buckets(spark, "unused").collect()
    }
    assert got == {"daaaaa": (1, 10, 1), "bbbbbb": (1, 6, 2)}


def test_kmv_source_overlap_estimator_properties(spark, sf_dir):
    """KMV bottom-K overlap estimator on the real corpus: k_used is
    exactly K wherever the pair's union has >= K shingles, the
    estimate is a valid ppm share, and the estimator error vs the
    exact Jaccard stays inside the ~4/sqrt(K) sampling band."""
    from real_time_fraud_detection_system_spark.operators.sketches import (
        KMV_K,
        kmv_source_overlap,
    )

    rows = kmv_source_overlap(spark, sf_dir).collect()
    assert rows, "no source pairs"
    band = int(4_000_000 / (KMV_K ** 0.5))  # 4 sigma of a K-sample share
    for r in rows:
        assert 0 < r["k_used"] <= KMV_K
        assert 0 <= r["est_jaccard_ppm"] <= 1_000_000
        assert abs(r["err_ppm"]) <= band, (
            f"{r['src_a']}x{r['src_b']}: err {r['err_ppm']} "
            f"outside +/-{band}"
        )


def test_activity_shape_matches_hand_reference(spark, monkeypatch):
    """Three users sharing one shape word with hand-computed L1
    distances: each picks its nearest partner (ties would break on the
    smaller id); a user alone in its bucket emits no row.

    Share vectors (ppm, seg0/seg1): u1 (17,3) -> (850000, 150000),
    u2 (9,1) -> (900000, 100000), u3 (13,2) -> (866666, 133333).
    All symbolize 'd','b' -> word dbaaaa. L1: u1-u2 100000,
    u1-u3 33333, u2-u3 66667."""
    import datetime as dt

    import real_time_fraud_detection_system_spark.operators.sessionize as sz

    rows = []
    eid = 0
    for uid, (n0, n1) in ((1, (17, 3)), (2, (9, 1)), (3, (13, 2))):
        for _ in range(n0):
            rows.append((eid, dt.datetime(2024, 1, 2), uid, "c", 1.0, "{}"))
            eid += 1
        for _ in range(n1):
            rows.append((eid, dt.datetime(2024, 1, 7), uid, "c", 1.0, "{}"))
            eid += 1
    # user 9: uniform across all 6 segments -> word bbbbbb, alone
    for j in range(6):
        rows.append((eid, dt.datetime(2024, 1, 1 + 5 * j), 9, "c", 1.0, "{}"))
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(
        sz, "load_table", lambda s, d, n: df if n == "events" else None
    )
    got = {
        r["user_id"]: (r["nearest_user"], r["sax_word"], r["l1_ppm"])
        for r in sz.activity_shape_matches(spark, "unused").collect()
    }
    assert got == {
        1: (3, "dbaaaa", 33333),
        2: (3, "dbaaaa", 66667),
        3: (1, "dbaaaa", 33333),
    }


def test_lsh_band_sweep_monotone_and_exact(spark, monkeypatch):
    """Engineered corpus (the minhash_lsh_recall fixture): an exact-dup
    pair whose identical signatures collide under EVERY banding, plus a
    mid-Jaccard pair. Doubling the band count must never lose a caught
    pair (a coarse band all-equal implies both its sub-bands all-equal)
    and never shrink the candidate-pair bill -- the two monotonicities
    that make the sweep a price table."""
    import real_time_fraud_detection_system_spark.operators.dedup as dd

    a_toks = [f"a{i}" for i in range(20)]
    b_toks = a_toks[:12] + [f"b{i}" for i in range(8)]
    texts = {
        1: " ".join(a_toks),
        2: " ".join(b_toks),
        3: " ".join(a_toks),  # exact dup of 1
        4: "zz yy xx ww vv uu tt ss",
    }
    rows = [(i, t, "en", "src", len(t)) for i, t in texts.items()]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(
        dd, "load_table", lambda s, d, n: df if n == "documents" else None
    )
    out = [r.asDict() for r in dd.lsh_band_sweep(spark, "unused").collect()]

    assert [r["bands"] for r in out] == [b for b, _ in dd.BAND_SWEEP_CONFIGS]
    for r in out:
        assert r["rows_per_band"] == dd.MINHASH_K // r["bands"]
        # truth set is config-independent: (1,2), (2,3), (1,3)
        assert r["n_true"] == 3
        # the exact-dup pair (1,3) is caught even by the 1-band
        # full-signature config
        assert r["n_caught"] >= 1
        assert r["n_caught"] <= r["n_true"]
        assert r["recall_ppm"] == r["n_caught"] * 1_000_000 // r["n_true"]
    for prev, cur in zip(out, out[1:]):
        assert cur["n_caught"] >= prev["n_caught"]
        assert cur["cand_pairs"] >= prev["cand_pairs"]


def test_ann_int8_recall_preserves_separated_clusters(spark, monkeypatch):
    """Three orthogonal direction groups: within-group cosine stays
    maximal after midpoint reconstruction and cross-group ties keep the
    id order, so int8 retrieval loses nothing -- recall is exactly
    1e6 ppm for every query, and the report has one row per query."""
    import real_time_fraud_detection_system_spark.operators.similarity as sim

    dims = 12
    rows = []
    for i in range(12):
        v = [0.0] * dims
        v[i % 3] = 1.0
        rows.append((i, v, 0))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    monkeypatch.setattr(
        sim, "load_table", lambda s, d, n: df if n == "embeddings" else None
    )
    got = sim.ann_int8_recall(spark, "unused").collect()
    assert [r["q_id"] for r in got] == list(range(sim.N_QUERIES))
    for r in got:
        assert r["n_hit"] == sim.TOPK
        assert r["recall_ppm"] == 1_000_000


def test_corpus_snapshot_diff_census_matches_python_replay(spark, monkeypatch):
    """The md5 membership/edit arithmetic replays exactly in Python:
    build 40 docs, compute each one's expected status with hashlib, and
    require the census to equal the Python census -- statuses partition
    the union, 'changed' only inside the intersection."""
    import hashlib
    from collections import Counter

    import real_time_fraud_detection_system_spark.operators.corpusops as co

    def frac(tag, i):
        return int(
            hashlib.md5(f"{tag}:{i}".encode()).hexdigest()[:8], 16
        )

    rows = [
        (i, f"doc body {i} " + "x" * (i % 7), "en",
         f"s{i % 3}", 10 + i % 7)
        for i in range(40)
    ]
    expected = Counter()
    for i, _t, _l, src, n_chars in rows:
        in_a = frac("snapA", i) % co.SNAP_MOD < co.SNAP_KEEP
        in_b = frac("snapB", i) % co.SNAP_MOD < co.SNAP_KEEP
        edited = frac("edit", i) % co.EDIT_MOD == 0
        if in_a and in_b:
            st = "changed" if edited else "unchanged"
        elif in_a:
            st = "removed"
        elif in_b:
            st = "added"
        else:
            continue
        expected[(src, st)] += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(
        co, "load_table", lambda s, d, n: df if n == "documents" else None
    )
    got = {
        (r["source"], r["status"]): r["n_docs"]
        for r in co.corpus_snapshot_diff(spark, "unused").collect()
    }
    assert got == dict(expected)


def test_snapshot_novelty_pins_recycled_vs_new_text(spark, monkeypatch):
    """An added doc whose text is an exact copy of a snapshot-A doc has
    novelty 0 ppm; an added doc of entirely unseen tokens has novelty
    1e6 ppm; shingle counts equal n_toks - SHINGLE_N + 1. Membership
    ids are discovered by replaying the md5 arithmetic in Python."""
    import hashlib

    import real_time_fraud_detection_system_spark.operators.corpusops as co
    from real_time_fraud_detection_system_spark.functions.text import (
        SHINGLE_N,
    )

    def member(tag, i):
        h = int(hashlib.md5(f"{tag}:{i}".encode()).hexdigest()[:8], 16)
        return h % co.SNAP_MOD < co.SNAP_KEEP

    ids = range(500)
    added = [i for i in ids if member("snapB", i) and not member("snapA", i)]
    in_a = [i for i in ids if member("snapA", i)]
    assert len(added) >= 2 and len(in_a) >= 1
    base_toks = [f"t{j}" for j in range(12)]
    new_toks = [f"u{j}" for j in range(10)]
    rows = [
        (in_a[0], " ".join(base_toks), "en", "sa", 1),      # snapshot-A text
        (added[0], " ".join(base_toks), "en", "s0", 1),     # recycled copy
        (added[1], " ".join(new_toks), "en", "s1", 1),      # genuinely new
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    import real_time_fraud_detection_system_spark.operators.dedup as dd

    monkeypatch.setattr(
        co, "load_table", lambda s, d, n: df if n == "documents" else None
    )
    monkeypatch.setattr(
        dd, "load_table", lambda s, d, n: df if n == "documents" else None
    )
    got = {r["source"]: r for r in co.snapshot_novelty(spark, "unused").collect()}
    assert got["s0"]["n_added_docs"] == 1
    assert got["s0"]["n_shingles"] == len(base_toks) - SHINGLE_N + 1
    assert got["s0"]["novelty_ppm"] == 0
    assert got["s1"]["n_shingles"] == len(new_toks) - SHINGLE_N + 1
    assert got["s1"]["n_novel"] == got["s1"]["n_shingles"]
    assert got["s1"]["novelty_ppm"] == 1_000_000


def test_ann_tombstone_live_and_compact(spark, sf_dir):
    """The ANN removal path (twin of the dedup index tombstones): a
    tombstoned vector must vanish from search results within one
    live_ann_members read, equality must hold against a manual
    filter of the same member table (centroids fixed, so removal
    cannot move surviving cells), appends must be idempotent, and
    compaction must reconcile row-for-row and leave search results
    unchanged."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_spark.catalog import load_table
    from real_time_fraud_detection_system_spark.operators.similarity import (
        ann_search,
        compact_ann_index,
        live_ann_members,
        persist_ann_index,
        tombstone_ann_index,
    )

    try:
        cents, members = persist_ann_index(spark, sf_dir, prefix="t_annt")
        queries = (
            load_table(spark, sf_dir, "embeddings")
            .filter("vec_id < 5")
            .selectExpr("vec_id", "embedding AS emb")
        )
        removed = (
            load_table(spark, sf_dir, "embeddings")
            .filter("vec_id % 9 = 7")
            .select("vec_id")
        )
        n_removed = removed.count()
        assert n_removed > 0
        assert tombstone_ann_index(spark, removed, prefix="t_annt") == n_removed
        assert tombstone_ann_index(spark, removed, prefix="t_annt") == 0

        live = live_ann_members(spark, "t_annt")
        got = [tuple(r) for r in ann_search(cents, live, queries).collect()]
        manual = members.join(
            removed.withColumnRenamed("vec_id", "m_id"), "m_id", "left_anti"
        )
        want = [
            tuple(r) for r in ann_search(cents, manual, queries).collect()
        ]
        assert got == want
        dead = {r["vec_id"] for r in removed.collect()}
        assert not any(r[1] in dead for r in got)
        # removal must actually change at least one result set
        before = [
            tuple(r) for r in ann_search(cents, members, queries).collect()
        ]
        assert got != before

        n_member_dead = members.join(
            removed.withColumnRenamed("vec_id", "m_id"), "m_id", "left_semi"
        ).count()
        funnel = compact_ann_index(spark, "t_annt")
        assert funnel["n_tombstones"] == n_removed
        assert funnel["members_rows_dropped"] == n_member_dead
        assert not spark.catalog.tableExists("t_annt_tomb")
        after = [
            tuple(r)
            for r in ann_search(
                cents, live_ann_members(spark, "t_annt"), queries
            ).collect()
        ]
        assert after == want
    finally:
        for t in ("t_annt_cents", "t_annt_members", "t_annt_tomb"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ann_index_stats_matches_real_lifecycle(spark, sf_dir):
    """ann_index_stats (the registry face of the ANN tombstone
    accounting) must agree row-for-row with what the REAL lifecycle
    operations do: build the persisted IVF index, tombstone exactly
    the snapB-removed vec_ids, and check every reported count against
    the actual member/live/cell tables."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_spark.catalog import load_table
    from real_time_fraud_detection_system_spark.operators.corpusops import (
        _snap_member_spark,
    )
    from real_time_fraud_detection_system_spark.operators.similarity import (
        ann_index_stats,
        live_ann_members,
        persist_ann_index,
        tombstone_ann_index,
    )

    try:
        got = ann_index_stats(spark, sf_dir).collect()[0]
        cents, members = persist_ann_index(spark, sf_dir, prefix="t_anns")
        removed = (
            load_table(spark, sf_dir, "embeddings")
            .filter(f"NOT ({_snap_member_spark('snapB', 'vec_id')})")
            .select("vec_id")
        )
        n_rm = tombstone_ann_index(spark, removed, prefix="t_anns")
        live = live_ann_members(spark, "t_anns")

        assert got["n_vectors"] == members.count()
        assert got["n_removed"] == n_rm > 0
        assert got["n_live_members"] == live.count()
        assert got["n_centroids"] == cents.count()
        assert got["n_cells"] == members.select("c_id").distinct().count()
        assert (
            got["n_live_cells"] == live.select("c_id").distinct().count()
        )
        assert got["cells_emptied"] == got["n_cells"] - got["n_live_cells"]
        assert (
            got["removed_ppm"]
            == got["n_removed"] * 1_000_000 // got["n_vectors"]
        )
    finally:
        for t in ("t_anns_cents", "t_anns_members", "t_anns_tomb"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
