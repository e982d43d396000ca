"""intrinsic_dim_twonn (estimator behavior + duplicate exclusion) and
source_epoch_plan (hand-computed integer arithmetic on a skewed
corpus) -- the two round-10 planning/geometry operators."""

import numpy as np

from real_time_fraud_detection_system_spark.operators.corpusops import (
    source_epoch_plan,
)
from real_time_fraud_detection_system_spark.operators.similarity import (
    intrinsic_dim_twonn,
)


def _write_embeddings(spark, tmp_path, mat, name):
    sf = tmp_path / name
    sf.mkdir()
    rows = [(i, [float(x) for x in mat[i]], 0) for i in range(len(mat))]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(sf / "embeddings.parquet"))
    return str(sf)


def test_twonn_recovers_manifold_dimension(spark, tmp_path):
    """Points drawn on a 2-D plane embedded in 8-D must read ~2;
    full-rank 8-D Gaussian points must read much higher. TwoNN only
    sees local nearest-neighbor ratios, so the estimate tracks the
    manifold, not the ambient space -- the property the operator
    exists to measure."""
    rng = np.random.default_rng(7)
    basis = rng.normal(size=(2, 8))
    planar = rng.normal(size=(400, 2)) @ basis
    full = rng.normal(size=(400, 8))

    sf2 = _write_embeddings(spark, tmp_path, planar, "planar")
    sf8 = _write_embeddings(spark, tmp_path, full, "full")
    est2 = intrinsic_dim_twonn(spark, sf2).collect()[0]
    est8 = intrinsic_dim_twonn(spark, sf8).collect()[0]
    assert est2["n_points"] == 64
    assert 1300 <= est2["id_milli"] <= 2900, est2["id_milli"]
    assert est8["id_milli"] >= 4500, est8["id_milli"]
    assert est8["id_milli"] > est2["id_milli"]


def test_twonn_excludes_zero_distance_duplicates(spark, tmp_path):
    """Exact duplicate vectors have distance 0 and would blow up the
    ratio; the estimator's definition drops them from the neighbor
    ranking (r1 comes from the nearest DISTINCT point)."""
    pts = np.array(
        [[0.0, 0.0], [0.0, 0.0], [1.0, 0.0], [3.0, 0.0], [7.0, 0.0]]
    )
    sf = _write_embeddings(spark, tmp_path, pts, "dups")
    row = intrinsic_dim_twonn(spark, sf).collect()[0]
    # every sampled point found two positive-distance neighbors
    assert row["n_points"] == 5
    assert row["sum_log_mu_fp"] > 0


def test_source_epoch_plan_integer_arithmetic(spark, tmp_path):
    """Skewed corpus, every number hand-derived: two sources of 4
    tokens, one of 40 -- budget = 4 * 48 = 192, uniform share =
    192 DIV 3 = 64. Small sources cap at 4 epochs (16 tokens),
    shortfall 48; the big one trains 1.6 epochs uncapped."""
    rows = (
        [(i, "a b c d", "en", "small1", 7) for i in range(1)]
        + [(10 + i, "e f g h", "en", "small2", 7) for i in range(1)]
        + [(100 + i, "t u v w", "en", "big", 7) for i in range(10)]
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.parquet(str(sf / "documents.parquet"))

    got = {
        r["source"]: (
            r["n_tokens"],
            r["target_tokens"],
            r["allocated_tokens"],
            r["epochs_milli"],
            r["capped"],
            r["shortfall_tokens"],
        )
        for r in source_epoch_plan(spark, str(sf)).collect()
    }
    assert got == {
        "small1": (4, 64, 16, 4000, 1, 48),
        "small2": (4, 64, 16, 4000, 1, 48),
        "big": (40, 64, 64, 1600, 0, 0),
    }


def test_snapshot_quality_drift_detects_engineered_shift(spark, tmp_path):
    """A dump whose ADDED docs are stopword-sludge while the surviving
    docs are high-quality must alert; a source whose composition is
    unchanged must not. Membership ids derived from the md5 rule and
    re-asserted so a constant drift fails loudly."""
    import hashlib

    from real_time_fraud_detection_system_spark.operators.corpusops import (
        snapshot_quality_drift,
    )

    def in_snap(tag, i):
        h = hashlib.md5(f"{tag}:{i}".encode()).hexdigest()[:8]
        return int(h, 16) % 10 < 9

    both = [0, 1, 3, 5, 6, 7, 8, 9, 10, 11, 13, 14, 15, 18, 19, 20]
    b_only = [4, 17, 25, 62, 66, 124, 125, 126]
    for i in both:
        assert in_snap("snapA", i) and in_snap("snapB", i)
    for i in b_only:
        assert in_snap("snapB", i) and not in_snap("snapA", i)

    good = " ".join(f"w{k}" for k in range(60))  # unique tokens, long
    bad = "the a of and to in the a of and to in"  # pure stopwords
    rows = (
        # drifting source: stable good docs + sludge arriving in B
        [(i, good, "en", "drifting", len(good)) for i in both]
        + [(i, bad, "en", "drifting", len(bad)) for i in b_only]
        # stable source: same-quality docs in both snapshots
        + [(1000 + i, good, "en", "stable", len(good)) for i in both]
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.parquet(str(sf / "documents.parquet"))

    got = {
        r["source"]: (r["psi"], r["drifted"])
        for r in snapshot_quality_drift(spark, str(sf)).collect()
    }
    assert got["drifting"][1] == 1, got
    assert got["stable"][1] == 0, got
    assert got["drifting"][0] > got["stable"][0] >= 0.0


def test_label_centroid_separation_engineered_classes(spark, tmp_path):
    """Two tight clusters on orthogonal directions are separable; a
    third label sharing the first's direction is not separable from
    it (centroid cosine ~1 > intra cohesion)."""
    from real_time_fraud_detection_system_spark.operators.similarity import (
        label_centroid_separation,
    )

    def jig(i, base):  # tight jitter around a direction
        out = list(base)
        out[3] = 0.01 * (i % 3)
        return out

    ax = [1.0, 0.0, 0.0, 0.0]
    ay = [0.0, 1.0, 0.0, 0.0]
    rows = (
        [(i, jig(i, ax), 0) for i in range(10)]
        + [(100 + i, jig(i, ay), 1) for i in range(10)]
        + [(200 + i, jig(i, ax), 2) for i in range(10)]
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(sf / "embeddings.parquet"))

    got = {
        (r["label_a"], r["label_b"]): (r["centroid_cos_ppm"], r["separable"])
        for r in label_centroid_separation(spark, str(sf)).collect()
    }
    assert got[(0, 1)][1] == 1 and got[(1, 2)][1] == 1
    assert got[(0, 2)][1] == 0  # same direction: not separable
    assert got[(0, 2)][0] > 990000  # centroids nearly identical
    assert abs(got[(0, 1)][0]) < 100000  # near-orthogonal


def test_weighted_sample_topk_matches_hand_reference(spark, tmp_path):
    """A-Res keys hand-computed in Python (hashlib + math.log) must
    reproduce the engine's sample exactly, and heavy docs must
    dominate the sample (weight-proportional inclusion)."""
    import hashlib
    import math

    from real_time_fraud_detection_system_spark.operators.mlqueries import (
        WSAMPLE_K,
        weighted_sample_topk,
    )

    def key_fp(doc_id, w):
        u = int(
            hashlib.md5(f"wsample:{doc_id}".encode()).hexdigest()[:8], 16
        )
        return round(math.log((u + 1) / 4294967297.0) / w * 1e9)

    # one source: 200 light docs (w=10) + 5 heavy docs (w=10000)
    rows = [(i, "t", "en", "s", 10) for i in range(200)] + [
        (1000 + i, "t", "en", "s", 10000) for i in range(5)
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.parquet(str(sf / "documents.parquet"))

    got = [
        (r["rank"], r["doc_id"], r["key_fp"])
        for r in weighted_sample_topk(spark, str(sf)).collect()
    ]
    want = sorted(
        ((key_fp(d, w), d) for d, w in [(r[0], r[4]) for r in rows]),
        key=lambda kw: (-kw[0], kw[1]),
    )[:WSAMPLE_K]
    assert got == [
        (i + 1, d, k) for i, (k, d) in enumerate(want)
    ]
    heavy_sampled = sum(1 for _, d, _k in got if d >= 1000)
    assert heavy_sampled >= 3  # 1000x weight dominates the sample


def test_prefix_filter_is_exact_and_supersets_lsh(spark, sf_dir, tmp_path):
    """The completeness lemma, executed: prefix-filter pairs must equal
    BRUTE-FORCE exact-Jaccard pairs on a hand corpus (recall 1.0, the
    property LSH cannot give), and on the fixture corpus must be a
    superset of the LSH pairs at the same threshold."""
    from real_time_fraud_detection_system_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        SHINGLE_N,
        dedup_minhash_lsh,
        dedup_prefix_filter,
    )

    # hand corpus: near-dup pairs at varying overlap around t=0.5
    base = [f"w{k}" for k in range(12)]
    texts = {
        1: " ".join(base),
        2: " ".join(base[:10] + ["x1", "x2"]),  # high overlap
        3: " ".join(base[:6] + [f"y{k}" for k in range(6)]),  # ~boundary
        4: " ".join(f"z{k}" for k in range(12)),  # disjoint
        5: " ".join(base),  # exact dup of 1
    }
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(str(sf / "documents.parquet"))

    def shingles(t):
        toks = t.split(" ")
        return {
            " ".join(toks[i:i + SHINGLE_N])
            for i in range(len(toks) - SHINGLE_N + 1)
        }

    want = []
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa, sb = shingles(texts[a]), shingles(texts[b])
            j = len(sa & sb) / len(sa | sb)
            if j >= JACCARD_THRESHOLD:
                want.append((a, b, round(j, 6)))
    got = [tuple(r) for r in dedup_prefix_filter(spark, str(sf)).collect()]
    assert got == sorted(want)
    assert want, "hand corpus must contain qualifying pairs"

    # fixture corpus: exact pairs ⊇ LSH pairs (LSH may miss, never add)
    exact = {
        (r["a_id"], r["b_id"])
        for r in dedup_prefix_filter(spark, sf_dir).collect()
    }
    lsh = {
        (r["a_id"], r["b_id"])
        for r in dedup_minhash_lsh(spark, sf_dir).collect()
    }
    assert lsh <= exact
    assert exact, "fixture must contain near-dup pairs"


def test_bm25_topk_matches_hand_reference(spark, tmp_path):
    """Okapi BM25 replayed in Python must reproduce the engine's
    ranking and fixed-point scores exactly; a doc holding the RARE
    query term must outrank docs holding only the common one."""
    import math

    from real_time_fraud_detection_system_spark.operators.textops import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
        bm25_topk,
    )

    texts = {
        1: "dup alpha beta gamma",          # rare term, short doc
        2: "join join join alpha beta",     # common term, repeated
        3: "join window alpha beta gamma",  # two common terms
        4: "alpha beta gamma delta",        # no query terms
        5: "join alpha beta gamma delta epsilon zeta eta",  # long doc
    }
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(str(sf / "documents.parquet"))

    toks = {i: t.split(" ") for i, t in texts.items()}
    n_docs = len(texts)
    avgdl = sum(len(v) for v in toks.values()) / n_docs
    df = {
        t: sum(1 for v in toks.values() if t in v)
        for t in BM25_TERMS
    }
    want = {}
    for i, v in toks.items():
        s = 0
        for t in BM25_TERMS:
            tf = v.count(t)
            if not tf:
                continue
            idf = math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
            s += round(
                idf * tf * (BM25_K1 + 1.0)
                / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * len(v) / avgdl))
                * 1e6
            )
        if s:
            want[i] = s
    got = [
        (r["doc_id"], r["score_fp"])
        for r in bm25_topk(spark, str(sf)).collect()
    ]
    assert got == sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    assert 4 not in dict(got)  # no-term doc never scores
    # one hit of the df=1 term outranks one hit of the df=3 term at
    # comparable length (idf ordering)
    assert dict(got)[1] > dict(got)[5]


def test_position_attribution_hand_journeys(spark, tmp_path, monkeypatch):
    """Every share branch hand-computed on one user's journeys:
    0 touches (direct), 1 (100%), 2 (50/50), and 5 (40/20/40 with the
    middle's floor-DIV remainder going to the EARLIEST middles), and
    per-purchase credit sums exactly to the purchase value."""
    import datetime as dt

    import real_time_fraud_detection_system_spark.operators.stats as st

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0

    def ev(minute, etype, value=0.0):
        nonlocal eid
        eid += 1
        rows.append((eid, t0 + dt.timedelta(minutes=minute), 1, etype,
                     value, None))

    ev(0, "purchase", 1.00)            # journey 0: no touches -> direct
    ev(10, "click"); ev(20, "purchase", 2.00)          # 1 touch: 100%
    ev(30, "click"); ev(40, "view"); ev(50, "purchase", 3.00)  # 50/50
    for et in ("click", "view", "error", "view", "click"):
        ev(60 + eid, et)
    ev(200, "purchase", 3.00)  # 5 touches: 40 / (66667,66667,66666)ppm*20% / 40
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string")
    monkeypatch.setattr(st, "load_table", lambda s, d, n: df)

    got = {
        r["touch_type"]: (r["n_touches"], r["credited_cents"])
        for r in st.position_attribution(spark, "x").collect()
    }
    # journey 3 (cents=300): first click 40% = 120; middles view/error/
    # view split 20% = 60 -> ppm 66667/66667/66666 -> floor cents
    # 20/20/19 (per-touch credit_fp floors only at the final rollup,
    # so exactness holds at the fp level; the rollup sums fp first)
    # per touch_type totals:
    #   direct: 100
    #   click: j1 200 + j2 150 + j4 first 120 + j4 last 120 = 590
    #   view:  j2 150 + j4 middles 300*66667ppm + 300*66666ppm
    #   error: 300*66667ppm
    fp = {
        "direct": 100 * 1000000,
        "click": 200 * 1000000 + 150 * 1000000 + 120 * 1000000 * 2,
        "view": 150 * 1000000 + 300 * 66667 + 300 * 66666,
        "error": 300 * 66667,
    }
    want = {k: v // 1000000 for k, v in fp.items()}
    assert {k: v[1] for k, v in got.items()} == want
    assert got["click"][0] == 4 and got["view"][0] == 3
    # the ppm shares of every journey sum to exactly 1e6 (here: the
    # credited fp across all types equals total purchase cents * 1e6)
    assert sum(fp.values()) == (100 + 200 + 300 + 300) * 1000000


def test_top_session_paths_hand_sessions(spark, monkeypatch):
    """Hand-built sessions: gap splits, step ordering with timestamp
    ties (event_id tie-break), opening-path truncation at 5 steps, and
    exact floor-ppm shares."""
    import datetime as dt

    import real_time_fraud_detection_system_spark.operators.sessionize as sz

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0

    def ev(user, minute, etype):
        nonlocal eid
        eid += 1
        rows.append((eid, t0 + dt.timedelta(minutes=minute), user, etype,
                     1.0, None))

    # user 1, session A: click>view ; session B after 31-min gap: view
    ev(1, 0, "click"); ev(1, 1, "view"); ev(1, 40, "view")
    # user 2: same instant events -> event_id order; 7 steps truncate
    for i, et in enumerate(
        ("click", "view", "click", "view", "click", "view", "error")
    ):
        ev(2, 0 if i < 2 else i, et)
    # user 3: another click>view session
    ev(3, 0, "click"); ev(3, 2, "view")
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string")
    monkeypatch.setattr(sz, "load_table", lambda s, d, n: df)

    got = [
        (r["path"], r["n_sessions"], r["share_ppm"])
        for r in sz.top_session_paths(spark, "x").collect()
    ]
    # 4 sessions total: click>view x2, view x1, truncated 5-step x1
    assert got == [
        ("click>view", 2, 500000),
        ("click>view>click>view>click", 1, 250000),
        ("view", 1, 250000),
    ]


def test_hll_shingle_cardinality_bounds_and_linear_counting(
    spark, sf_dir, tmp_path
):
    """The HLL estimate must sit within sketch error of the exact
    count on every fixture source (a rho/bucket bug throws estimates
    off by orders of magnitude, not percent), and a tiny corpus must
    take the linear-counting branch with a value replayed exactly in
    Python."""
    import hashlib
    import math

    from real_time_fraud_detection_system_spark.operators.sketches import (
        hll_shingle_cardinality,
    )

    rows = hll_shingle_cardinality(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert abs(r["err_ppm"]) < 250_000, (r["source"], r["err_ppm"])
        assert r["hll_est"] > 0

    # linear-counting branch: few shingles, hand-replayed exactly
    text = "a b c d e f g h i j k l"
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(str(sf / "documents.parquet"))

    toks = text.split(" ")
    shingles = {
        " ".join(toks[i:i + 3]) for i in range(len(toks) - 2)
    }
    hs = {
        int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
        for s in shingles
    }
    occupied = len({h % 256 for h in hs})
    want = round(256 * math.log(256 / (256 - occupied)))
    got = hll_shingle_cardinality(spark, str(sf)).collect()
    assert [(r["source"], r["n_exact"], r["hll_est"]) for r in got] == [
        ("s", len(hs), want)
    ]


def test_hll_registers_merge_by_max(spark, sf_dir):
    """The mergeable-dump claim, executed: registers built on two
    disjoint shards and merged by max must equal the registers built
    on the union -- hence identical estimates without re-reading the
    data."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_spark.operators.dedup import (
        _source_shingle_table,
    )
    from real_time_fraud_detection_system_spark.operators.sketches import (
        hll_registers,
    )

    dist = _source_shingle_table(spark, sf_dir).select(
        F.explode("ss").alias("source"), "h"
    )
    a = dist.filter("h % 2 = 0")
    b = dist.filter("h % 2 = 1")
    merged = (
        hll_registers(a)
        .unionByName(hll_registers(b))
        .groupBy("source", "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    union_regs = hll_registers(dist)
    got = sorted(tuple(r) for r in merged.collect())
    want = sorted(tuple(r) for r in union_regs.collect())
    assert got == want and want
