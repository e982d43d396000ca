"""Persisted lexical (postings) index lifecycle -- the retrieval twin
of the dedup/ANN persisted indexes (round-11 verdict Next #3): build
once (persist_text_index), probe many with zero corpus rescans
(bm25_search, plan-asserted), append streamed shards idempotently
(text_index_sink_writer), tombstone removals without rebuilds, compact,
and fuse with the persisted ANN index (hybrid_search)."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from real_time_fraud_detection_system_spark.catalog import load_table
from real_time_fraud_detection_system_spark.operators.textops import (
    BM25_TERMS,
    BM25_TOPK,
    _bm25_rank,
    bm25_indexed_topk,
    bm25_search,
    bm25_topk,
    build_postings,
    build_text_stats,
    compact_text_index,
    live_text_index,
    persist_text_index,
    tombstone_text_index,
)

PREFIX = "t_text_idx"


def _drop_index(spark, prefix=PREFIX):
    for part in ("post", "doc", "stats", "tomb"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{part}")


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _fresh_bm25(docs, terms, k=BM25_TOPK):
    """bm25_topk's exact pipeline over an arbitrary docs frame -- the
    ground truth the index probe must reproduce bit-for-bit."""
    tf = build_postings(docs).filter(F.col("t").isin(list(terms)))
    qmap = docs.sparkSession.createDataFrame(
        [(0, t) for t in terms], "q_id int, t string"
    )
    return _bm25_rank(tf, qmap, build_text_stats(docs), k).select(
        "doc_id", "score_fp"
    )


def test_indexed_topk_equals_fresh(spark, sf_dir):
    """The memo-backed registry twin must reproduce bm25_topk
    exactly (it also shares bm25_topk's oracle in CORRECTNESS)."""
    assert _rows(bm25_indexed_topk(spark, sf_dir)) == _rows(
        bm25_topk(spark, sf_dir)
    )


def test_persisted_search_equals_fresh_and_skips_corpus(spark, sf_dir):
    """bm25_search over the catalog index: value-identical to the
    fresh build, and the probe plan (a) never scans the documents
    parquet, (b) reads the postings bucketed, (c) pushes the term
    predicate to the scan."""
    docs = load_table(spark, sf_dir, "documents")
    try:
        persist_text_index(docs, prefix=PREFIX)
        got = bm25_search(spark, BM25_TERMS, prefix=PREFIX)
        assert _rows(got) == _rows(bm25_topk(spark, sf_dir))

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            got.explain("formatted")
        plan = buf.getvalue()
        assert "documents.parquet" not in plan  # zero corpus rescans
        assert "Bucketed: true" in plan
        assert "PushedFilters" in plan and "In(t, " in plan
    finally:
        _drop_index(spark)


def test_append_leg_is_idempotent_and_exact(spark, sf_dir):
    """text_index_sink_writer: batches land incrementally, a replayed
    epoch adds nothing, and after all batches the probe is
    bit-identical to a one-shot index over the full corpus."""
    from real_time_fraud_detection_system_spark.streaming.jobs import (
        text_index_sink_writer,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = docs.filter("doc_id % 3 = 0")
    b1 = docs.filter("doc_id % 3 = 1")
    b2 = docs.filter("doc_id % 3 = 2")
    writer = text_index_sink_writer(prefix=PREFIX)
    try:
        writer(docs.limit(0), 0)  # empty first batch: must no-op
        assert not spark.catalog.tableExists(f"{PREFIX}_doc")
        writer(b0, 1)
        writer(b1, 2)
        writer(b1, 2)  # replayed epoch: membership gate, no dupes
        n_docs_2 = spark.table(f"{PREFIX}_doc").count()
        assert n_docs_2 == b0.count() + b1.count()
        writer(b2, 3)

        got = bm25_search(spark, BM25_TERMS, prefix=PREFIX)
        assert _rows(got) == _rows(bm25_topk(spark, sf_dir))
        # stats log: one consolidated row from the bootstrap persist
        # + one delta per non-replayed later batch
        assert spark.table(f"{PREFIX}_stats").count() == 3
    finally:
        _drop_index(spark)


def test_discovered_topk_picks_midfreq_terms_and_matches_fresh(spark, sf_dir):
    """bm25_discovered_topk: the run-time term pick must equal a
    Python replay of the rule (df closest to n_docs DIV 10, ties by
    term), and the ranking must be bit-identical to the fresh BM25
    pipeline run over exactly those terms -- the arbitrary-term probe
    path is the same _bm25_rank core, just fed a discovered slice."""
    from real_time_fraud_detection_system_spark.operators.textops import (
        BM25_DISC_DF_DIV,
        BM25_DISC_TERMS_K,
        bm25_discovered_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    dfs = {
        r["t"]: r["df"]
        for r in build_postings(docs)
        .groupBy("t")
        .agg(F.count("*").alias("df"))
        .collect()
    }
    target = n_docs // BM25_DISC_DF_DIV
    picked = sorted(dfs, key=lambda t: (abs(dfs[t] - target), t))[
        :BM25_DISC_TERMS_K
    ]
    got = _rows(bm25_discovered_topk(spark, sf_dir))
    assert got == _rows(_fresh_bm25(docs, picked))
    assert len(got) > 0


def test_sink_reindexes_tombstoned_doc_with_new_content(spark, sf_dir):
    """The ADVICE-r12 gap: a doc tombstoned (removed/changed) and
    then RE-INGESTED before compaction must NOT be silently skipped
    -- the sink folds the pending tombstones first (the only
    append-only-exact resolution: dropping the tombstone would
    resurrect the old posting rows) and then indexes the new
    content. The probe must equal a fresh index over the corpus with
    the doc's NEW text, and a replay of the same epoch stays a
    no-op."""
    from real_time_fraud_detection_system_spark.streaming.jobs import (
        text_index_sink_writer,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    changed_id = docs.selectExpr("min(doc_id) AS m").collect()[0]["m"]
    new_text = " ".join(BM25_TERMS) + " entirely rewritten body"
    changed = spark.createDataFrame(
        [(changed_id, new_text)], "doc_id long, text string"
    )
    writer = text_index_sink_writer(prefix=PREFIX)
    try:
        writer(docs, 0)  # bootstrap index over the full corpus
        assert (
            tombstone_text_index(spark, changed.select("doc_id"),
                                 prefix=PREFIX) == 1
        )
        writer(changed, 1)  # re-ingest BEFORE any scheduled compaction
        # the pending tombstones were folded, then the new content
        # landed: exactly one row for the doc, with the NEW length
        got_dl = spark.table(f"{PREFIX}_doc").filter(
            F.col("doc_id") == changed_id
        ).collect()
        assert len(got_dl) == 1
        assert got_dl[0]["dl"] == len(new_text.split(" "))
        assert not spark.catalog.tableExists(f"{PREFIX}_tomb")

        want_docs = docs.filter(
            F.col("doc_id") != changed_id
        ).unionByName(changed)
        got = bm25_search(spark, BM25_TERMS, prefix=PREFIX)
        assert _rows(got) == _rows(_fresh_bm25(want_docs, BM25_TERMS))

        n_before = spark.table(f"{PREFIX}_doc").count()
        writer(changed, 1)  # replayed epoch: live member now, no-op
        assert spark.table(f"{PREFIX}_doc").count() == n_before
    finally:
        _drop_index(spark)


def test_tombstone_live_compact_lifecycle(spark, sf_dir):
    """Tombstoned docs vanish from the probe EXACTLY as if the index
    had been rebuilt without them (stats subtraction included --
    scores depend on N/avgdl/df, so this is the sharp check);
    tombstoning is idempotent per id; compaction folds to the same
    answers with a reconciling funnel and a consolidated stats row."""
    docs = load_table(spark, sf_dir, "documents")
    removed = docs.filter("doc_id % 7 = 0").select("doc_id")
    live_docs = docs.filter("doc_id % 7 <> 0")
    try:
        persist_text_index(docs, prefix=PREFIX)
        n_removed = removed.count()
        assert n_removed > 0
        assert (
            tombstone_text_index(spark, removed, prefix=PREFIX)
            == n_removed
        )
        assert (
            tombstone_text_index(spark, removed, prefix=PREFIX) == 0
        )  # idempotent

        want = _rows(_fresh_bm25(live_docs, BM25_TERMS))
        assert _rows(bm25_search(spark, BM25_TERMS, prefix=PREFIX)) == want

        funnel = compact_text_index(spark, prefix=PREFIX)
        assert funnel["n_tombstones"] == n_removed
        for part in ("post", "doc"):
            assert (
                funnel[f"{part}_rows_before"]
                - funnel[f"{part}_rows_dropped"]
                == funnel[f"{part}_rows_after"]
            )
        assert funnel["doc_rows_dropped"] == n_removed
        assert not spark.catalog.tableExists(f"{PREFIX}_tomb")
        assert spark.table(f"{PREFIX}_stats").count() == 1
        # post-compact probe keeps the bucket-pruned zero-rescan shape
        # (explain the REAL probe: a bare filter scan legitimately
        # skips bucketed reading under autoBucketedScan)
        probe = bm25_search(spark, BM25_TERMS, prefix=PREFIX)
        assert _rows(probe) == want
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            probe.explain("formatted")
        plan = buf.getvalue()
        assert "documents.parquet" not in plan
        assert "Bucketed: true" in plan
    finally:
        _drop_index(spark)


def test_compaction_rerun_repairs_a_crash_after_the_doc_rewrite(
    spark, sf_dir, monkeypatch
):
    """Crash consistency of compact_text_index: the doc-part rewrite
    completes and then the process dies, before the stats log is
    consolidated. Running the compaction again must leave the stats
    equal to build_text_stats of the live docs and bm25_search equal
    to a fresh BM25 over them."""
    import real_time_fraud_detection_system_spark.storage as storage

    docs = load_table(spark, sf_dir, "documents")
    removed = docs.filter("doc_id % 5 = 0").select("doc_id")
    live_docs = docs.filter("doc_id % 5 <> 0")
    real_write = storage.write_bucketed

    def crash_after_doc_rewrite(df, table, keys):
        out = real_write(df, table, keys)
        if table == f"{PREFIX}_doc":
            raise RuntimeError("crash after the doc rewrite")
        return out

    try:
        persist_text_index(docs, prefix=PREFIX)
        assert tombstone_text_index(spark, removed, prefix=PREFIX) > 0
        monkeypatch.setattr(storage, "write_bucketed", crash_after_doc_rewrite)
        with pytest.raises(RuntimeError, match="crash after the doc rewrite"):
            compact_text_index(spark, prefix=PREFIX)
        monkeypatch.setattr(storage, "write_bucketed", real_write)

        compact_text_index(spark, prefix=PREFIX)
        assert _rows(spark.table(f"{PREFIX}_stats")) == _rows(
            build_text_stats(live_docs)
        )
        assert spark.table(f"{PREFIX}_doc").count() == live_docs.count()
        assert _rows(bm25_search(spark, BM25_TERMS, prefix=PREFIX)) == _rows(
            _fresh_bm25(live_docs, BM25_TERMS)
        )
    finally:
        _drop_index(spark)


def test_hybrid_search_fuses_both_persisted_indexes(spark, sf_dir):
    """hybrid_search == hand-RRF of its two component probes (the
    test_hybrid_retrieval discipline applied to the persisted form),
    and a tombstoned doc disappears from the fused ranking."""
    from real_time_fraud_detection_system_spark.operators.similarity import (
        HYBRID_RRF_K,
        ann_search,
        hybrid_search,
        live_ann_members,
        persist_ann_index,
        tombstone_ann_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    q_emb = [
        float(x)
        for x in load_table(spark, sf_dir, "embeddings")
        .filter("vec_id = 0")
        .select("embedding")
        .collect()[0]["embedding"]
    ]
    ann_prefix = "t_text_ann_idx"
    try:
        persist_text_index(docs, prefix=PREFIX)
        persist_ann_index(spark, sf_dir, prefix=ann_prefix)

        got = hybrid_search(
            spark,
            BM25_TERMS,
            q_emb,
            text_prefix=PREFIX,
            ann_prefix=ann_prefix,
        ).collect()

        lex = bm25_search(spark, BM25_TERMS, prefix=PREFIX).collect()
        lex_rank = {
            r["doc_id"]: i + 1
            for i, r in enumerate(
                sorted(lex, key=lambda r: (-r["score_fp"], r["doc_id"]))
            )
        }
        q = spark.createDataFrame(
            [(-1, q_emb)], "vec_id bigint, emb array<double>"
        )
        sem = ann_search(
            spark.table(f"{ann_prefix}_cents"),
            live_ann_members(spark, ann_prefix),
            q,
        ).collect()
        sem_rank = {r["neighbor_id"]: r["rank"] for r in sem}
        fused = {}
        for d in set(lex_rank) | set(sem_rank):
            fused[d] = (
                (1000000 // (HYBRID_RRF_K + lex_rank[d]))
                if d in lex_rank
                else 0
            ) + (
                (1000000 // (HYBRID_RRF_K + sem_rank[d]))
                if d in sem_rank
                else 0
            )
        want = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[
            : len(got)
        ]
        assert [
            (r["doc_id"], r["rrf_fp"]) for r in got
        ] == want
        assert got and all(r["rrf_fp"] > 0 for r in got)

        # a takedown tombstoned on BOTH indexes leaves the fusion
        dead = int(got[0]["doc_id"])
        dead_df = spark.createDataFrame([(dead,)], "doc_id bigint")
        tombstone_text_index(spark, dead_df, prefix=PREFIX)
        tombstone_ann_index(
            spark,
            dead_df.selectExpr("doc_id AS vec_id"),
            prefix=ann_prefix,
        )
        after = hybrid_search(
            spark,
            BM25_TERMS,
            q_emb,
            text_prefix=PREFIX,
            ann_prefix=ann_prefix,
        ).collect()
        assert dead not in {r["doc_id"] for r in after}
    finally:
        _drop_index(spark)
        for part in ("cents", "members", "tomb"):
            spark.sql(f"DROP TABLE IF EXISTS {ann_prefix}_{part}")


def test_hybrid_search_batch_equals_per_query_and_sink_is_replay_stable(
    spark, sf_dir, tmp_path
):
    """The batched request-frame form must reproduce hybrid_search
    PER QUERY row-for-row (same indexes, same k), and the streaming
    sink must (a) land each epoch's answers under its own partition,
    (b) serve a REPLAYED epoch its originally committed answers even
    after the indexes changed (first-write-wins), (c) no-op on empty
    batches."""
    from real_time_fraud_detection_system_spark.operators.similarity import (
        hybrid_search,
        hybrid_search_batch,
        persist_ann_index,
        tombstone_ann_index,
    )
    from real_time_fraud_detection_system_spark.streaming.jobs import (
        hybrid_query_sink_writer,
    )

    docs = load_table(spark, sf_dir, "documents")
    embs = load_table(spark, sf_dir, "embeddings")
    q_embs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in embs.filter("vec_id < 2").collect()
    }
    queries = [
        (0, list(BM25_TERMS), q_embs[0]),
        (1, ["dup", "sort"], q_embs[1]),
    ]
    ann_prefix = "t_text_ann_idx"
    out_dir = str(tmp_path / "hybrid_out")
    try:
        persist_text_index(docs, prefix=PREFIX)
        persist_ann_index(spark, sf_dir, prefix=ann_prefix)
        qdf = spark.createDataFrame(
            queries,
            "q_id long, terms array<string>, emb array<double>",
        )
        got = hybrid_search_batch(
            spark, qdf, text_prefix=PREFIX, ann_prefix=ann_prefix
        ).collect()
        for q_id, terms, emb in queries:
            want = hybrid_search(
                spark, terms, emb,
                text_prefix=PREFIX, ann_prefix=ann_prefix,
            ).collect()
            got_q = [
                (r["doc_id"], r["lex_rank"], r["sem_rank"], r["rrf_fp"])
                for r in got if r["q_id"] == q_id
            ]
            assert got_q == [
                (r["doc_id"], r["lex_rank"], r["sem_rank"], r["rrf_fp"])
                for r in want
            ]
            assert got_q

        writer = hybrid_query_sink_writer(
            out_dir, text_prefix=PREFIX, ann_prefix=ann_prefix
        )
        writer(qdf.limit(0), 0)  # empty batch: must not create epoch 0
        writer(qdf, 1)
        first = sorted(
            tuple(r)
            for r in spark.read.parquet(out_dir)
            .filter("epoch_id = 1")
            .drop("epoch_id")
            .collect()
        )
        assert first == sorted(
            (r["q_id"], r["doc_id"], r["lex_rank"], r["sem_rank"],
             r["rrf_fp"])
            for r in got
        )
        # change the ANN index, then replay epoch 1: the committed
        # answers must stand (first write wins)
        dead = int(got[0]["doc_id"])
        tombstone_ann_index(
            spark,
            spark.createDataFrame([(dead,)], "vec_id bigint"),
            prefix=ann_prefix,
        )
        writer(qdf, 1)
        assert first == sorted(
            tuple(r)
            for r in spark.read.parquet(out_dir)
            .filter("epoch_id = 1")
            .drop("epoch_id")
            .collect()
        )
        # a NEW epoch serves answers from the changed indexes
        writer(qdf, 2)
        second = spark.read.parquet(out_dir).filter("epoch_id = 2")
        assert second.count() > 0
        epochs = {
            r["epoch_id"]
            for r in spark.read.parquet(out_dir)
            .select("epoch_id").distinct().collect()
        }
        assert epochs == {1, 2}
    finally:
        _drop_index(spark)
        for part in ("cents", "members", "tomb"):
            spark.sql(f"DROP TABLE IF EXISTS {ann_prefix}_{part}")


def test_batch_topk_equals_per_query_runs(spark, sf_dir):
    """bm25_batch_topk's per-q_id slice must be EXACTLY the
    single-query ranking for that term set (df per term is global
    document frequency either way, so sharing the postings slice
    across queries cannot move a bit)."""
    from real_time_fraud_detection_system_spark.operators.textops import (
        BM25_BATCH_QUERIES,
        bm25_batch_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    got = bm25_batch_topk(spark, sf_dir).collect()
    for qi, terms in enumerate(BM25_BATCH_QUERIES):
        got_q = [
            (r["doc_id"], r["score_fp"], r["rank"])
            for r in got
            if r["q_id"] == qi
        ]
        want = [
            (r["doc_id"], r["score_fp"], i + 1)
            for i, r in enumerate(_fresh_bm25(docs, terms).collect())
        ]
        assert got_q == want, f"query {qi} {terms}"


def test_failed_compaction_rewrite_keeps_the_part_table(
    spark, sf_dir, monkeypatch
):
    """A compaction whose rewrite of the doc part fails must leave that
    part whole: the live index still answers from it, and running the
    compaction again finishes the fold."""
    import real_time_fraud_detection_system_spark.storage as storage

    docs = load_table(spark, sf_dir, "documents")
    removed = docs.filter("doc_id % 5 = 0").select("doc_id")
    live_docs = docs.filter("doc_id % 5 <> 0")
    real_append = storage.append_bucketed

    def failing_doc_append(df, table, keys):
        if table.startswith(f"{PREFIX}_doc"):
            raise RuntimeError("doc append failed")
        return real_append(df, table, keys)

    try:
        persist_text_index(docs, prefix=PREFIX)
        assert tombstone_text_index(spark, removed, prefix=PREFIX) > 0
        monkeypatch.setattr(storage, "append_bucketed", failing_doc_append)
        with pytest.raises(RuntimeError, match="doc append failed"):
            compact_text_index(spark, prefix=PREFIX)
        monkeypatch.setattr(storage, "append_bucketed", real_append)

        assert live_text_index(spark, PREFIX)[1].count() == live_docs.count()
        assert _rows(bm25_search(spark, BM25_TERMS, prefix=PREFIX)) == _rows(
            _fresh_bm25(live_docs, BM25_TERMS)
        )
        funnel = compact_text_index(spark, prefix=PREFIX)
        assert funnel["doc_rows_after"] == live_docs.count()
        assert not spark.catalog.tableExists(f"{PREFIX}_tomb")
        assert _rows(bm25_search(spark, BM25_TERMS, prefix=PREFIX)) == _rows(
            _fresh_bm25(live_docs, BM25_TERMS)
        )
    finally:
        _drop_index(spark)
