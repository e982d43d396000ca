"""Incremental dedup lifecycle: a persisted signature index, an
arriving shard, verified pairs touching only the shard, and an
idempotent index update -- the daily-ingest shape of a 100 TB corpus
(full-corpus re-pairing is the thing this operator exists to avoid)."""

from pyspark.sql import functions as F

from real_time_fraud_detection_system_spark.catalog import load_table
from real_time_fraud_detection_system_spark.operators.dedup import (
    _band_rows,
    _shard_pred_spark,
    dedup_incremental,
    dedup_minhash_lsh,
    incremental_dedup_pairs,
    signature_index,
)


def _pairs_set(df):
    return {(r["a_id"], r["b_id"], r["jaccard"]) for r in df.collect()}


def test_incremental_equals_full_lsh_restricted_to_shard(spark, sf_dir):
    """The incremental pair set must be exactly the one-shot LSH pair
    set restricted to pairs touching the shard: nothing missed, and no
    corpus-vs-corpus pair ever formed."""
    full = dedup_minhash_lsh(spark, sf_dir)
    want = _pairs_set(
        full.filter(
            F.expr(_shard_pred_spark("a_id"))
            | F.expr(_shard_pred_spark("b_id"))
        )
    )
    got = _pairs_set(dedup_incremental(spark, sf_dir))
    assert got == want
    assert want, "shard split must touch at least one verified pair"
    shard = {
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.expr(_shard_pred_spark()))
        .select("doc_id")
        .collect()
    }
    for a_id, b_id, _ in got:
        assert a_id in shard or b_id in shard


def test_index_roundtrip_and_idempotent_update(spark, sf_dir, tmp_path):
    """Drive the real deployment shape: the corpus index persisted as
    the bucketed catalog tables, then the shard streamed through
    dedup_index_sink_writer -- its committed pairs are the incremental
    pair set, and the sink applied twice, the second run is a no-op."""
    from real_time_fraud_detection_system_spark.operators.dedup import (
        persist_dedup_index,
    )
    from real_time_fraud_detection_system_spark.streaming.jobs import (
        dedup_index_sink_writer,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.expr(_shard_pred_spark())
    corpus, shard = docs.filter(~is_new), docs.filter(is_new)
    pairs_dir = str(tmp_path / "pairs")
    try:
        sig_t, _ = persist_dedup_index(corpus, prefix="t_rt_idx")
        n_index = sig_t.count()
        n_new = signature_index(shard).count()
        writer = dedup_index_sink_writer(pairs_dir, prefix="t_rt_idx")

        writer(shard, 0)
        from_disk = _pairs_set(
            spark.read.parquet(pairs_dir).drop("epoch_id")
        )
        assert from_disk == _pairs_set(dedup_incremental(spark, sf_dir))
        once = spark.table("t_rt_idx_sig")
        assert once.count() == n_index + n_new
        writer(shard, 1)
        twice = spark.table("t_rt_idx_sig")
        assert twice.count() == n_index + n_new  # re-run adds nothing
        # after the update the shard IS indexed: every signature exactly once
        assert (
            twice.groupBy("doc_id").count().filter("count > 1").count() == 0
        )
        assert _pairs_set(
            spark.read.parquet(pairs_dir).drop("epoch_id")
        ) == from_disk
    finally:
        for t in ("t_rt_idx_sig", "t_rt_idx_band"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dedup_index_sink_stream_and_replay(spark, sf_dir, tmp_path):
    """Drive dedup_index_sink_writer through a real file stream: two
    micro-batches of documents; every verified pair lands in exactly
    one epoch partition (at the LATER doc's arrival), the union across
    epochs equals the one-shot LSH pair set over the full corpus, and
    a manual replay of an already-indexed batch changes nothing (the
    anti-join gate makes the sink idempotent under at-least-once
    foreachBatch delivery)."""
    from real_time_fraud_detection_system_spark.streaming.jobs import (
        dedup_index_sink_writer,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_b0 = F.pmod(F.col("doc_id"), F.lit(2)) == 0
    src = tmp_path / "src"
    docs.filter(is_b0).coalesce(1).write.parquet(str(src / "b0"))
    docs.filter(~is_b0).coalesce(1).write.parquet(str(src / "b1"))

    pairs_dir = str(tmp_path / "pairs")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    try:
        q = (
            stream.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .foreachBatch(dedup_index_sink_writer(pairs_dir, "t_sink_idx"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

        pairs = spark.read.parquet(pairs_dir)
        want = _pairs_set(dedup_minhash_lsh(spark, sf_dir))
        assert _pairs_set(pairs.drop("epoch_id")) == want
        assert want, "corpus must contain at least one verified pair"
        assert (
            pairs.groupBy("a_id", "b_id").count().filter("count > 1").count()
            == 0
        ), "a pair must land in exactly one epoch partition"
        assert pairs.select("epoch_id").distinct().count() >= 2

        idx = spark.table("t_sink_idx_sig")
        n_docs = docs.count()
        assert idx.count() == n_docs  # every doc signed exactly once

        # replay an already-processed batch: index AND pairs unchanged
        writer = dedup_index_sink_writer(pairs_dir, "t_sink_idx")
        writer(docs.filter(is_b0), 999)
        assert spark.table("t_sink_idx_sig").count() == n_docs
        assert _pairs_set(
            spark.read.parquet(pairs_dir).drop("epoch_id")
        ) == want
    finally:
        for t in ("t_sink_idx_sig", "t_sink_idx_band"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_indexed_incremental_matches_and_skips_index_shuffle(spark, sf_dir):
    """The bucketed-index probe path must produce exactly the
    incremental pair set, and its joins must shuffle ONLY the shard
    side: the (band, bkey)-clustered band table and doc_id-clustered
    signature table are pre-shuffled at persist time."""
    from real_time_fraud_detection_system_spark.operators.dedup import (
        _band_table,
        incremental_dedup_pairs,
        persist_dedup_index,
    )
    from real_time_fraud_detection_system_spark.plans.explain_checks import (
        count_exchanges,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.expr(_shard_pred_spark())
    corpus, shard = docs.filter(~is_new), docs.filter(is_new)
    try:
        sig_t, band_t = persist_dedup_index(corpus, prefix="t_dedup_idx")
        new_sigs = signature_index(shard)

        got = incremental_dedup_pairs(sig_t, band_t, new_sigs)
        assert _pairs_set(got) == _pairs_set(dedup_incremental(spark, sf_dir))

        # band probe: joining adds exactly ONE exchange over the shard
        # subplan's own (the shard entering the bucket layout); the
        # persisted band table contributes none -- it scans bucketed
        a = _band_table(new_sigs).select("doc_id", "band", "bkey").alias("a")
        probe = a.join(
            band_t.hint("merge").alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey")),
        )
        import contextlib
        import io

        assert count_exchanges(probe) == count_exchanges(a) + 1
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            probe.explain("formatted")
        assert "Bucketed: true" in buf.getvalue()

        # verification lookup: candidate ids shuffle, signature table
        # does not
        cand = spark.createDataFrame([(1,), (2,)], "doc_id bigint")
        lookup = cand.join(sig_t.hint("merge"), "doc_id")
        assert count_exchanges(lookup) == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS t_dedup_idx_sig")
        spark.sql("DROP TABLE IF EXISTS t_dedup_idx_band")


def test_dedup_index_sink_tolerates_empty_batch(spark, sf_dir, tmp_path):
    """foreachBatch hands over empty micro-batches on idle triggers;
    the sink must no-op (no index table created, no crash) and a
    subsequent real batch must still work."""
    from real_time_fraud_detection_system_spark.streaming.jobs import (
        dedup_index_sink_writer,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    writer = dedup_index_sink_writer(str(tmp_path / "pairs"), "t_empty_idx")
    try:
        writer(docs.limit(0), 0)  # empty: must not throw
        assert not spark.catalog.tableExists("t_empty_idx_sig")
        writer(docs, 1)
        assert spark.table("t_empty_idx_sig").count() == docs.count()
    finally:
        for t in ("t_empty_idx_sig", "t_empty_idx_band"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dedup_sink_skips_tombstoned_doc_and_reindexes_it(
    spark, sf_dir, tmp_path
):
    """A doc tombstoned through tombstone_sink_writer must not match a
    near-duplicate that streams in afterwards (the sink probes the
    LIVE index), and the same doc_id arriving again with new content
    folds the tombstones first, so it is indexed once with its new
    signature. Replays of either epoch stay no-ops."""
    from real_time_fraud_detection_system_spark.operators.dedup import (
        live_dedup_index,
        persist_dedup_index,
    )
    from real_time_fraud_detection_system_spark.streaming.jobs import (
        dedup_index_sink_writer,
        tombstone_sink_writer,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pair = dedup_minhash_lsh(spark, sf_dir).first()  # the dead doc's
    # live partner keeps the arrival's pair set non-empty
    dead = docs.filter(F.col("doc_id") == pair["a_id"]).first()
    new_id = docs.selectExpr("max(doc_id) + 1 AS m").collect()[0]["m"]
    near_dup = spark.createDataFrame(
        [(new_id, dead["text"])], "doc_id long, text string"
    )
    # non-vacuous: against a live copy of the doc, the arrival pairs
    live = signature_index(docs.filter(F.col("doc_id") == dead["doc_id"]))
    assert (dead["doc_id"], new_id) in {
        (a, b)
        for a, b, _ in _pairs_set(
            incremental_dedup_pairs(
                live, _band_rows(live), signature_index(near_dup)
            )
        )
    }
    pairs_dir = str(tmp_path / "pairs")
    writer = dedup_index_sink_writer(pairs_dir, "t_reidx")
    try:
        n_sig = persist_dedup_index(docs, prefix="t_reidx")[0].count()
        tombstone_sink_writer(prefix="t_reidx")(
            docs.filter(F.col("doc_id") == dead["doc_id"]).select("doc_id"), 0
        )

        writer(near_dup, 0)
        writer(near_dup, 0)  # replayed epoch: no-op
        got = _pairs_set(spark.read.parquet(pairs_dir).drop("epoch_id"))
        assert (pair["b_id"], new_id) in {(a, b) for a, b, _ in got}
        assert all(dead["doc_id"] not in (a, b) for a, b, _ in got)
        sig_t, _ = live_dedup_index(spark, "t_reidx")
        assert sig_t.count() == n_sig  # one doc dead, one arrived

        # the dead id arrives again with new content: fold, then index
        changed = spark.createDataFrame(
            [(dead["doc_id"], "an entirely rewritten body of plain words "
              "that shares no phrase with any other document here")],
            "doc_id long, text string",
        )
        writer(changed, 1)
        assert not spark.catalog.tableExists("t_reidx_tomb")
        rows = spark.table("t_reidx_sig").filter(
            F.col("doc_id") == dead["doc_id"]
        ).collect()
        want = signature_index(changed).collect()
        assert len(rows) == 1 and len(want) == 1
        assert rows[0]["min_md5"] == want[0]["min_md5"]
        assert set(rows[0]["hsh"]) == set(want[0]["hsh"])
        writer(changed, 1)  # replayed epoch: no-op
        assert spark.table("t_reidx_sig").count() == n_sig + 1
        assert _pairs_set(
            spark.read.parquet(pairs_dir).drop("epoch_id")
        ) == got
    finally:
        for t in ("t_reidx_sig", "t_reidx_band", "t_reidx_tomb"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_tombstone_live_probe_and_compaction(spark, sf_dir):
    """The day-2 removal path (round-10 verdict Next #4): tombstoning
    removed doc_ids must make the persisted index probe EXACTLY as if
    the index had been rebuilt without them (removal only deletes
    edges -- a pair is decided by its endpoints alone), tombstoning is
    idempotent per id, and compaction folds the tombstones into a
    rewrite whose funnel reconciles row-for-row and whose probe
    results are unchanged."""
    from real_time_fraud_detection_system_spark.operators.dedup import (
        compact_dedup_index,
        incremental_dedup_pairs,
        live_dedup_index,
        persist_dedup_index,
        tombstone_dedup_index,
        LSH_BANDS,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.expr(_shard_pred_spark())
    corpus, shard = docs.filter(~is_new), docs.filter(is_new)
    removed = corpus.filter("doc_id % 7 = 0").select("doc_id")
    live_corpus = corpus.filter("doc_id % 7 <> 0")
    try:
        persist_dedup_index(corpus, prefix="t_tomb_idx")
        n_removed = removed.count()
        assert n_removed > 0
        assert (
            tombstone_dedup_index(spark, removed, prefix="t_tomb_idx")
            == n_removed
        )
        # idempotent: re-applying the same ids records nothing new
        assert (
            tombstone_dedup_index(spark, removed, prefix="t_tomb_idx") == 0
        )

        sig_t, band_t = live_dedup_index(spark, "t_tomb_idx")
        new_sigs = signature_index(shard)
        got = incremental_dedup_pairs(sig_t, band_t, new_sigs)

        want_sig, want_band = persist_dedup_index(
            live_corpus, prefix="t_tomb_want"
        )
        want = incremental_dedup_pairs(
            want_sig, want_band, new_sigs
        )
        assert _pairs_set(got) == _pairs_set(want)
        # no tombstoned endpoint survives in the probe result
        dead = {r["doc_id"] for r in removed.collect()}
        for a_id, b_id, _ in _pairs_set(got):
            assert a_id not in dead and b_id not in dead

        # compaction: funnel reconciles exactly -- the signature table
        # loses one row per tombstoned doc that had a signature, the
        # band table LSH_BANDS rows each -- and the tombstone side
        # table is gone afterwards
        n_sig_dead = (
            spark.table("t_tomb_idx_sig")
            .join(removed, "doc_id", "left_semi")
            .count()
        )
        funnel = compact_dedup_index(spark, "t_tomb_idx")
        assert funnel["n_tombstones"] == n_removed
        assert funnel["sig_rows_dropped"] == n_sig_dead
        assert funnel["band_rows_dropped"] == n_sig_dead * LSH_BANDS
        assert funnel["sig_rows_before"] - funnel["sig_rows_after"] == n_sig_dead
        assert not spark.catalog.tableExists("t_tomb_idx_tomb")

        sig2, band2 = live_dedup_index(spark, "t_tomb_idx")
        got2 = incremental_dedup_pairs(sig2, band2, new_sigs)
        assert _pairs_set(got2) == _pairs_set(want)
    finally:
        for t in (
            "t_tomb_idx_sig", "t_tomb_idx_band", "t_tomb_idx_tomb",
            "t_tomb_want_sig", "t_tomb_want_band",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_tombstone_sink_writer_streams_deletions(spark, sf_dir):
    """The streaming leg: deletion micro-batches tombstone the
    persisted index trigger-by-trigger -- a probe between triggers
    stops matching the dead docs -- and a re-delivered epoch records
    nothing new (anti-join idempotence). Empty batches no-op."""
    from real_time_fraud_detection_system_spark.operators.dedup import (
        live_dedup_index,
        persist_dedup_index,
    )
    from real_time_fraud_detection_system_spark.streaming.jobs import (
        tombstone_sink_writer,
    )

    docs = load_table(spark, sf_dir, "documents")
    try:
        persist_dedup_index(docs, prefix="t_ts_idx")
        writer = tombstone_sink_writer(prefix="t_ts_idx")

        b0 = docs.filter("doc_id % 11 = 0").select("doc_id")
        b1 = docs.filter("doc_id % 11 = 1").select("doc_id")
        writer(docs.select("doc_id").limit(0), 0)  # idle trigger: no-op
        assert not spark.catalog.tableExists("t_ts_idx_tomb")
        writer(b0, 1)
        sig_t, _ = live_dedup_index(spark, "t_ts_idx")
        assert sig_t.join(b0, "doc_id", "left_semi").count() == 0
        n_after_b0 = sig_t.count()
        writer(b1, 2)
        sig_t, _ = live_dedup_index(spark, "t_ts_idx")
        assert sig_t.join(b1, "doc_id", "left_semi").count() == 0
        assert sig_t.count() < n_after_b0
        # replay of epoch 1: tombstone table unchanged
        n_tomb = spark.table("t_ts_idx_tomb").count()
        writer(b0, 1)
        assert spark.table("t_ts_idx_tomb").count() == n_tomb
    finally:
        for t in ("t_ts_idx_sig", "t_ts_idx_band", "t_ts_idx_tomb"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
