"""Bucketed-table layout: the orders x lineitem join on the bucket key
must plan with ZERO exchanges (pre-shuffled at write time), and agree
with the plain join."""

from pyspark.sql import functions as F

from real_time_fraud_detection_system_spark.plans.explain_checks import (
    count_exchanges,
)
from real_time_fraud_detection_system_spark.catalog import load_table
from real_time_fraud_detection_system_spark.storage import write_bucketed


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    orders = write_bucketed(
        load_table(spark, sf_dir, "orders"), "orders_b", ["o_orderkey"]
    )
    lineitem = write_bucketed(
        load_table(spark, sf_dir, "lineitem"), "lineitem_b", ["l_orderkey"]
    )
    # merge hint: at this tiny SF the planner would broadcast (its own
    # exchange); the bucketing property under test is the SMJ path,
    # which is what survives when both sides are 100 TB
    joined = lineitem.join(
        orders.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey")
    ).select("o_orderkey", "l_linenumber", "o_totalprice", "l_quantity")
    assert count_exchanges(joined) == 0

    # agg keyed on the bucket column also skips its shuffle
    agg = lineitem.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    assert count_exchanges(agg) == 0

    # correctness vs the unbucketed join
    plain = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert joined.count() == plain

    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_repersist_replaces_every_index_table(spark, sf_dir):
    """Persisting an index again rebuilds it whole: a tombstone
    recorded against the old build must not filter the new one, for
    each of the three index families."""
    from real_time_fraud_detection_system_spark.operators.dedup import (
        live_dedup_index,
        persist_dedup_index,
        tombstone_dedup_index,
    )
    from real_time_fraud_detection_system_spark.operators.similarity import (
        live_ann_members,
        persist_ann_index,
        tombstone_ann_index,
    )
    from real_time_fraud_detection_system_spark.operators.textops import (
        live_text_index,
        persist_text_index,
        tombstone_text_index,
    )
    from real_time_fraud_detection_system_spark.storage import (
        drop_index_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    families = (
        (lambda: persist_dedup_index(docs, "t_rp_dd"),
         lambda ids: tombstone_dedup_index(spark, ids, "t_rp_dd"),
         lambda: live_dedup_index(spark, "t_rp_dd")[0], "doc_id"),
        (lambda: persist_text_index(docs, "t_rp_tx"),
         lambda ids: tombstone_text_index(spark, ids, "t_rp_tx"),
         lambda: live_text_index(spark, "t_rp_tx")[1], "doc_id"),
        (lambda: persist_ann_index(spark, sf_dir, "t_rp_ann"),
         lambda ids: tombstone_ann_index(spark, ids, "t_rp_ann"),
         lambda: live_ann_members(spark, "t_rp_ann"), "m_id"),
    )
    try:
        for persist, tombstone, live, id_col in families:
            persist()
            n = live().count()
            first = live().selectExpr(f"min({id_col}) AS id").first()["id"]
            id_name = "vec_id" if id_col == "m_id" else "doc_id"
            assert tombstone(
                spark.createDataFrame([(first,)], f"{id_name} bigint")
            ) == 1
            assert live().count() == n - 1
            persist()
            assert live().count() == n
    finally:
        for t in ("t_rp_dd_sig", "t_rp_dd_band", "t_rp_dd_tomb",
                  "t_rp_tx_post", "t_rp_tx_doc", "t_rp_tx_stats",
                  "t_rp_tx_tomb", "t_rp_ann_cents", "t_rp_ann_members",
                  "t_rp_ann_tomb"):
            drop_index_table(spark, t)


def test_stream_static_enrichment(spark, tmp_path):
    from real_time_fraud_detection_system_spark.sources.generators import (
        transactions_batch,
    )
    from real_time_fraud_detection_system_spark.streaming.pipeline import (
        enriched_stream,
        risk_band_dim,
    )

    src = tmp_path / "src"
    transactions_batch(spark, 100, seed=5).write.parquet(str(src / "b1"))
    schema = (
        "transaction_id string, amount double, "
        "features struct<num_items:int,merchant_risk:double,hour:double>, "
        "event_time timestamp"
    )
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    out = []

    q = (
        enriched_stream(stream, risk_band_dim(spark))
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda df, eid: out.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert len(out) == 100
    for r in out:
        assert r["risk_label"] in ("low", "medium", "high")
        band = int(min(r["features"]["merchant_risk"], 0.999) * 10)
        assert r["risk_band"] == band


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    from real_time_fraud_detection_system_spark.sources.generators import (
        transactions_batch,
    )
    from real_time_fraud_detection_system_spark.storage import (
        compact_partitions,
    )

    store = str(tmp_path / "store")
    # simulate many small streaming appends
    for seed in range(6):
        (
            transactions_batch(spark, 40, seed=seed)
            .withColumn("event_date", F.to_date("event_time"))
            .repartition(4)
            .write.mode("append")
            .partitionBy("event_date")
            .parquet(store)
        )
    before = spark.read.parquet(store)
    before_rows = sorted(
        r["transaction_id"] for r in before.select("transaction_id").collect()
    )

    stats = compact_partitions(spark, store, target_rows_per_file=10_000)
    assert stats["files_after"] < stats["files_before"]
    assert stats["rows"] == len(before_rows)

    after = spark.read.parquet(store)
    after_rows = sorted(
        r["transaction_id"] for r in after.select("transaction_id").collect()
    )
    assert after_rows == before_rows


def test_compaction_honors_file_size_target_per_partition(spark, tmp_path):
    """A partition bigger than target_rows_per_file must split into
    ~ceil(rows/target) files, not collapse into one giant file."""
    import glob

    from real_time_fraud_detection_system_spark.sources.generators import (
        transactions_batch,
    )
    from real_time_fraud_detection_system_spark.storage import (
        compact_partitions,
    )

    store = str(tmp_path / "store")
    for seed in range(4):
        (
            transactions_batch(spark, 60, seed=seed)
            .withColumn("event_date", F.to_date("event_time"))
            .repartition(3)
            .write.mode("append")
            .partitionBy("event_date")
            .parquet(store)
        )
    df = spark.read.parquet(store)
    per_part = {
        r["event_date"]: r["n"]
        for r in df.groupBy("event_date").agg(F.count("*").alias("n")).collect()
    }

    target = 50
    compact_partitions(spark, store, target_rows_per_file=target)
    for part, n in per_part.items():
        want = -(-n // target)  # ceil(rows / target)
        files = glob.glob(f"{store}/event_date={part}/*.parquet")
        # at least the target-implied count (maxRecordsPerFile hard cap
        # forbids giant files), at most 2x (salt-bucket hash collisions
        # can split a task's rows into two sub-target files)
        assert want <= len(files) <= 2 * want, (
            f"partition {part}: {n} rows -> {len(files)} files, want ~{want}"
        )
        for f in files:
            assert spark.read.parquet(f).count() <= target


def test_compaction_detects_concurrent_append(spark, tmp_path):
    """A file appended between the compaction read and its rewrite must
    abort the compaction (ConcurrentAppend), leaving every row -- old
    and appended -- in the store."""
    import pytest

    from real_time_fraud_detection_system_spark.sources.generators import (
        transactions_batch,
    )
    from real_time_fraud_detection_system_spark.storage import (
        ConcurrentAppend,
        compact_partitions,
    )

    store = str(tmp_path / "store")
    base = transactions_batch(spark, 50, seed=1).withColumn(
        "event_date", F.to_date("event_time")
    )
    base.write.mode("append").partitionBy("event_date").parquet(store)

    def racing_append():
        transactions_batch(spark, 10, seed=99).withColumn(
            "event_date", F.to_date("event_time")
        ).write.mode("append").partitionBy("event_date").parquet(store)

    with pytest.raises(ConcurrentAppend):
        compact_partitions(
            spark, store, target_rows_per_file=1000,
            _pre_write_hook=racing_append,
        )
    # nothing lost: the 50 originals AND the 10 raced-in rows survive
    assert spark.read.parquet(store).count() == 60


def test_compaction_lock_blocks_second_compaction_and_sink(spark, tmp_path):
    import os

    import pytest

    from real_time_fraud_detection_system_spark.sources.generators import (
        transactions_batch,
    )
    from real_time_fraud_detection_system_spark.storage import (
        COMPACTION_LOCK,
        CompactionInProgress,
        compact_partitions,
        compaction_locked,
    )
    from real_time_fraud_detection_system_spark.streaming.pipeline import (
        prediction_sink_writer,
    )

    store = str(tmp_path / "store")
    batch = transactions_batch(spark, 20, seed=2).withColumn(
        "event_date", F.to_date("event_time")
    )
    batch.write.mode("append").partitionBy("event_date").parquet(store)

    lock = os.path.join(store, COMPACTION_LOCK)
    open(lock, "w").close()
    assert compaction_locked(store)
    # second compaction refuses
    with pytest.raises(CompactionInProgress):
        compact_partitions(spark, store)
    # cooperative sink refuses to append rows the rewrite would drop
    writer = prediction_sink_writer(store)
    with pytest.raises(CompactionInProgress):
        writer(transactions_batch(spark, 5, seed=3), 0)
    os.remove(lock)

    # and a clean run takes + releases the lock
    compact_partitions(spark, store, target_rows_per_file=1000)
    assert not compaction_locked(store)


def test_compaction_keeps_null_partition_rows(spark, tmp_path):
    """Rows with a NULL partition value must be rewritten, not dropped
    (the salt join is a left join; nulls never equi-join)."""
    store = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-01"), (3, None), (4, None)],
        "id long, d string",
    ).selectExpr("id", "CAST(d AS DATE) AS event_date")
    df.repartition(2).write.partitionBy("event_date").parquet(store)

    from real_time_fraud_detection_system_spark.storage import (
        compact_partitions,
    )

    stats = compact_partitions(spark, store, target_rows_per_file=100)
    assert stats["rows"] == 4
    after = spark.read.parquet(store)
    assert sorted(r["id"] for r in after.collect()) == [1, 2, 3, 4]
    assert after.filter("event_date IS NULL").count() == 2


def test_interchange_formats_round_trip(spark, sf_dir, tmp_path):
    """Every interchange format must reproduce the hardest tables
    value-identically: documents (free text with arbitrary characters)
    and events (timestamps, doubles, JSON-bearing strings); orc and
    parquet additionally carry the embeddings array column."""
    from real_time_fraud_detection_system_spark.catalog import (
        INTERCHANGE_FORMATS,
        load_table,
        read_table_as,
        write_table_as,
    )

    for fmt in INTERCHANGE_FORMATS:
        for name in ("documents", "events"):
            src = load_table(spark, sf_dir, name)
            path = str(tmp_path / f"{name}.{fmt}")
            write_table_as(src, path, fmt)
            back = read_table_as(spark, path, fmt, schema=src.schema)
            assert back.schema == src.schema, (fmt, name)
            assert back.exceptAll(src).count() == 0, (fmt, name)
            assert src.exceptAll(back).count() == 0, (fmt, name)

    for fmt in ("parquet", "orc"):
        emb = load_table(spark, sf_dir, "embeddings")
        path = str(tmp_path / f"emb.{fmt}")
        write_table_as(emb, path, fmt)
        back = read_table_as(spark, path, fmt, schema=emb.schema)
        assert back.exceptAll(emb).count() == 0

    # csv refuses nested columns instead of silently stringifying
    import pytest

    with pytest.raises(ValueError, match="nested"):
        write_table_as(
            load_table(spark, sf_dir, "embeddings"),
            str(tmp_path / "bad.csv"),
            "csv",
        )


def test_merge_dimension_scd1(spark, tmp_path):
    """Updates replace same-key rows, new keys append, untouched rows
    survive; re-applying the same updates is a no-op; first merge into
    a missing dir bootstraps it."""
    from pyspark.sql import Row

    from real_time_fraud_detection_system_spark.storage import (
        merge_dimension,
    )

    dim_dir = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")]
    )
    assert merge_dimension(spark, dim_dir, base, "k") == 3

    upd = spark.createDataFrame([Row(k=2, v="B"), Row(k=4, v="d")])
    assert merge_dimension(spark, dim_dir, upd, "k") == 4
    got = {r["k"]: r["v"] for r in spark.read.parquet(dim_dir).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}

    # idempotent re-apply
    assert merge_dimension(spark, dim_dir, upd, "k") == 4
    got2 = {r["k"]: r["v"] for r in spark.read.parquet(dim_dir).collect()}
    assert got2 == got


def test_merge_dimension_scd2_keeps_history(spark, tmp_path):
    """Changed attributes close the current row and open a new one;
    unchanged updates are no-ops (idempotence); new keys open their
    first row; full history survives with correct validity windows."""
    import datetime as dt

    from pyspark.sql import Row

    from real_time_fraud_detection_system_spark.storage import (
        merge_dimension_scd2,
    )

    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 2, 1)
    dim_dir = str(tmp_path / "dim2")
    base = spark.createDataFrame(
        [
            Row(k=1, v="a", effective_ts=t0),
            Row(k=2, v="b", effective_ts=t0),
        ]
    )
    assert merge_dimension_scd2(spark, dim_dir, base, "k") == 2

    upd = spark.createDataFrame(
        [
            Row(k=1, v="A", effective_ts=t1),  # changed -> history
            Row(k=2, v="b", effective_ts=t1),  # unchanged -> ignored
            Row(k=3, v="c", effective_ts=t1),  # new key
        ]
    )
    assert merge_dimension_scd2(spark, dim_dir, upd, "k") == 4
    rows = {
        (r["k"], r["v"]): (r["valid_from"], r["valid_to"])
        for r in spark.read.parquet(dim_dir).collect()
    }
    assert rows[(1, "a")] == (t0, t1)  # closed at the change
    assert rows[(1, "A")] == (t1, None)  # the new current row
    assert rows[(2, "b")] == (t0, None)  # untouched current
    assert rows[(3, "c")] == (t1, None)

    # idempotent re-apply
    assert merge_dimension_scd2(spark, dim_dir, upd, "k") == 4


def test_point_in_time_join_reads_history_correctly(spark, tmp_path):
    """Facts resolve the dimension version valid AT their timestamp:
    before the change they see the old attributes, after it the new
    ones, before the first window or for unknown keys they see NULL."""
    import datetime as dt

    from pyspark.sql import Row

    from real_time_fraud_detection_system_spark.storage import (
        merge_dimension_scd2,
        point_in_time_join,
    )

    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    dim_dir = str(tmp_path / "dimp")
    merge_dimension_scd2(
        spark, dim_dir,
        spark.createDataFrame([Row(k=1, v="a", effective_ts=t0)]), "k",
    )
    merge_dimension_scd2(
        spark, dim_dir,
        spark.createDataFrame([Row(k=1, v="A", effective_ts=t1)]), "k",
    )
    facts = spark.createDataFrame(
        [
            Row(fid=1, k=1, ts=dt.datetime(2024, 1, 15)),  # old window
            Row(fid=2, k=1, ts=dt.datetime(2024, 3, 1)),  # new window
            Row(fid=3, k=1, ts=dt.datetime(2023, 12, 1)),  # pre-history
            Row(fid=4, k=9, ts=dt.datetime(2024, 3, 1)),  # unknown key
            Row(fid=5, k=1, ts=t1),  # exactly at the change: new wins
        ]
    )
    got = {
        r["fid"]: r["v"]
        for r in point_in_time_join(
            facts, spark.read.parquet(dim_dir), "k", "ts"
        ).collect()
    }
    assert got == {1: "a", 2: "A", 3: None, 4: None, 5: "A"}


def test_scd2_merge_matches_declarative_history(spark, sf_dir, tmp_path):
    """The disk-merge operator (merge_dimension_scd2, applied batch by
    batch over the customer-priority update stream) produces the SAME
    history table as the registry's declarative one-shot form
    (operators/temporal._scd2_history) -- the bridge that makes the
    oracle-checked scd2_priority_history query a genuine verdict on the
    storage-layer merge."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from real_time_fraud_detection_system_spark.catalog import load_table
    from real_time_fraud_detection_system_spark.operators.temporal import (
        _scd2_history,
    )
    from real_time_fraud_detection_system_spark.storage import (
        merge_dimension_scd2,
    )

    orders = load_table(spark, sf_dir, "orders")
    w_day = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.col("o_orderkey").desc()
    )
    updates = (
        orders.withColumn("_rn", F.row_number().over(w_day))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").alias("effective_ts"),
        )
    )
    # apply the update stream in 4 strictly time-ordered batches (the
    # incremental path: each batch closes/opens windows against the
    # dimension directory on disk)
    dim_dir = str(tmp_path / "dim")
    bounds = list(
        updates.select(
            F.percentile_approx("effective_ts", [0.25, 0.5, 0.75], 10000)
        ).collect()[0][0]
    )
    lo = None
    for hi in bounds + [None]:
        batch = updates
        if lo is not None:
            batch = batch.filter(F.col("effective_ts") > F.lit(lo))
        if hi is not None:
            batch = batch.filter(F.col("effective_ts") <= F.lit(hi))
        merge_dimension_scd2(spark, dim_dir, batch, "custkey")
        lo = hi

    merged = spark.read.parquet(dim_dir).select(
        "custkey", "priority", "valid_from", "valid_to"
    )
    declared = _scd2_history(spark, sf_dir).select(
        "custkey", "priority", "valid_from", "valid_to"
    )
    a = sorted(map(tuple, merged.collect()))
    b = sorted(map(tuple, declared.collect()))
    assert len(a) == len(b) and a == b


def test_scd2_merge_multi_change_batch(spark, tmp_path):
    """One batch carrying a per-key SEQUENCE of updates (a -> b -> a):
    intra-batch windows chain correctly, no-op updates inside the
    sequence collapse, and re-applying the batch is still a no-op."""
    import datetime as dt

    from pyspark.sql import Row

    from real_time_fraud_detection_system_spark.storage import (
        merge_dimension_scd2,
    )

    t = [dt.datetime(2024, 1, d) for d in (1, 5, 9, 13)]
    dim_dir = str(tmp_path / "dimm")
    batch = spark.createDataFrame(
        [
            Row(k=1, v="a", effective_ts=t[0]),
            Row(k=1, v="b", effective_ts=t[1]),
            Row(k=1, v="b", effective_ts=t[2]),  # no-op inside sequence
            Row(k=1, v="a", effective_ts=t[3]),
        ]
    )
    assert merge_dimension_scd2(spark, dim_dir, batch, "k") == 3
    rows = sorted(
        (r["v"], r["valid_from"], r["valid_to"])
        for r in spark.read.parquet(dim_dir).collect()
    )
    assert rows == [
        ("a", t[0], t[1]),
        ("a", t[3], None),
        ("b", t[1], t[3]),
    ]
    # replay: nothing moves
    assert merge_dimension_scd2(spark, dim_dir, batch, "k") == 3
    # a later batch whose FIRST change equals the current row but whose
    # second differs: only the real change lands
    t2 = [dt.datetime(2024, 2, d) for d in (1, 5)]
    nxt = spark.createDataFrame(
        [
            Row(k=1, v="a", effective_ts=t2[0]),  # equals current
            Row(k=1, v="c", effective_ts=t2[1]),
        ]
    )
    assert merge_dimension_scd2(spark, dim_dir, nxt, "k") == 4
    cur = [
        r
        for r in spark.read.parquet(dim_dir).collect()
        if r["valid_to"] is None
    ]
    assert len(cur) == 1 and cur[0]["v"] == "c"
    assert cur[0]["valid_from"] == t2[1]
