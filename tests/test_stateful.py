"""Replay test for the applyInPandasWithState streaming sessionizer:
feed two parquet micro-batches through a file stream and assert the
emitted sessions match the 30-minute-gap rule."""

import datetime as dt

from pyspark.sql import types as T

from real_time_fraud_detection_system_spark.streaming.stateful import (
    sessionize_stream,
)

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _t(minute):
    return dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=minute)


def test_stream_sessionize_closes_on_gap_and_watermark(spark, tmp_path):
    src = tmp_path / "src"
    out_rows = []

    # user 1: two sessions (gap 120 min between minute 10 and 130)
    # user 2: one session, then nothing -- closed only by watermark advance
    batch1 = [(_t(0), 1, 1.0), (_t(10), 1, 2.0), (_t(5), 2, 5.0)]
    # minute 500 events push the watermark (500 - 60) far past all gaps
    batch2 = [(_t(130), 1, 3.0), (_t(500), 3, 0.5), (_t(501), 3, 0.5)]

    # coalesce(1): one file per batch so micro-batch order is the write
    # order (multiple part-files would replay in arbitrary order)
    spark.createDataFrame(batch1, SCHEMA).coalesce(1).write.parquet(
        str(src / "b1")
    )

    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "*"))
    sessions = sessionize_stream(stream)

    def collect(batch_df, epoch_id):
        out_rows.extend(batch_df.collect())

    ckpt = tmp_path / "ckpt"

    def run_available():
        q = (
            sessions.writeStream.outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .foreachBatch(collect)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_available()
    spark.createDataFrame(batch2, SCHEMA).coalesce(1).write.parquet(
        str(src / "b2")
    )
    run_available()

    by_user = {}
    for r in out_rows:
        by_user.setdefault(r["user_id"], []).append(r)

    # user 1's first session (events at minute 0 and 10) must have closed:
    # either mid-batch on the 120-min gap or via timeout
    assert 1 in by_user
    s = sorted(by_user[1], key=lambda r: r["session_start"])[0]
    assert s["session_start"] == _t(0)
    assert s["session_end"] == _t(10)
    assert s["n_events"] == 2
    assert abs(s["total_value"] - 3.0) < 1e-9

    # user 2's lone session closes purely by event-time timeout once the
    # watermark (driven by user 3's minute-500 events) passes its gap
    assert 2 in by_user
    s2 = by_user[2][0]
    assert s2["n_events"] == 1
    assert abs(s2["total_value"] - 5.0) < 1e-9


def test_stream_sessionize_merges_late_events_into_one_session(
    spark, tmp_path
):
    """Out-of-order replay: several late events that belong to ONE
    earlier session must merge under the gap rule (not emit one
    single-event session each)."""
    src = tmp_path / "src"
    out_rows = []

    # batch 1 opens user 1's session at minute 300 (watermark -> 240)
    batch1 = [(_t(300), 1, 1.0)]
    # batch 2 replays three LATE events from an earlier session: within
    # the 30-min gap of each other, >30 min before minute 300, but above
    # the minute-240 watermark (older rows never reach the operator);
    # plus a watermark pusher
    batch2 = [(_t(241), 1, 1.0), (_t(245), 1, 2.0), (_t(250), 1, 4.0),
              (_t(900), 9, 0.1)]

    spark.createDataFrame(batch1, SCHEMA).coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "*"))
    sessions = sessionize_stream(stream)
    ckpt = tmp_path / "ckpt"

    def run_available():
        q = (
            sessions.writeStream.outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .foreachBatch(lambda df, eid: out_rows.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_available()
    spark.createDataFrame(batch2, SCHEMA).coalesce(1).write.parquet(
        str(src / "b2")
    )
    run_available()

    early = [
        r for r in out_rows
        if r["user_id"] == 1 and r["session_start"] == _t(241)
    ]
    assert len(early) == 1, f"late events split: {out_rows}"
    assert early[0]["session_end"] == _t(250)
    assert early[0]["n_events"] == 3
    assert abs(early[0]["total_value"] - 7.0) < 1e-9


def test_stream_sessionizer_matches_batch_twin(spark, tmp_path):
    """The applyInPandasWithState sessionizer and the batch gap-rule
    (operators/sessionize.assign_sessions) must agree on every CLOSED
    session: same (start, end, n_events, total_value) sets."""
    import random

    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_spark.operators.sessionize import (
        assign_sessions,
    )

    rng = random.Random(7)
    rows = []
    eid = 0
    for user in range(1, 6):
        t = 0
        for _ in range(rng.randint(5, 15)):
            t += rng.choice([1, 5, 20, 40, 90])  # minutes; >30 splits
            rows.append((_t(t), user, float(rng.randint(1, 9)), eid))
            eid += 1
    # watermark pusher far in the future closes every session
    rows.append((_t(100000), 99, 0.0, eid))

    src = tmp_path / "src"
    frame = spark.createDataFrame(
        rows, "ts timestamp, user_id long, value double, event_id long"
    )
    frame.coalesce(1).write.parquet(str(src / "b1"))

    stream = spark.readStream.schema(
        "ts timestamp, user_id long, value double, event_id long"
    ).parquet(str(src / "*"))
    got = []
    q = (
        sessionize_stream(stream.drop("event_id"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda df, eid_: got.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = (
        assign_sessions(frame)
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .collect()
    )
    batch_set = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["total_value"], 6))
        for r in batch if r["user_id"] != 99
    }
    stream_set = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["total_value"], 6))
        for r in got if r["user_id"] != 99
    }
    assert stream_set == batch_set


def test_stream_gap_monitor_emits_batch_twin_gaps(spark, tmp_path):
    """Gap rows appear exactly when the later event crosses the
    watermark, with the batch twin's ordering semantics: the late
    minute-50 event (arriving a batch after minute-130) must slot
    BETWEEN minutes 10 and 130, splitting what a naive monitor would
    emit as one 120-minute gap."""
    from real_time_fraud_detection_system_spark.streaming.stateful import (
        gap_monitor_stream,
    )

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("event_id", T.LongType()),
        ]
    )
    src = tmp_path / "src"
    out_rows = []

    batches = [
        # user 5: two events at the SAME minute whose event_id order
        # (zeta=2 before alpha=3) contradicts event_type order -- the
        # batch twin's (ts, event_id) tie-break must win
        [(_t(0), 1, "click", 0), (_t(10), 1, "view", 1),
         (_t(5), 2, "click", 4),
         (_t(0), 5, "seed", 9), (_t(10), 5, "zeta", 2),
         (_t(10), 5, "alpha", 3)],
        # minute-50 arrives LATE (after 130 exists) but inside the 1 h
        # watermark horizon; user 3 pushes the watermark to minute 741
        [(_t(130), 1, "purchase", 5), (_t(50), 1, "error", 6),
         (_t(800), 3, "click", 7), (_t(801), 3, "view", 8)],
        # dummy user advances nothing for itself; its batch runs with
        # watermark at 741, finalizing every user-1 event
        [(_t(900), 4, "click", 10)],
    ]

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "*"))
    gaps = gap_monitor_stream(stream)

    def collect(batch_df, epoch_id):
        out_rows.extend(batch_df.collect())

    ckpt = tmp_path / "ckpt"
    for i, batch in enumerate(batches):
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
        q = (
            gaps.writeStream.outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .foreachBatch(collect)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    got = sorted(
        (r["user_id"], r["event_type"], r["gap_us"], r["gap_bucket"])
        for r in out_rows
    )
    # user 1: 0 -> 10 -> 50 -> 130; gap attributed to the LATER event.
    # user 3's 800 -> 801 gap finalizes inside run 3 as well: the
    # minute-900 batch advances the watermark to 840, and availableNow
    # runs one more timeout batch before stopping.
    want = [
        (1, "error", 2400 * 1_000_000, "c_5m_1h"),     # 10 -> 50
        (1, "purchase", 4800 * 1_000_000, "d_ge_1h"),  # 50 -> 130
        (1, "view", 600 * 1_000_000, "c_5m_1h"),       # 0 -> 10
        (3, "view", 60 * 1_000_000, "b_1m_5m"),        # 800 -> 801
        # user 5 ties at minute 10: zeta (id 2) precedes alpha (id 3),
        # so zeta takes the 10-minute gap and alpha the zero gap
        (5, "zeta", 600 * 1_000_000, "c_5m_1h"),       # 0 -> 10(id2)
        (5, "alpha", 0, "a_lt_1m"),                    # 10(id2) -> 10(id3)
    ]
    assert got == sorted(want)


def test_stream_sessionize_under_rocksdb_state_store(spark, tmp_path):
    """The sessionizer replay, state held by the RocksDB provider
    (the 100x-user posture: executor-heap state stores die first at
    scale; RocksDB spills to local disk with bounded memory). Same
    event script and assertions as the heap-store test -- the provider
    must be a pure storage swap, invisible in the emitted sessions."""
    from real_time_fraud_detection_system_spark.session import (
        ROCKSDB_PROVIDER,
        conf_override,
        rocksdb_state_conf,
    )

    src = tmp_path / "src"
    out_rows = []
    batch1 = [(_t(0), 1, 1.0), (_t(10), 1, 2.0), (_t(5), 2, 5.0)]
    batch2 = [(_t(130), 1, 3.0), (_t(500), 3, 0.5), (_t(501), 3, 0.5)]
    spark.createDataFrame(batch1, SCHEMA).coalesce(1).write.parquet(
        str(src / "b1")
    )

    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "*"))
    sessions = sessionize_stream(stream)
    ckpt = tmp_path / "ckpt"

    def run_available():
        q = (
            sessions.writeStream.outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .foreachBatch(lambda b, _: out_rows.extend(b.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    confs = rocksdb_state_conf()
    with conf_override(
        spark,
        "spark.sql.streaming.stateStore.providerClass",
        ROCKSDB_PROVIDER,
    ):
        key = (
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled"
        )
        with conf_override(spark, key, confs[key]):
            run_available()
            spark.createDataFrame(batch2, SCHEMA).coalesce(1).write.parquet(
                str(src / "b2")
            )
            run_available()

    # the RocksDB provider actually ran: its state files live under the
    # checkpoint's state dir (zip/changelog layout differs from the
    # heap provider's flat .delta files)
    import json

    meta = json.loads(
        (ckpt / "offsets" / "0").read_text().splitlines()[1]
    )
    assert "RocksDBStateStoreProvider" in meta["conf"].get(
        "spark.sql.streaming.stateStore.providerClass", ""
    )

    by_user = {}
    for r in out_rows:
        by_user.setdefault(r["user_id"], []).append(r)
    s = sorted(by_user[1], key=lambda r: r["session_start"])[0]
    assert (s["session_start"], s["session_end"], s["n_events"]) == (
        _t(0), _t(10), 2,
    )
    assert abs(s["total_value"] - 3.0) < 1e-9
    s2 = by_user[2][0]
    assert s2["n_events"] == 1 and abs(s2["total_value"] - 5.0) < 1e-9
