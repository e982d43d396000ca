"""Broker-replay harness: recorded Kafka-wire segments through the
kafka_source parse path, exercising the offset/checkpoint semantics no
live broker exists to test here (VERDICT r2 gap #1).

The harness writes parquet "segments" whose schema is exactly what
``spark.readStream.format('kafka')`` emits (key/value binary + topic/
partition/offset/timestamp metadata); a file stream over them feeds
``valid_transactions`` -- the same code the Kafka source feeds in
``serve`` -- and ``run_pipeline_with_registry``'s checkpoint provides
the resume contract:

  * restart picks up AFTER the last committed segment (no reprocessing,
    proven via recentProgress input counts);
  * duplicate transaction_ids arriving after a restart are still
    dropped (dedup state survives in the checkpoint);
  * a crash replays the SAME epoch on restart, and the sink's
    ``storage.commit_epoch`` makes the store exactly-once at every
    crash point: after the epoch's files are staged but before its
    marker (the replay redoes the epoch), after the marker midway
    through moving the staged files into the store (the replay rolls
    the moves forward), and after the whole write returned but before
    Spark commits the epoch (the replay writes nothing);
  * the same holds for another epoch-keyed sink: a replayed
    profile_sink_writer epoch is not counted twice.
"""

import datetime
import os

import pytest

from pyspark.sql import functions as F

from real_time_fraud_detection_system_spark.streaming import pipeline
from real_time_fraud_detection_system_spark.streaming.pipeline import (
    kafka_sink_options,
    run_pipeline_with_registry,
    valid_transactions,
)

KAFKA_WIRE_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp, timestampType int"
)

TXN_SCHEMA = (
    "transaction_id string, amount double, "
    "features struct<num_items:int,merchant_risk:double,hour:double>, "
    "event_time timestamp"
)

TS = datetime.datetime(2025, 1, 1, 12, 0, 0)


def _write_segment(spark, seg_dir: str, ids: range) -> None:
    """One recorded 'topic segment': rows serialized with the engine's
    own Kafka producer serializer (kafka_sink_options), plus the
    consumer-side metadata columns a real broker read would carry."""
    rows = [
        (f"T{i:04d}", 10.0 + i, (1 + i % 5, 0.25, 12.0), TS) for i in ids
    ]
    txns = spark.createDataFrame(rows, TXN_SCHEMA)
    wire = kafka_sink_options(txns).select(
        F.lit(None).cast("binary").alias("key"),
        F.encode("value", "UTF-8").alias("value"),
        F.lit("transactions").alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.lit(TS).alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    wire.coalesce(1).write.mode("append").parquet(seg_dir)


def _start(spark, seg_dir: str, out: str, ckpt: str):
    """Start the scoring stream over the recorded segments."""
    replayed = valid_transactions(
        spark.readStream.schema(KAFKA_WIRE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(seg_dir)
    )
    return run_pipeline_with_registry(replayed, out, ckpt)


def _drain(q) -> int:
    """Run an availableNow query to termination; return rows ingested."""
    q.awaitTermination(180)
    return sum(p["numInputRows"] for p in q.recentProgress)


def test_restart_resumes_after_committed_offsets(spark, tmp_path):
    seg, out, ckpt = (
        str(tmp_path / "segments"),
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
    )
    _write_segment(spark, seg, range(0, 30))
    n_in = _drain(_start(spark, seg, out, ckpt))
    assert n_in == 30
    assert spark.read.parquet(out).count() == 30

    # second incarnation: 20 new ids + 10 replayed duplicates
    _write_segment(spark, seg, range(20, 50))
    n_in = _drain(_start(spark, seg, out, ckpt))
    # resume read ONLY the new segment (30 rows), not the committed one
    assert n_in == 30
    store = spark.read.parquet(out)
    # the 10 overlapping ids were dropped by checkpointed dedup state
    assert store.count() == 50
    assert store.select("transaction_id").distinct().count() == 50


def test_crash_after_append_replays_exactly_once(spark, tmp_path, monkeypatch):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    seg, out, ckpt = (
        str(tmp_path / "segments"),
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
    )
    _write_segment(spark, seg, range(0, 10))
    _drain(_start(spark, seg, out, ckpt))
    assert spark.read.parquet(out).count() == 10

    # crash AFTER the sink append, BEFORE Spark commits the epoch: the
    # worst-case window for duplicate predictions
    _write_segment(spark, seg, range(10, 20))
    real_writer = pipeline.prediction_sink_writer
    crashed = {"done": False}

    def crashing_writer(out_dir):
        real_sink = real_writer(out_dir)

        def write_batch(batch_df, epoch_id):
            real_sink(batch_df, epoch_id)
            if not crashed["done"]:
                crashed["done"] = True
                raise RuntimeError("injected crash between append and commit")

        return write_batch

    monkeypatch.setattr(pipeline, "prediction_sink_writer", crashing_writer)
    q = _start(spark, seg, out, ckpt)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(180)
    assert crashed["done"]
    monkeypatch.undo()

    # restart: Spark replays the uncommitted epoch under the SAME id;
    # the sink's batchId marker turns the replay into a no-op
    _drain(_start(spark, seg, out, ckpt))
    store = spark.read.parquet(out)
    assert store.count() == 20  # no duplicate appends from the replay
    assert store.select("transaction_id").distinct().count() == 20


def _crash_in_second_segment(spark, monkeypatch, seg, out, ckpt, name, fake):
    """Drain a first segment cleanly, then a second one with
    ``os.<name>`` replaced by ``fake(real, *args)`` until the query
    fails. The patch is undone before returning."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    _write_segment(spark, seg, range(0, 10))
    _drain(_start(spark, seg, out, ckpt))
    _write_segment(spark, seg, range(10, 20))
    real = getattr(os, name)
    monkeypatch.setattr(os, name, lambda *a, **k: fake(real, *a, **k))
    q = _start(spark, seg, out, ckpt)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(180)
    monkeypatch.undo()


def test_crash_before_marker_redoes_the_epoch(spark, tmp_path, monkeypatch):
    """Crash after an epoch's files are written but before its commit
    marker exists: the restart redoes the epoch, and the store holds
    each transaction_id once (an append-then-marker sink holds that
    epoch's rows twice here)."""
    seg, out, ckpt = (
        str(tmp_path / "segments"),
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
    )
    crashed = []

    def makedirs(real, path, *a, **k):
        if os.path.basename(path) == "_epochs" and not crashed:
            crashed.append(path)
            raise OSError("injected crash before the epoch marker")
        return real(path, *a, **k)

    _crash_in_second_segment(
        spark, monkeypatch, seg, out, ckpt, "makedirs", makedirs
    )
    assert crashed

    _drain(_start(spark, seg, out, ckpt))
    store = spark.read.parquet(out)
    assert store.count() == 20
    assert store.select("transaction_id").distinct().count() == 20


def test_crash_midway_through_moves_rolls_forward(
    spark, tmp_path, monkeypatch
):
    """Crash after an epoch's marker, with one staged file moved into
    the store and the rest still staged: the restart finishes the
    moves, so the store holds all 20 ids once and nothing is left
    under _staging."""
    seg, out, ckpt = (
        str(tmp_path / "segments"),
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
    )
    moved = []

    def replace(real, src, dst, *a, **k):
        if "_staging" in str(src):
            if moved:
                raise OSError("injected crash midway through the moves")
            moved.append(src)
        return real(src, dst, *a, **k)

    _crash_in_second_segment(
        spark, monkeypatch, seg, out, ckpt, "replace", replace
    )
    assert len(moved) == 1
    (staged,) = os.listdir(os.path.join(out, "_staging"))
    assert os.path.exists(os.path.join(out, "_epochs", staged))
    assert os.listdir(os.path.join(out, "_staging", staged))

    _drain(_start(spark, seg, out, ckpt))
    store = spark.read.parquet(out)
    assert store.count() == 20
    assert store.select("transaction_id").distinct().count() == 20
    assert os.listdir(os.path.join(out, "_staging")) == []


def test_profile_sink_replay_is_not_counted_twice(spark, tmp_path):
    """Crash after profile_sink_writer's write for epoch 0 returned,
    before Spark commits the epoch: the replay must not add a second
    partial, so the merged n_rows is the 4 rows streamed, not 6."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from real_time_fraud_detection_system_spark.streaming.jobs import (
        profile_from_partials,
        profile_sink_writer,
    )

    cols = [("user_id", "num")]
    schema = "ts timestamp, user_id long"
    src, partials = tmp_path / "src", str(tmp_path / "partials")
    for i in range(2):
        spark.createDataFrame(
            [(TS, 2 * i), (TS, 2 * i + 1)], schema
        ).coalesce(1).write.parquet(str(src / f"b{i}"))
    real_sink = profile_sink_writer(partials, cols)
    crashed = []

    def crashing_sink(batch_df, epoch_id):
        real_sink(batch_df, epoch_id)
        if not crashed:
            crashed.append(epoch_id)
            raise RuntimeError("injected crash after the sink's write")

    def run(sink):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
            .writeStream.option("checkpointLocation", str(tmp_path / "ckpt"))
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )

    with pytest.raises(StreamingQueryException):
        run(crashing_sink).awaitTermination(120)
    assert crashed == [0]
    run(real_sink).awaitTermination(120)
    prof = profile_from_partials(spark, partials, cols).first()
    assert prof["n_rows"] == 4


def test_kafka_peek_newest_first_over_recorded_segment(spark, tmp_path):
    """S4 (kafka_peek) semantics without a broker: a batch read of a
    recorded wire segment through ``peek_newest`` returns the n NEWEST
    messages by broker timestamp, parsed, with corrupt payloads
    surfaced (not filtered) -- the diagnostic contract of the
    reference's GET /peek."""
    from real_time_fraud_detection_system_spark.streaming.pipeline import (
        peek_newest,
    )

    seg = str(tmp_path / "peek_seg")
    rows = [
        (f"P{i:02d}", 5.0 + i, (1, 0.5, 9.0), TS + datetime.timedelta(minutes=i))
        for i in range(8)
    ]
    txns = spark.createDataFrame(rows, TXN_SCHEMA)
    # broker timestamp tracks the event minute so newest-first is
    # observable; one garbage record lands SECOND-newest
    wire = kafka_sink_options(txns).select(
        F.encode("value", "UTF-8").alias("value"),
        F.get_json_object(F.col("value"), "$.event_time").alias("_et"),
    ).select(
        F.lit(None).cast("binary").alias("key"),
        "value",
        F.lit("transactions").alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.to_timestamp("_et").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    corrupt = spark.createDataFrame(
        [(None, bytearray(b"{not json!"), "transactions", 0, 99)],
        "key binary, value binary, topic string, partition int, offset long",
    ).select(
        "key", "value", "topic", "partition", "offset",
        F.lit(TS + datetime.timedelta(minutes=6, seconds=30)).alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    wire.unionByName(corrupt).coalesce(1).write.parquet(seg)

    raw = spark.read.schema(KAFKA_WIRE_SCHEMA).parquet(seg)
    got = peek_newest(raw, 3).collect()
    assert len(got) == 3
    # newest first: P07 (minute 7), then the corrupt record (6:30),
    # then P06 (minute 6)
    assert got[0]["transaction_id"] == "P07" and not got[0]["_corrupt"]
    assert got[1]["_corrupt"] and got[1]["raw_payload"] == "{not json!"
    assert got[2]["transaction_id"] == "P06" and not got[2]["_corrupt"]
    # parse parity with the hot path: amount/event_time round-trip
    assert abs(got[0]["amount"] - 12.0) < 1e-9
    assert got[0]["event_time"] == TS + datetime.timedelta(minutes=7)
