"""T1-T8 streaming semantics tests: dedup, dead-letter, windowing, the
end-to-end hot path into the partitioned sink (SURVEY.md section 5.4)."""

import glob
import json
import os


from pyspark.sql import functions as F

from real_time_fraud_detection_system_spark.streaming.pipeline import (
    file_drop_source,
    parse_transactions,
    run_pipeline_with_registry,
    valid_transactions,
)
from real_time_fraud_detection_system_spark.sources.generators import (
    transactions_stream,
)


def test_parse_and_dead_letter(spark):
    # T6: malformed JSON -> _corrupt, routed, never dropped silently
    good = json.dumps(
        {
            "transaction_id": "t-1",
            "amount": 12.5,
            "features": {"num_items": 2, "merchant_risk": 0.3, "hour": 4.0},
            "event_time": "2024-01-01T10:00:00Z",
        }
    )
    rows = [(good,), ("{not json",), (json.dumps({"amount": 1.0}),)]
    raw = spark.createDataFrame(rows, "value string")
    out = parse_transactions(raw).collect()
    by_payload = {r["raw_payload"]: r for r in out}
    assert not by_payload[good]["_corrupt"]
    assert by_payload[good]["amount"] == 12.5
    assert by_payload["{not json"]["_corrupt"]
    assert sum(r["_corrupt"] for r in out) == 2


def test_streaming_dedup_exactly_once(spark, tmp_path):
    # T2: duplicate transaction_ids within the watermark collapse to one
    dup = [
        ("dup-1", 10.0, 1, 0.1, 5.0, "2024-01-01 10:00:00"),
        ("dup-1", 10.0, 1, 0.1, 5.0, "2024-01-01 10:00:01"),
        ("uni-2", 20.0, 2, 0.2, 6.0, "2024-01-01 10:00:02"),
    ]
    df = spark.createDataFrame(
        dup,
        "transaction_id string, amount double, num_items int, "
        "merchant_risk double, hour double, event_time string",
    ).select(
        "transaction_id",
        "amount",
        F.struct("num_items", "merchant_risk", "hour").alias("features"),
        F.col("event_time").cast("timestamp").alias("event_time"),
    )
    src_dir, out_dir, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    df.write.parquet(src_dir)
    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    q = run_pipeline_with_registry(stream, out_dir, ckpt)
    q.awaitTermination(120)
    result = spark.read.parquet(out_dir)
    assert result.count() == 2
    assert result.filter("transaction_id = 'dup-1'").count() == 1
    # date-partitioned sink layout (S5 physical design)
    assert glob.glob(f"{out_dir}/event_date=*")


def test_rate_source_scored_stream(spark, tmp_path):
    # EP1 smoke on the rate source: events flow, get scored, land in the
    # sink with the full predictions schema
    stream = transactions_stream(spark, rows_per_second=500)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = run_pipeline_with_registry(stream, out_dir, ckpt, trigger_seconds=1)
    try:
        import time

        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            files = glob.glob(f"{out_dir}/event_date=*/*.parquet")
            if files:
                n = spark.read.parquet(out_dir).count()
                if n > 0:
                    break
            time.sleep(1)
    finally:
        q.stop()
    assert n > 0
    cols = set(spark.read.parquet(out_dir).columns)
    assert {"transaction_id", "amount", "proba", "prediction"} <= cols


def test_windowed_counts_memory_sink(spark):
    # T4: event-time sliding window with watermark over a file stream
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        rows = [
            ("a", 10.0, "2024-01-01 10:01:00"),
            ("b", 20.0, "2024-01-01 10:20:00"),
            ("c", 30.0, "2024-01-01 11:30:00"),
        ]
        df = spark.createDataFrame(
            rows, "transaction_id string, amount double, event_time string"
        ).withColumn("event_time", F.col("event_time").cast("timestamp"))
        df.write.parquet(f"{d}/src")
        stream = spark.readStream.schema(df.schema).parquet(f"{d}/src")
        from real_time_fraud_detection_system_spark.streaming.pipeline import (
            windowed_counts,
        )

        q = (
            windowed_counts(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("win_test")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.sql("SELECT * FROM win_test").collect()
        # append mode emits only windows the watermark has closed; the
        # 11:30 event advances the watermark past the 10:0x windows
        assert any(r["n"] >= 1 for r in out)


def test_kafka_sink_wire_format(spark):
    # broker-gated path: assert the sink projection produces the wire
    # format the consumer-side parser round-trips
    from real_time_fraud_detection_system_spark.sources.generators import (
        transactions_batch,
    )
    from real_time_fraud_detection_system_spark.streaming.pipeline import (
        kafka_sink_options,
        parse_transactions,
    )

    txns = transactions_batch(spark, 5, seed=11)
    wire = kafka_sink_options(txns)
    assert wire.columns == ["value"]
    back = parse_transactions(wire)
    rows = back.collect()
    assert len(rows) == 5 and all(not r["_corrupt"] for r in rows)
    assert {r["transaction_id"] for r in rows} == {
        r["transaction_id"] for r in txns.collect()
    }


def test_streaming_query_status_surface(spark, tmp_path):
    # S10: health/status = StreamingQuery.status / lastProgress
    from real_time_fraud_detection_system_spark.sources.generators import (
        transactions_stream,
    )
    q = run_pipeline_with_registry(
        transactions_stream(spark, rows_per_second=100),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        trigger_seconds=1,
    )
    try:
        import time

        time.sleep(4)
        status = q.status
        assert set(status) >= {"message", "isDataAvailable", "isTriggerActive"}
        assert q.id is not None
    finally:
        q.stop()


def test_file_drop_source_end_to_end(spark, tmp_path):
    """Landing-zone ingestion: JSON payload lines dropped as files flow
    through the same parse -> dead-letter -> score path as the broker
    wire; corrupt lines surface flagged instead of vanishing."""
    from real_time_fraud_detection_system_spark.ml.scoring import score
    from real_time_fraud_detection_system_spark.sources.generators import (
        transactions_batch,
    )
    from real_time_fraud_detection_system_spark.streaming.pipeline import (
        file_drop_source,
        kafka_sink_options,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    txns = transactions_batch(spark, 40)
    payloads = [
        r["value"]
        for r in kafka_sink_options(txns).collect()
    ]
    (landing / "a.json").write_text("\n".join(payloads[:20]))
    (landing / "b.json").write_text(
        "\n".join(payloads[20:] + ["{not json at all"])
    )

    got = {"parsed": 0, "corrupt": 0, "scored": 0}

    def sink(batch_df, epoch_id):
        parsed = parse_transactions(batch_df).cache()
        got["corrupt"] += parsed.filter("_corrupt").count()
        clean = parsed.filter("NOT _corrupt")
        got["parsed"] += clean.count()
        got["scored"] += (
            score(clean).filter(F.col("proba").isNotNull()).count()
        )
        parsed.unpersist()

    q = (
        file_drop_source(spark, str(landing), max_files_per_trigger=1)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert got["parsed"] == 40
    assert got["corrupt"] == 1
    assert got["scored"] == 40


def test_drain_runs_no_empty_batch_and_keeps_dedup_state(spark, tmp_path):
    """An availableNow drain runs one micro-batch per landed file and no
    empty one at the end; the dedup state it leaves in the checkpoint
    still drops an exact redelivery in the next drain."""
    landing, out, ckpt = tmp_path / "landing", tmp_path / "out", tmp_path / "ckpt"
    landing.mkdir()

    def payload(i):
        return json.dumps({
            "transaction_id": f"s{i}",
            "amount": 10.0 + i,
            "features": {"num_items": 1 + i % 3, "merchant_risk": 0.5, "hour": 3.0},
            "event_time": f"2024-01-01T10:{i:02d}:00Z",
        })

    def land(k, ids):
        path = landing / f"part-{k}.json"
        path.write_text("\n".join(payload(i) for i in ids) + "\n")
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))

    def drain():
        q = run_pipeline_with_registry(
            valid_transactions(file_drop_source(spark, str(landing), 1)),
            str(out),
            str(ckpt),
        )
        q.awaitTermination(180)
        assert q.exception() is None
        return q.recentProgress

    land(0, range(0, 10))
    land(1, range(10, 20))
    first = drain()
    # id 15 is inside the 10-minute watermark (max event 10:19), so its
    # redelivery must hit the dedup state, not the late-row filter
    land(2, [*range(20, 30), 15])
    second = drain()
    assert [p["numInputRows"] for p in first + second] == [10, 10, 11]
    dropped = sum(
        op["customMetrics"]["numDroppedDuplicateRows"]
        for p in second
        for op in p["stateOperators"]
    )
    assert dropped == 1
    store = spark.read.parquet(str(out))
    assert store.count() == 30
    assert store.select("transaction_id").distinct().count() == 30
