"""OpsLogListener + ops_log_summary: every micro-batch of a real
streaming query lands in the JSONL ops log with exact row accounting,
and the summary frame rolls it up per run."""

import pytest


def test_ops_log_accounts_every_batch(spark, tmp_path):
    from real_time_fraud_detection_system_spark.sources.datasource import (
        register,
    )
    from real_time_fraud_detection_system_spark.streaming.observability import (
        PHASES,
        OpsLogListener,
        ops_log_summary,
        read_ops_log,
    )

    register(spark)
    listener = OpsLogListener(str(tmp_path / "ops"))
    spark.streams.addListener(listener)
    try:
        q = (
            spark.readStream.format("fraudgen")
            .option("rowsPerBatch", "40")
            .option("maxRows", "120")
            .load()
            .dropDuplicates(["id"])
            .writeStream.format("noop")
            .queryName("opslog_probe")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        # progress events flush asynchronously after the batch commits
        import time

        raw = None
        for _ in range(40):
            raw = read_ops_log(spark, str(tmp_path / "ops")).filter(
                "event = 'progress' AND num_input_rows > 0"
            )
            if raw.count() >= 3:
                break
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)

    rows = raw.collect()
    assert sum(r["num_input_rows"] for r in rows) == 120
    assert all(r["name"] == "opslog_probe" for r in rows)
    # the full durationMs phase map, each phase inside the trigger
    for r in rows:
        phases = [r[col] for col in PHASES]
        assert None not in phases, r
        assert sum(phases) <= r["batch_duration_ms"], r
    # the dedup's state: every distinct id is held, none dropped
    last = max(rows, key=lambda r: r["batch_id"])
    assert last["state_rows_total"] == 120
    assert all(r["state_rows_dropped_by_watermark"] == 0 for r in rows)
    assert all(r["state_commit_ms"] is not None for r in rows)

    summary = ops_log_summary(spark, str(tmp_path / "ops")).filter(
        "total_rows > 0"
    ).collect()
    assert len(summary) == 1
    s = summary[0]
    assert s["total_rows"] == 120
    assert s["n_batches"] >= 3
    assert s["max_batch_rows"] <= 40
