"""EP1 -> EP3 full loop: transactions stream through the hot path into
the date-partitioned prediction store, then the scheduled jobs (daily
metrics upsert + DQ checks) run over that store -- the reference's whole
system in one test (SURVEY.md section 5.5)."""

import os

from pyspark.sql import functions as F

from real_time_fraud_detection_system_spark.sources.generators import (
    transactions_batch,
)
from real_time_fraud_detection_system_spark.streaming.jobs import (
    daily_metrics_upsert,
    dq_checks,
)
from real_time_fraud_detection_system_spark.streaming.pipeline import (
    run_pipeline_with_registry,
)

TXN_SCHEMA = (
    "transaction_id string, amount double, "
    "features struct<num_items:int,merchant_risk:double,hour:double>, "
    "event_time timestamp"
)


def test_stream_to_store_to_jobs(spark, tmp_path):
    src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ckpt"
    n = 120
    txns = transactions_batch(spark, n, seed=17)
    txns.write.parquet(str(src / "b1"))

    stream = spark.readStream.schema(TXN_SCHEMA).parquet(str(src / "*"))
    q = run_pipeline_with_registry(stream, str(out), str(ckpt))
    q.awaitTermination(120)

    preds = spark.read.parquet(str(out))
    # every txn scored exactly once (dedup on unique ids is a no-op)
    assert preds.count() == n
    # heuristic fallback semantics (no model passed)
    assert preds.filter(
        ~(
            ((F.col("amount") > 1000) & (F.col("proba") == 1.0))
            | ((F.col("amount") <= 1000) & (F.col("proba") == 0.05))
        )
    ).count() == 0
    # the sink is date-partitioned on disk (partition pruning surface)
    assert any(
        d.startswith("event_date=") for d in os.listdir(str(out))
    )

    # EP3 over the real sink
    daily_metrics_upsert(spark, preds, str(tmp_path / "metrics"))
    metrics = spark.read.parquet(str(tmp_path / "metrics"))
    assert metrics.agg(F.sum("num_predictions")).first()[0] == n

    result = dq_checks(preds)
    assert result["null_ids"] == 0
    assert 0.0 <= result["fraud_rate_1h"] <= 1.0
