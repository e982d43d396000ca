"""T8 hot-model-reload test: the registry-refreshing pipeline scores the
first epoch with the heuristic fallback (empty registry), later epochs
with the newly promoted model, and after a second promotion the newer
one -- the load memo never pins an old model."""

from pyspark.sql import functions as F

from real_time_fraud_detection_system_spark.sources.generators import (
    transactions_batch,
)
from real_time_fraud_detection_system_spark.streaming.pipeline import (
    run_pipeline_with_registry,
)


def test_registry_refresh_switches_model_mid_stream(spark, tmp_path):
    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    reg = str(tmp_path / "registry")

    txn_schema = (
        "transaction_id string, amount double, "
        "features struct<num_items:int,merchant_risk:double,hour:double>, "
        "event_time timestamp"
    )

    def run_once():
        stream = spark.readStream.schema(txn_schema).parquet(str(src / "*"))
        q = run_pipeline_with_registry(stream, str(out), str(ckpt), reg)
        q.awaitTermination(120)

    # epoch 1: empty registry -> heuristic fallback (null model_version)
    transactions_batch(spark, 50, seed=1).write.parquet(str(src / "b1"))
    run_once()

    # promote a model, then stream more data through the SAME checkpoint
    from real_time_fraud_detection_system_spark.ml.training import (
        train_and_register,
    )
    from real_time_fraud_detection_system_spark.sources.generators import (
        training_frame,
    )

    train_and_register(training_frame(spark, 500, seed=3), reg)
    transactions_batch(spark, 50, seed=2).write.parquet(str(src / "b2"))
    run_once()

    preds = spark.read.parquet(str(out))
    versions = {
        r["model_version"]
        for r in preds.select("model_version").distinct().collect()
    }
    assert None in versions, "first epoch used the heuristic fallback"
    assert "1" in versions, "post-promotion epoch scored with model v1"
    assert preds.count() == 100
    # heuristic rows keep reference semantics: proba in {0.05, 1.0}
    heur = preds.filter(F.col("model_version").isNull())
    assert heur.filter(~F.col("proba").isin(0.05, 1.0)).count() == 0

    # promote v2 on the same registry and checkpoint: the next batch
    # must be scored with it
    train_and_register(training_frame(spark, 500, seed=4), reg)
    transactions_batch(spark, 50, seed=5).write.parquet(str(src / "b3"))
    run_once()

    preds = spark.read.parquet(str(out))
    # transaction_id is uuid(): read the ids back, do not re-evaluate
    ids3 = [
        r["transaction_id"]
        for r in spark.read.parquet(str(src / "b3")).collect()
    ]
    third = preds.filter(F.col("transaction_id").isin(ids3))
    versions3 = {r["model_version"] for r in third.select("model_version").collect()}
    assert versions3 == {"2"}, "post-second-promotion batch scored with v2"
    assert third.count() == 50
    assert preds.count() == 150
    assert preds.select("transaction_id").distinct().count() == 150
