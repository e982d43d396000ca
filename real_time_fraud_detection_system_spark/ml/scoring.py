"""Scoring (P3-P8, M8): one ``score(df, model)`` shared by the batch,
streaming, and request/response surfaces -- the reference shares
main.py:99-121 the same way across its EP1/EP2 paths.

Semantics reproduced:
  * P3 ordered feature projection with missing->0.0 defaults (main.py:107)
  * P4 amount injected into features (main.py:176-177, 227-228)
  * P5 type coercions with defaults (main.py:225-226)
  * P6 threshold: prediction = int(proba >= 0.5) (main.py:178, 230)
  * P7 heuristic fallback when no model: proba = 1.0 if amount > 1000
    else 0.05 (main.py:100-104)
  * P8 probability-column extraction (main.py:112-118) via
    vector_to_array(probability)[1]

Everything is JVM-side; the model path is a single PipelineModel
transform (MLlib broadcasts coefficients internally).
"""

from __future__ import annotations

from pyspark.ml import PipelineModel
from pyspark.ml.functions import vector_to_array
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.generators import FEATURE_ORDER

THRESHOLD = 0.5


def heuristic_proba(amount: Column) -> Column:
    """P7: the no-model fallback (main.py:100-104)."""
    return F.when(amount > 1000, F.lit(1.0)).otherwise(F.lit(0.05))


def project_features(df: DataFrame) -> DataFrame:
    """P3/P4/P5: coerce + project the open-ended features struct/map to
    the fixed FEATURE_ORDER columns, missing keys -> 0.0, amount copied
    into the feature set, extra keys ignored by construction."""
    from pyspark.sql.types import MapType

    out = df.withColumn(
        "amount", F.coalesce(F.col("amount").cast("double"), F.lit(0.0))
    )
    is_map = isinstance(df.schema["features"].dataType, MapType)
    for name in FEATURE_ORDER:
        if name == "amount":
            continue
        accessor = (
            F.col("features").getItem(name) if is_map else F.col(f"features.{name}")
        )
        out = out.withColumn(
            name, F.coalesce(accessor.cast("double"), F.lit(0.0))
        )
    return out


def score(df: DataFrame, model: PipelineModel | None = None,
          model_version: str | None = None) -> DataFrame:
    """M8: proba + prediction + model_version columns appended.

    With a model: PipelineModel.transform -> probability[1].
    Without: the P7 heuristic. Both end with the P6 threshold.
    """
    projected = project_features(df)
    if model is None:
        scored = projected.withColumn("proba", heuristic_proba(F.col("amount")))
        version = F.lit(None).cast("string")
    else:
        scored = model.transform(projected).withColumn(
            "proba", vector_to_array(F.col("probability")).getItem(1)
        )
        version = F.lit(model_version)
    result = scored.withColumn(
        "prediction", (F.col("proba") >= THRESHOLD).cast("int")
    ).withColumn("model_version", version)
    drop = [c for c in ("features_vec", "features_scaled", "rawPrediction",
                        "probability") if c in result.columns]
    return result.drop(*drop)


def score_one(spark, model, transaction: dict) -> dict:
    """EP2 (S9): the request/response surface -- score a single JSON
    transaction through the same engine code path on a 1-row DataFrame.

    The amount is read from the JSON payload by Spark's JSON reader, as
    the wire parse reads it (a string or boolean amount reads as null),
    and project_features then applies P5 (null -> 0.0), so a request
    scores exactly like the same payload arriving on the stream."""
    import json as _json

    features = {
        k: float(v)
        for k, v in (transaction.get("features") or {}).items()
        if isinstance(v, (int, float))
    }
    df = spark.createDataFrame(
        [
            (
                str(transaction.get("transaction_id")),
                features,
                _json.dumps(transaction),
            )
        ],
        "transaction_id string, features map<string,double>, raw_payload string",
    ).withColumn(
        "amount", F.from_json("raw_payload", "amount double")["amount"]
    )
    out = score(df, model).select("prediction", "proba", "model_version").first()
    return {
        "prediction": int(out["prediction"]),
        "proba": float(out["proba"]),
        "model_version": out["model_version"],
    }
