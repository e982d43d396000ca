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
    """P3/P4/P5: coerce + project the parsed features struct to the
    fixed FEATURE_ORDER columns, missing keys -> 0.0, amount copied
    into the feature set, extra keys ignored by construction."""
    out = df.withColumn(
        "amount", F.coalesce(F.col("amount").cast("double"), F.lit(0.0))
    )
    for name in FEATURE_ORDER:
        if name == "amount":
            continue
        value = F.col(f"features.{name}").cast("double")
        out = out.withColumn(name, F.coalesce(value, F.lit(0.0)))
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


def score_one(spark, model, transaction: dict,
              model_version: str | None = None) -> dict:
    """EP2 (S9): the request/response surface -- score a single JSON
    transaction through the same engine code path on a 1-row DataFrame.

    The request is parsed by ``parse_transactions``, the wire parse of
    the stream, so a request scores exactly like the same payload
    arriving on the stream."""
    import json

    from ..streaming.pipeline import parse_transactions

    raw = spark.createDataFrame([(json.dumps(transaction),)], "value string")
    out = (
        score(parse_transactions(raw), model, model_version)
        .select("prediction", "proba", "model_version")
        .first()
    )
    return {
        "prediction": int(out["prediction"]),
        "proba": float(out["proba"]),
        "model_version": out["model_version"],
    }
