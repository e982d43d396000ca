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
  * P8 probability of the fraud class (main.py:112-118): the sigmoid of
    the model's margin, read from its compiled constants

The registry's model has one shape, VectorAssembler(FEATURE_ORDER) ->
StandardScalerModel -> binary LogisticRegressionModel, so its
probability is a closed form of a handful of constants: the scaler's
mean and 1/std (0 where std is 0, as MLlib's scaler does), the
coefficients and the intercept. ``compiled(model)`` reads them once
per loaded model and keeps two faces of the same formula:

  * Catalyst Columns, built once per JVM, that ``score`` adds to a
    micro-batch in one projection -- no MLlib transform plan per batch;
  * a plain-Python ``proba``, with which ``score_one`` answers a
    request without a Spark job.

The heuristic is the same kind of compiled scorer. A PipelineModel of
any other shape scores through ``model.transform``.
"""

from __future__ import annotations

import json
import math
import weakref

from pyspark import SparkContext
from pyspark.ml import PipelineModel
from pyspark.ml.classification import LogisticRegressionModel
from pyspark.ml.feature import StandardScalerModel, VectorAssembler
from pyspark.ml.functions import vector_to_array
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.generators import FEATURE_ORDER
from ..streaming.pipeline import TRANSACTION_SCHEMA, parse_transactions

THRESHOLD = 0.5
HEURISTIC_AMOUNT = 1000.0
_AMOUNT = FEATURE_ORDER.index("amount")


def _feature_columns() -> dict[str, Column]:
    """P3/P4/P5: the FEATURE_ORDER columns of a parsed frame, missing or
    null -> 0.0, amount taken from the top level, extra keys ignored by
    construction."""
    return {
        name: F.coalesce(
            F.col(name if name == "amount" else f"features.{name}").cast("double"),
            F.lit(0.0),
        )
        for name in FEATURE_ORDER
    }


class CompiledModel:
    """A scorer reduced to constants. ``terms`` holds one (mean, 1/std,
    coefficient) triple per FEATURE_ORDER column; ``terms=None`` is the
    P7 heuristic."""

    def __init__(self, terms: tuple[tuple[float, float, float], ...] | None = None,
                 intercept: float = 0.0):
        self.terms = terms
        self.intercept = intercept
        self._built = None  # (the JVM the Columns live in, the Columns)

    def proba(self, x: tuple[float, ...]) -> float:
        """The fraud probability of one FEATURE_ORDER vector, computed
        in the same order as the Column of ``columns``."""
        if self.terms is None:
            return 1.0 if x[_AMOUNT] > HEURISTIC_AMOUNT else 0.05
        margin = self.intercept
        for xi, (mean, inv_std, coef) in zip(x, self.terms):
            margin = margin + ((xi - mean) * inv_std) * coef
        try:
            e = math.exp(-margin)
        except OverflowError:  # the JVM's exp gives +inf
            e = math.inf
        return 1.0 / (1.0 + e)

    def columns(self) -> dict[str, Column]:
        """The columns ``score`` adds: the four features, ``proba`` and
        ``prediction``, in today's output order (a model's prediction
        column precedes proba; the heuristic's follows it). Built once
        per JVM gateway, since a Column is a handle into it."""
        jvm = SparkContext._jvm
        if self._built is None or self._built[0] is not jvm:
            features = _feature_columns()
            if self.terms is None:
                proba = F.when(
                    features["amount"] > HEURISTIC_AMOUNT, F.lit(1.0)
                ).otherwise(F.lit(0.05))
            else:
                margin = F.lit(self.intercept)
                for name, (mean, inv_std, coef) in zip(FEATURE_ORDER, self.terms):
                    margin = margin + ((features[name] - mean) * inv_std) * coef
                proba = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
            prediction = (proba >= THRESHOLD).cast("int")
            if self.terms is None:
                cols = {**features, "proba": proba, "prediction": prediction}
            else:
                cols = {**features, "prediction": prediction, "proba": proba}
            self._built = (jvm, cols)
        return self._built[1]


HEURISTIC = CompiledModel()

# model -> its CompiledModel, or None for a shape that is not compiled;
# an entry lives as long as the load memo (or a caller) keeps the model
_COMPILED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _compile(model: PipelineModel) -> CompiledModel | None:
    """The constants of VectorAssembler(FEATURE_ORDER) ->
    StandardScalerModel -> binary LogisticRegressionModel, or None for
    any other PipelineModel."""
    stages = getattr(model, "stages", ())
    if len(stages) != 3:
        return None
    assembler, scaler, lr = stages
    if not (
        isinstance(assembler, VectorAssembler)
        and isinstance(scaler, StandardScalerModel)
        and isinstance(lr, LogisticRegressionModel)
        and tuple(assembler.getInputCols()) == FEATURE_ORDER
        # "skip" drops a row with a NaN feature instead of scoring it
        and assembler.getHandleInvalid() != "skip"
        and scaler.getInputCol() == assembler.getOutputCol()
        and lr.getFeaturesCol() == scaler.getOutputCol()
        and lr.coefficientMatrix.numRows == 1  # binomial
    ):
        return None
    n = len(FEATURE_ORDER)
    mean = scaler.mean.toArray() if scaler.getWithMean() else [0.0] * n
    inv_std = (
        [1.0 / s if s != 0.0 else 0.0 for s in scaler.std.toArray()]
        if scaler.getWithStd()
        else [1.0] * n
    )
    terms = tuple(
        (float(m), float(i), float(c))
        for m, i, c in zip(mean, inv_std, lr.coefficients.toArray())
    )
    return CompiledModel(terms, float(lr.intercept))


def compiled(model: PipelineModel | None) -> CompiledModel | None:
    """The compiled scorer of ``model`` (the heuristic for None), or None
    when the model's shape is not compiled. Compiled once per model
    object; callers share the returned scorer."""
    if model is None:
        return HEURISTIC
    if model not in _COMPILED:
        _COMPILED[model] = _compile(model)
    return _COMPILED[model]


def score(df: DataFrame, model: PipelineModel | None = None,
          model_version: str | None = None) -> DataFrame:
    """M8: the four features (amount replaced in place), prediction,
    proba and model_version added to a parsed frame, in one projection.

    A compiled model (or the P7 heuristic) adds its prebuilt Columns;
    any other PipelineModel goes through ``transform``. Every path ends
    with the P6 threshold."""
    scorer = compiled(model)
    if model is None:
        version = F.lit(None).cast("string")
    else:
        version = F.lit(model_version)
    if scorer is not None:
        return df.withColumns({**scorer.columns(), "model_version": version})
    projected = df.withColumns(_feature_columns())
    proba = vector_to_array(F.col("probability")).getItem(1)
    return model.transform(projected).select(
        *projected.columns,
        (proba >= THRESHOLD).cast("int").alias("prediction"),
        proba.alias("proba"),
        version.alias("model_version"),
    )


def _wire_types() -> dict[str, T.DataType]:
    features = TRANSACTION_SCHEMA["features"].dataType
    return {
        name: (TRANSACTION_SCHEMA if name == "amount" else features)[name].dataType
        for name in FEATURE_ORDER
    }


_WIRE_TYPES = _wire_types()
_INT32 = range(-(2**31), 2**31)


def _request_features(tx) -> tuple[float, ...] | None:
    """The FEATURE_ORDER vector that ``score(parse_transactions(...))``
    would compute for a decoded request, when the wire parse types every
    feature without coercion: a finite JSON number (not a bool) for a
    double, an int32 integer for an int, null or missing for either, and
    ``features`` an object or null. None for any other payload."""
    if not isinstance(tx, dict):
        return None
    features = tx.get("features")
    if features is None:
        features = {}
    elif not isinstance(features, dict):
        return None
    out = []
    for name, wire_type in _WIRE_TYPES.items():
        v = tx.get(name) if name == "amount" else features.get(name)
        if v is None:
            out.append(0.0)
            continue
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            return None
        if isinstance(wire_type, T.IntegerType):
            if not isinstance(v, int) or v not in _INT32:
                return None
        elif not isinstance(wire_type, T.DoubleType):
            return None
        try:
            x = float(v)
        except OverflowError:
            return None
        if not math.isfinite(x):
            return None
        out.append(x)
    return tuple(out)


def score_one(spark, model, transaction: dict,
              model_version: str | None = None) -> dict:
    """EP2 (S9): the request/response surface -- score one JSON
    transaction exactly like the same payload arriving on the stream
    and scored by ``score``.

    A compiled model answers a payload that the wire parse types without
    coercion from its Python face: no Spark job. Any other payload, or
    a model of another shape, goes through ``score(parse_transactions
    (...))`` on a one-row inline relation, which Spark evaluates on the
    driver, also without a job."""
    wire = json.dumps(transaction)
    scorer = compiled(model)
    x = _request_features(json.loads(wire)) if scorer is not None else None
    if x is not None:
        proba = scorer.proba(x)
        # Spark orders NaN above every number, so NaN >= 0.5 holds there
        prediction = int(not proba < THRESHOLD)
        version = model_version if model is not None else None
        return {"prediction": prediction, "proba": proba, "model_version": version}
    raw = spark.sql("SELECT * FROM VALUES (:wire) AS t(value)", args={"wire": wire})
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
