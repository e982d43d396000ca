"""Training pipeline (M2-M7): assembler -> scaler -> logistic regression.

Reference parity (services/training/app/training.py):
  * StandardScaler fit on train, applied to train+test (lines 47-49)
    -> MLlib StandardScaler(withMean=True, withStd=True) inside ONE
    Pipeline, so scaling params always travel with the model (this also
    fixes the reference's signature-computed-with-refit-scaler bug at
    training.py:75 by construction).
  * LogisticRegression(max_iter=1000) (line 51) -> MLlib LogisticRegression.
  * ROC-AUC eval (line 53-55) -> BinaryClassificationEvaluator.
  * Registry promote-latest-to-Production (lines 100-110) -> versioned
    save dirs + a 'Production' pointer file (the intended semantics, not
    the reference's version-as-run-id bug at main.py:82).

Scale: MLlib LR trains via distributed L-BFGS over the assembled vector
column; nothing below collects the training frame to the driver.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.feature import StandardScaler, VectorAssembler
from pyspark.sql import DataFrame

from ..sources.generators import FEATURE_ORDER

PRODUCTION_POINTER = "PRODUCTION"

# ---------------------------------------------------------------------------
# Optional MLflow mirror (reference training.py:60-110 literal parity).
# The engine's registry of record stays the versioned-path + Production-
# pointer layout above -- it needs no server and every test/driver run
# exercises it. When BOTH the env flag is set and mlflow imports, the
# same save/promote calls ALSO mirror to an MLflow tracking server the
# way the reference does (log_metric("auc"), registered model, promote
# latest to the Production stage). Off by default so the engine never
# grows a hard network dependency; tests skip when mlflow is absent.
MLFLOW_FLAG = "SPARK_GRAFT_MLFLOW"
MLFLOW_MODEL_NAME = os.environ.get("REGISTERED_MODEL_NAME", "fraud_detector")


def _mlflow():
    """The mlflow module when mirroring is enabled AND importable."""
    if os.environ.get(MLFLOW_FLAG, "").lower() not in ("1", "true", "yes"):
        return None
    try:
        import mlflow

        return mlflow
    except ImportError:
        return None


def _mlflow_mirror_save(model: PipelineModel, version: int, auc: float):
    """Mirror of reference training.py:72-99: one run logging the AUC
    and the model under the registered name. Spark-first: the artifact
    is the PipelineModel itself (mlflow.spark), not a pyfunc wrapper
    around a re-fit scaler."""
    mlflow = _mlflow()
    if mlflow is None:
        return None
    with mlflow.start_run() as run:
        mlflow.log_metric("auc", auc)
        mlflow.log_param("engine_version", version)
        mlflow.spark.log_model(
            model,
            artifact_path="model",
            registered_model_name=MLFLOW_MODEL_NAME,
        )
    return run.info.run_id


def _mlflow_mirror_promote() -> None:
    """Mirror of reference training.py:101-110: promote the newest
    registered version to the Production stage."""
    mlflow = _mlflow()
    if mlflow is None:
        return
    client = mlflow.tracking.MlflowClient()
    versions = client.get_latest_versions(MLFLOW_MODEL_NAME)
    if versions:
        newest = max(versions, key=lambda v: int(v.version))
        client.transition_model_version_stage(
            name=MLFLOW_MODEL_NAME,
            version=newest.version,
            stage="Production",
        )


def build_pipeline() -> Pipeline:
    assembler = VectorAssembler(
        inputCols=list(FEATURE_ORDER), outputCol="features_vec"
    )
    scaler = StandardScaler(
        inputCol="features_vec",
        outputCol="features_scaled",
        withMean=True,
        withStd=True,
    )
    lr = LogisticRegression(
        featuresCol="features_scaled",
        labelCol="label",
        maxIter=1000,
        probabilityCol="probability",
    )
    return Pipeline(stages=[assembler, scaler, lr])


def train(df: DataFrame, seed: int = 42) -> tuple[PipelineModel, float]:
    """Fit on a 75/25 split (training.py:45 uses stratified 0.25 test;
    randomSplit is the distributed equivalent at n >= 5000) and return
    (model, test AUC)."""
    train_df, test_df = df.randomSplit([0.75, 0.25], seed=seed)
    model = build_pipeline().fit(train_df)
    evaluator = BinaryClassificationEvaluator(
        labelCol="label",
        rawPredictionCol="rawPrediction",
        metricName="areaUnderROC",
    )
    auc = float(evaluator.evaluate(model.transform(test_df)))
    return model, auc


def save_version(model: PipelineModel, registry_dir: str, auc: float) -> int:
    """Save the model as the next version and return the version number."""
    os.makedirs(registry_dir, exist_ok=True)
    versions = [
        int(d[1:])
        for d in os.listdir(registry_dir)
        if d.startswith("v") and d[1:].isdigit()
    ]
    version = max(versions, default=0) + 1
    path = os.path.join(registry_dir, f"v{version}")
    model.write().overwrite().save(path)
    meta = {"version": version, "auc": auc, "created_at": time.time()}
    run_id = _mlflow_mirror_save(model, version, auc)
    if run_id is not None:
        meta["mlflow_run_id"] = run_id
    with open(os.path.join(registry_dir, f"v{version}.json"), "w") as f:
        json.dump(meta, f)
    return version


def promote_to_production(registry_dir: str, version: int) -> None:
    """Stage promotion: point 'Production' at a version (M7 intended
    semantics -- latest promoted wins, prior versions implicitly archived).
    The pointer is replaced atomically (temp file + rename), so a reader
    sees the old version or the new one, never a truncated file."""
    tmp = os.path.join(
        registry_dir,
        f".{PRODUCTION_POINTER}.{os.getpid()}.{threading.get_ident()}",
    )
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(registry_dir, PRODUCTION_POINTER))
    _mlflow_mirror_promote()


# Loaded models kept per (JVM, version dir, metadata identity); a small
# constant because a process serves one Production model at a time.
_LOADED_MODELS = 4


@functools.lru_cache(maxsize=_LOADED_MODELS)
def _load_model(app_id: str, path: str, ino: int, mtime_ns: int) -> PipelineModel:
    return PipelineModel.load(path)


def load_production(
    spark, registry_dir: str | None
) -> tuple[PipelineModel | None, str | None]:
    """S8: load the current Production model, or (None, None) when there
    is no registry or no Production model in it (callers then use the
    heuristic fallback -- main.py:100-104).

    Every call re-reads the pointer, so a promotion is seen by the next
    call; the load itself is memoized on the live SparkContext and the
    identity (inode, mtime) of the version's ``metadata``, so an
    unchanged Production costs one read and one stat, a restarted JVM
    never gets another JVM's model, and a registry wiped and re-trained
    into the same ``v{n}`` reloads. Callers share the returned model, so
    they must not set params on it."""
    if registry_dir is None:
        return None, None
    pointer = os.path.join(registry_dir, PRODUCTION_POINTER)
    if not os.path.exists(pointer):
        return None, None
    with open(pointer) as f:
        version = f.read().strip()
    path = os.path.join(registry_dir, f"v{version}")
    if not os.path.isdir(path):
        return None, None
    path = os.path.realpath(path)
    meta = os.stat(os.path.join(path, "metadata"))
    model = _load_model(
        spark.sparkContext.applicationId, path, meta.st_ino, meta.st_mtime_ns
    )
    return model, version


def train_and_register(df: DataFrame, registry_dir: str, seed: int = 42) -> dict:
    """T9 'train_and_register' job: fit, eval, save, promote."""
    model, auc = train(df, seed=seed)
    version = save_version(model, registry_dir, auc)
    promote_to_production(registry_dir, version)
    return {"version": version, "auc": auc}
