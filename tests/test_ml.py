"""M2-M8 training + scoring tests (SURVEY.md section 2.8)."""

import json
import math
import os
import random
import shutil
import threading
import time
import uuid

import pytest
from pyspark.ml import Pipeline
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.functions import vector_to_array
from pyspark.sql import functions as F

from real_time_fraud_detection_system_spark.ml import training
from real_time_fraud_detection_system_spark.ml.scoring import (
    _request_features,
    compiled,
    score,
    score_one,
)
from real_time_fraud_detection_system_spark.ml.training import (
    PRODUCTION_POINTER,
    load_production,
    promote_to_production,
    save_version,
    train_and_register,
)
from real_time_fraud_detection_system_spark.sources.generators import (
    FEATURE_ORDER,
    training_frame,
)
from real_time_fraud_detection_system_spark.streaming.pipeline import (
    parse_transactions,
)


def _parsed(spark, *payloads):
    """The wire parse of JSON payloads: what score() sees on the stream."""
    rows = [(json.dumps(p),) for p in payloads]
    return parse_transactions(spark.createDataFrame(rows, "value string"))


@pytest.fixture(scope="module")
def registry(spark, tmp_path_factory):
    reg = str(tmp_path_factory.mktemp("registry"))
    info = train_and_register(training_frame(spark, 5000, seed=42), reg)
    return reg, info


def test_train_auc_beats_chance(registry):
    _, info = registry
    # the generative recipe is intentionally noisy: Bayes-optimal AUC is
    # ~0.627 (measured on 200k draws of the true p); LR at n=5000 lands
    # ~0.61. Assert comfortably above chance, below Bayes.
    assert 0.55 < info["auc"] < 0.65
    assert info["version"] == 1


def test_promote_and_load(spark, registry):
    reg, info = registry
    model, version = load_production(spark, reg)
    assert model is not None and version == "1"


def test_versioning_increments(spark, registry):
    reg, _ = registry
    info2 = train_and_register(training_frame(spark, 2000, seed=7), reg)
    assert info2["version"] == 2
    _, version = load_production(spark, reg)
    assert version == "2"


def test_model_scoring_end_to_end(spark, registry):
    reg, _ = registry
    model, version = load_production(spark, reg)
    df = _parsed(
        spark,
        {"transaction_id": "t1", "amount": 5.0,
         "features": {"num_items": 1, "merchant_risk": 0.01, "hour": 12.0}},
        {"transaction_id": "t2", "amount": 9000.0,
         "features": {"num_items": 9, "merchant_risk": 0.99, "hour": 2.0}},
    )
    rows = {r["transaction_id"]: r for r in score(df, model, version).collect()}
    assert 0.0 <= rows["t1"]["proba"] <= 1.0
    assert rows["t2"]["proba"] > rows["t1"]["proba"]
    assert rows["t2"]["model_version"] == version
    for r in rows.values():
        assert r["prediction"] == int(r["proba"] >= 0.5)


def test_heuristic_fallback_no_model(spark):
    # P7: amount > 1000 -> 1.0 else 0.05 (main.py:100-104)
    df = _parsed(
        spark,
        {"transaction_id": "a", "amount": 1500.0},
        {"transaction_id": "b", "amount": 10.0},
    )
    rows = {r["transaction_id"]: r for r in score(df, None).collect()}
    assert rows["a"]["proba"] == 1.0 and rows["a"]["prediction"] == 1
    assert rows["b"]["proba"] == 0.05 and rows["b"]["prediction"] == 0
    assert rows["a"]["model_version"] is None


def test_feature_defaults_and_extras(spark):
    # P3: missing keys -> 0.0; unknown keys ignored (main.py:64,107)
    df = _parsed(
        spark,
        {"transaction_id": "x", "amount": None,
         "features": {"merchant_risk": 0.5, "bogus_key": 9.9}},
    )
    row = score(df, None).first()
    assert row["amount"] == 0.0  # P5 default
    assert row["num_items"] == 0.0 and row["hour"] == 0.0
    assert row["merchant_risk"] == 0.5
    assert "bogus_key" not in score(df, None).columns


def test_score_one_request_response(spark, registry):
    reg, _ = registry
    model, version = load_production(spark, reg)
    out = score_one(
        spark,
        model,
        {
            "transaction_id": "api-1",
            "amount": 42.0,
            "features": {"num_items": 2, "merchant_risk": 0.6, "hour": 14.0},
        },
        version,
    )
    assert set(out) == {"prediction", "proba", "model_version"}
    assert out["prediction"] in (0, 1)
    assert out["model_version"] == version


_MISSING = object()


@pytest.mark.parametrize(
    "amount, features",
    [
        pytest.param(_MISSING, {}, id="missing"),
        pytest.param(None, {}, id="none"),
        pytest.param("abc", {}, id="abc"),
        pytest.param("12.5", {}, id="numeric-string"),
        pytest.param(2000.0, {}, id="number"),
        pytest.param(True, {}, id="bool"),
        pytest.param(2000.0, {"merchant_risk": True}, id="feature-bool"),
        pytest.param(2000.0, {"num_items": 2.7}, id="feature-float-int"),
        pytest.param(2000.0, {"num_items": "3"}, id="feature-numeric-string"),
    ],
)
def test_score_one_coerces_amount_like_score(spark, registry, amount, features):
    # P5: whatever the amount and features are, a request scores exactly
    # like the same payload arriving on the wire and scored by score()
    tx = {
        "transaction_id": "t",
        "features": {
            "num_items": 3, "merchant_risk": 0.7, "hour": 2.0, **features
        },
        "event_time": "2024-01-01T00:00:00Z",
    }
    if amount is not _MISSING:
        tx["amount"] = amount
    model, _ = load_production(spark, registry[0])
    for m in (None, model):
        ref = score(_parsed(spark, tx), m).first()
        out = score_one(spark, m, tx)
        assert out["prediction"] == ref["prediction"]
        assert out["proba"] == pytest.approx(ref["proba"], rel=1e-12)


def _stream_payloads(n, seed):
    """n wire payloads with the stream's marginals; about one feature in
    five is missing or null, and some amounts and feature objects are."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        features = {
            "num_items": rng.randint(1, 6),
            "merchant_risk": rng.random(),
            "hour": float(rng.randrange(24)),
        }
        for name in list(features):
            r = rng.random()
            if r < 0.1:
                del features[name]
            elif r < 0.2:
                features[name] = None
        amount = round(math.exp(rng.gauss(3.0, 1.0)), 2)
        if rng.random() < 0.05:
            amount = round(amount * rng.uniform(5.0, 60.0), 2)
        tx = {"transaction_id": f"p{i}", "amount": amount, "features": features}
        r = rng.random()
        if r < 0.05:
            del tx["amount"]
        elif r < 0.1:
            tx["amount"] = None
        elif r < 0.12:
            tx["features"] = None
        elif r < 0.14:
            del tx["features"]
        out.append(tx)
    return out


@pytest.fixture(scope="module")
def stream_rows(spark):
    return _parsed(spark, *_stream_payloads(10_000, seed=5)).cache()


@pytest.fixture(scope="module")
def constant_feature_model(spark):
    """The registry's model shape trained with ``hour`` constant, so the
    scaler's std for it is 0."""
    df = training_frame(spark, 3000, seed=11).withColumn("hour", F.lit(5.0))
    model, _ = training.train(df, seed=11)
    return model


def _mllib_gap(model, scored):
    """(max relative error of proba against MLlib's probability[1],
    prediction flips) over a score() output."""
    ref = vector_to_array(F.col("probability")).getItem(1)
    return model.transform(
        scored.withColumnRenamed("prediction", "compiled_prediction")
    ).select(
        F.max(F.abs(F.col("proba") - ref) / ref),
        F.sum((F.col("compiled_prediction") != (ref >= 0.5).cast("int")).cast("int")),
    ).first()


def test_compiled_score_matches_mllib_transform(
    spark, registry, stream_rows, constant_feature_model
):
    model, version = load_production(spark, registry[0])
    assert constant_feature_model.stages[1].std[FEATURE_ORDER.index("hour")] == 0.0
    assert stream_rows.filter(F.col("features.hour").isNull()).count() > 0
    assert stream_rows.filter(F.col("amount").isNull()).count() > 0
    for m in (model, constant_feature_model):
        assert compiled(m) is not None
        rel, flips = _mllib_gap(m, score(stream_rows, m, version))
        assert rel <= 1e-12 and flips == 0


def test_other_pipeline_shape_scores_through_transform(spark, registry, stream_rows):
    no_scaler = Pipeline(stages=[
        VectorAssembler(inputCols=list(FEATURE_ORDER), outputCol="vec"),
        LogisticRegression(featuresCol="vec", maxIter=50),
    ]).fit(training_frame(spark, 2000, seed=5))
    assert compiled(no_scaler) is None
    model, _ = load_production(spark, registry[0])
    got = score(stream_rows, no_scaler, "x")
    assert got.dtypes == score(stream_rows, model, "x").dtypes
    lr = no_scaler.stages[1]
    coef, b = lr.coefficients.toArray(), lr.intercept
    rows = got.limit(2000).collect()
    for r in rows:
        margin = b + sum(c * r[name] for c, name in zip(coef, FEATURE_ORDER))
        assert r["proba"] == pytest.approx(1.0 / (1.0 + math.exp(-margin)), rel=1e-9)
        assert r["prediction"] == int(r["proba"] >= 0.5)
        assert r["model_version"] == "x"


def test_heuristic_scores_every_row(stream_rows):
    got = score(stream_rows, None)
    want = F.when(F.col("amount") > 1000, 1.0).otherwise(0.05)
    assert got.filter(F.col("amount") > 1000).count() > 0
    assert got.filter(
        (F.col("proba") != want)
        | (F.col("prediction") != (F.col("proba") >= 0.5).cast("int"))
        | F.col("model_version").isNotNull()
    ).count() == 0


def _request_corpus(n, seed):
    """n request payloads; each field is a clean value three times in
    four and otherwise one the wire parse has to coerce, null or skip."""
    rng = random.Random(seed)
    odd_double = [True, False, "12.5", "abc", "NaN", "Infinity", "-Infinity",
                  "", float("nan"), float("inf"), -float("inf"), 10**400,
                  1e308, -1e308, 2**63 + 1, [], {}]
    odd_int = [2.7, 3.0, -1.5, 2**31, -(2**31) - 1, 2**31 - 1, -(2**31),
               10**20, True, "3", "NaN", [1]]
    odd_features = [_MISSING, None, [], "x", 5, True, {}, {"bogus_key": 9.9}]

    def double(clean):
        if rng.random() < 0.75:
            return rng.choice([clean, None, _MISSING, rng.randint(-5, 10**6)])
        return rng.choice(odd_double)

    out = []
    for i in range(n):
        features = {}
        for name, value in (
            ("num_items",
             rng.randint(0, 9) if rng.random() < 0.75 else rng.choice(odd_int)),
            ("merchant_risk", double(rng.random())),
            ("hour", double(float(rng.randrange(24)))),
        ):
            if value is not _MISSING:
                features[name] = value
        if rng.random() < 0.15:
            features = rng.choice(odd_features)
        tx = {"seq": i, "transaction_id": f"r{i}",
              "event_time": "2024-01-01T00:00:00Z"}
        amount = double(round(math.exp(rng.gauss(3.0, 1.5)), 2))
        for key, value in (("amount", amount), ("features", features)):
            if value is not _MISSING:
                tx[key] = value
        r = rng.random()
        if r < 0.03:
            tx["Amount"] = tx.pop("amount", 1e6)
        elif r < 0.06:
            tx["event_time"] = "not a time"
        elif r < 0.09:
            tx["transaction_id"] = i
        out.append(tx)
    return out


def test_score_one_matches_score_on_a_request_corpus(spark, registry):
    # S9/P5: every payload -- clean ones answered in Python, the rest by
    # the engine -- scores as score() scores the same wire payload
    corpus = _request_corpus(1000, seed=2024)
    wire = [json.dumps(tx) for tx in corpus]
    typed = sum(_request_features(json.loads(w)) is not None for w in wire)
    assert 300 < typed < 700, "the corpus mixes both request paths"
    parsed = _parsed(spark, *corpus)
    model, version = load_production(spark, registry[0])
    # the heuristic shares both request paths; a quarter of the corpus
    # keeps its coerced payloads' engine round trips to a few seconds
    for m, v, step in ((model, version, 1), (None, None, 4)):
        ref = {
            r["raw_payload"]: r
            for r in score(parsed, m, v)
            .select("raw_payload", "prediction", "proba", "model_version")
            .collect()
        }
        for tx, w in zip(corpus[::step], wire[::step]):
            out, want = score_one(spark, m, tx, v), ref[w]
            assert out["prediction"] == want["prediction"], w
            assert out["proba"] == pytest.approx(
                want["proba"], rel=1e-12, nan_ok=True
            ), w
            assert out["model_version"] == want["model_version"]


def _jobs_run_by(spark, fn) -> int:
    """Spark jobs started while fn runs, read from the status tracker."""
    sc = spark.sparkContext
    group, marker = f"counted-{uuid.uuid4()}", f"marker-{uuid.uuid4()}"
    sc.setJobGroup(group, "counted")
    try:
        fn()
    finally:
        sc.setJobGroup(marker, "marker")
        spark.range(10).selectExpr("sum(id)").collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the tracker is fed in event order: once the marker job is in it,
    # every job fn started is too
    deadline = time.time() + 60
    while not sc.statusTracker().getJobIdsForGroup(marker):
        assert time.time() < deadline, "marker job never reached the tracker"
        time.sleep(0.05)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_score_one_runs_no_spark_job(spark, registry):
    model, version = load_production(spark, registry[0])
    clean = {"transaction_id": "c", "amount": 42.0,
             "features": {"num_items": 2, "merchant_risk": 0.6, "hour": 14.0}}
    coerced = {"transaction_id": "e", "amount": "12.5",
               "features": {"num_items": 2.7, "merchant_risk": True}}
    assert _request_features(clean) is not None
    assert _request_features(coerced) is None
    for tx in (clean, coerced):
        assert _jobs_run_by(spark, lambda: score_one(spark, model, tx, version)) == 0


@pytest.fixture
def model_loads(monkeypatch):
    """Paths passed to PipelineModel.load, starting from an empty memo."""
    loads = []
    real_load = training.PipelineModel.load

    def counting_load(path):
        loads.append(path)
        return real_load(path)

    monkeypatch.setattr(training.PipelineModel, "load", counting_load)
    training._load_model.cache_clear()
    yield loads
    training._load_model.cache_clear()


def test_load_production_memo_hits_while_pointer_unchanged(
    spark, tmp_path, model_loads
):
    reg = str(tmp_path / "registry")
    train_and_register(training_frame(spark, 500, seed=3), reg)
    first, version = load_production(spark, reg)
    assert version == "1"
    for _ in range(3):
        model, version = load_production(spark, reg)
        assert model is first and version == "1"
    assert len(model_loads) == 1

    # promoting v2 is seen by the very next call
    save_version(first, reg, auc=0.5)
    promote_to_production(reg, 2)
    second, version = load_production(spark, reg)
    assert version == "2" and second is not first
    assert len(model_loads) == 2

    # a wiped registry re-trained into the same v1 reloads
    shutil.rmtree(reg)
    assert train_and_register(training_frame(spark, 500, seed=4), reg)[
        "version"
    ] == 1
    third, version = load_production(spark, reg)
    assert version == "1" and third is not first
    assert len(model_loads) == 3


def test_load_production_absent_pointer_or_version(spark, tmp_path, model_loads):
    reg = tmp_path / "registry"
    reg.mkdir()
    assert load_production(spark, str(reg)) == (None, None)
    promote_to_production(str(reg), 9)  # pointer to a version never saved
    assert load_production(spark, str(reg)) == (None, None)
    assert model_loads == []


def test_promotion_replaces_pointer_atomically(tmp_path):
    reg = str(tmp_path)
    pointer = os.path.join(reg, PRODUCTION_POINTER)
    promote_to_production(reg, 1)
    seen = set()
    done = threading.Event()

    def reader():
        while not done.is_set():
            with open(pointer) as f:
                seen.add(f.read())

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(300):
            promote_to_production(reg, 1 + i % 2)
    finally:
        done.set()
        t.join(timeout=30)
    assert not t.is_alive()
    assert seen <= {"1", "2"}, "a reader saw a truncated pointer"
    with open(pointer) as f:
        assert f.read() == "2"
    assert os.listdir(reg) == [PRODUCTION_POINTER], "no temp file left behind"


def test_mlflow_mirror_gating(monkeypatch):
    """The MLflow mirror (reference training.py:60-110 parity) must be a
    strict no-op unless BOTH the env flag is set and mlflow imports --
    the engine's registry of record never grows a server dependency."""
    from real_time_fraud_detection_system_spark.ml import training as tr

    monkeypatch.delenv(tr.MLFLOW_FLAG, raising=False)
    assert tr._mlflow() is None  # flag off -> no-op even if installed
    assert tr._mlflow_mirror_save(None, 1, 0.9) is None
    assert tr._mlflow_mirror_promote() is None

    monkeypatch.setenv(tr.MLFLOW_FLAG, "1")
    try:
        import mlflow  # noqa: F401

        has_mlflow = True
    except ImportError:
        has_mlflow = False
    if not has_mlflow:
        # flag on, import fails -> still a no-op (this sandbox's case)
        assert tr._mlflow() is None
        assert tr._mlflow_mirror_save(None, 1, 0.9) is None
    else:  # pragma: no cover - only runs where mlflow is installed
        import pytest

        pytest.skip("mlflow installed: live-server mirroring not "
                    "exercised in unit tests")
