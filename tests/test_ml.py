"""M2-M8 training + scoring tests (SURVEY.md section 2.8)."""

import json
import os
import shutil
import threading

import pytest

from real_time_fraud_detection_system_spark.ml import training
from real_time_fraud_detection_system_spark.ml.scoring import (
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
    from real_time_fraud_detection_system_spark.ml.scoring import (
        project_features,
    )

    row = project_features(df).first()
    assert row["amount"] == 0.0  # P5 default
    assert row["num_items"] == 0.0 and row["hour"] == 0.0
    assert row["merchant_risk"] == 0.5
    assert "bogus_key" not in project_features(df).columns


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
