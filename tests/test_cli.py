"""CLI surface (__main__.py): each reference entry point drives the
engine through the subcommand a migrating user would run."""

import io
import json

from real_time_fraud_detection_system_spark.__main__ import main


def _run(argv):
    out = io.StringIO()
    code = main(argv, out=out)
    return code, out.getvalue().strip().splitlines()


def test_cli_list_and_query_and_sql(spark, sf_dir):
    code, lines = _run(["--sf-dir", sf_dir, "list"])
    assert code == 0
    assert "q1_pricing_summary" in lines and "tfidf_top_terms" in lines

    code, lines = _run(["--sf-dir", sf_dir, "--limit", "3", "query", "recent_topk"])
    assert code == 0
    assert len(lines) == 3
    assert "event_id" in json.loads(lines[0])

    code, lines = _run(
        ["--sf-dir", sf_dir, "sql", "SELECT count(*) AS n FROM region"]
    )
    assert code == 0
    assert json.loads(lines[0])["n"] == 5


def test_cli_score_one_heuristic_fallback(spark, sf_dir):
    txn = {
        "transaction_id": "T1",
        "amount": 9000.0,
        "features": {"num_items": 1, "merchant_risk": 0.9, "hour": 2.0},
    }
    code, lines = _run(["--sf-dir", sf_dir, "score-one", json.dumps(txn)])
    assert code == 0
    result = json.loads(lines[0])
    assert result["prediction"] in (0, 1)
    assert 0.0 <= float(result["proba"]) <= 1.0


def test_cli_dq_exit_codes(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_spark.sources.generators import (
        transactions_batch,
    )

    good = str(tmp_path / "good")
    preds = transactions_batch(spark, 50).select(
        "transaction_id", "amount", "event_time",
        F.lit(0).alias("prediction"), F.lit(0.1).alias("proba"),
    )
    preds.write.parquet(good)
    code, lines = _run(["--sf-dir", sf_dir, "dq", "--predictions-dir", good])
    assert code == 0
    assert json.loads(lines[0])["status"] == "ok"

    # a NULL transaction_id violates the reference's second check -> rc 1
    bad = str(tmp_path / "bad")
    preds.withColumn(
        "transaction_id", F.lit(None).cast("string")
    ).write.parquet(bad)
    code, lines = _run(["--sf-dir", sf_dir, "dq", "--predictions-dir", bad])
    assert code == 1
    assert json.loads(lines[0])["status"] == "fail"


def test_cli_daily_metrics_upsert(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_spark.sources.generators import (
        transactions_batch,
    )

    preds_dir = str(tmp_path / "preds")
    metrics_dir = str(tmp_path / "metrics")
    transactions_batch(spark, 50).select(
        "transaction_id", "amount", "event_time",
        F.lit(1).alias("prediction"), F.lit(0.9).alias("proba"),
    ).write.parquet(preds_dir)
    code, lines = _run([
        "--sf-dir", sf_dir, "daily-metrics",
        "--predictions-dir", preds_dir, "--metrics-dir", metrics_dir,
    ])
    assert code == 0
    assert json.loads(lines[0])["status"] == "ok"
    got = spark.read.parquet(metrics_dir)
    assert got.count() >= 1
    assert "num_predictions" in got.columns


def test_cli_index_lifecycle(spark, sf_dir):
    """Build-then-probe both persisted indexes through the CLI: the
    build reports non-trivial sizes and the probe/search prints rows
    shaped like the library calls' output."""
    try:
        code, lines = _run(["--sf-dir", sf_dir, "ann-index", "build",
                            "--prefix", "t_cli_ann"])
        assert code == 0
        info = json.loads(lines[0])
        assert info["status"] == "ok" and info["members"] > 0
        code, lines = _run(["--sf-dir", sf_dir, "ann-index", "search",
                            "--prefix", "t_cli_ann"])
        assert code == 0
        assert {"q_id", "neighbor_id", "cosine", "rank"} <= set(
            json.loads(lines[0])
        )

        code, lines = _run(["--sf-dir", sf_dir, "dedup-index", "build",
                            "--prefix", "t_cli_dd"])
        assert code == 0
        assert json.loads(lines[0])["signatures"] > 0
        code, lines = _run(["--sf-dir", sf_dir, "dedup-index", "probe",
                            "--prefix", "t_cli_dd"])
        assert code == 0
        assert {"a_id", "b_id", "jaccard"} <= set(json.loads(lines[0]))
    finally:
        for t in ("t_cli_ann_cents", "t_cli_ann_members",
                  "t_cli_dd_sig", "t_cli_dd_band"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cli_retention(spark, tmp_path):
    """retention sweeps the store layout serve writes."""
    from real_time_fraud_detection_system_spark.streaming.pipeline import (
        prediction_sink_writer,
    )

    store = str(tmp_path / "preds")
    sink = prediction_sink_writer(store)
    for i, d in enumerate(("2024-01-01", "2024-01-10")):
        sink(
            spark.range(5).selectExpr(
                "CAST(id AS STRING) AS transaction_id",
                f"TIMESTAMP'{d} 12:00:00' AS event_time",
            ),
            i,
        )
    code, lines = _run([
        "retention", "--predictions-dir", store, "--keep-days", "5",
    ])
    assert code == 0
    info = json.loads(lines[0])
    assert info["deleted"] == ["2024-01-01"] and info["kept"] == 1


def test_cli_serve_from_landing_dir(spark, sf_dir, tmp_path):
    """serve --landing-dir ingests dropped payload files end to end
    into the prediction store."""
    from real_time_fraud_detection_system_spark.sources.generators import (
        transactions_batch,
    )
    from real_time_fraud_detection_system_spark.streaming.pipeline import (
        kafka_sink_options,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    payloads = [
        r["value"]
        for r in kafka_sink_options(
            transactions_batch(spark, 25), "x:9092", "t"
        ).collect()
    ]
    (landing / "drop.json").write_text("\n".join(payloads))
    out_dir = str(tmp_path / "preds")
    code, lines = _run([
        "--sf-dir", sf_dir, "serve",
        "--landing-dir", str(landing),
        "--out-dir", out_dir,
        "--checkpoint-dir", str(tmp_path / "ckpt"),
        "--timeout-s", "45",
    ])
    assert code == 0
    got = spark.read.parquet(out_dir)
    assert got.count() == 25
    assert "proba" in got.columns


def test_cli_compact(spark, tmp_path):
    from pyspark.sql import functions as F

    store = str(tmp_path / "store")
    # many small files: one per append
    for i in range(6):
        spark.range(i * 10, i * 10 + 10).select(
            F.col("id"), F.lit("2024-01-01").alias("event_date")
        ).coalesce(1).write.mode("append").partitionBy(
            "event_date"
        ).parquet(store)
    code, lines = _run(["compact", "--store-dir", store])
    assert code == 0
    assert json.loads(lines[0])["status"] == "ok"
    got = spark.read.parquet(store)
    assert got.count() == 60
    import glob

    files = glob.glob(f"{store}/event_date=2024-01-01/*.parquet")
    assert len(files) < 6  # small files merged


def test_cli_zorder(spark, tmp_path):
    out_dir = str(tmp_path / "zo")
    code, lines = _run(
        [
            "zorder",
            "--sf-dir", "/root/testdata/sf0.001",
            "--out-dir", out_dir,
            "--n-files", "8",
        ]
    )
    assert code == 0
    info = json.loads(lines[0])
    assert info["status"] == "ok"
    assert info["rows"] == spark.read.parquet(out_dir).count() > 0


def test_cli_prep_corpus(spark, tmp_path):
    out_dir = str(tmp_path / "corpus")
    code, lines = _run(
        ["prep-corpus", "--sf-dir", "/root/testdata/sf0.001",
         "--out-dir", out_dir]
    )
    assert code == 0
    info = json.loads(lines[0])
    assert info["status"] == "ok"
    assert sum(info["splits"].values()) == info["after_neardup_dedup"]
    assert spark.read.parquet(out_dir).count() == info["after_neardup_dedup"]


def test_cli_snapshot_lifecycle(spark, tmp_path):
    t = str(tmp_path / "snap")
    code, lines = _run(
        ["snapshot", "write", "--table-dir", t,
         "--sf-dir", "/root/testdata/sf0.001", "--table", "region"]
    )
    assert code == 0 and json.loads(lines[0])["version"] == 0
    code, lines = _run(
        ["snapshot", "write", "--table-dir", t,
         "--sf-dir", "/root/testdata/sf0.001", "--table", "region"]
    )
    assert json.loads(lines[0])["version"] == 1
    code, lines = _run(["snapshot", "read", "--table-dir", t, "--version", "0"])
    assert code == 0 and json.loads(lines[0])["rows"] > 0
    code, lines = _run(["snapshot", "expire", "--table-dir", t])
    assert json.loads(lines[0])["dropped_manifests"] == 1
