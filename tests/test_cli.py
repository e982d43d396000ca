"""CLI surface (__main__.py): each reference entry point drives the
engine through the subcommand a migrating user would run."""

import datetime
import io
import json
import os

import pytest

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
    build reports non-trivial sizes, the probe/search prints rows
    shaped like the library calls' output, and an id tombstoned
    through the library is gone from the next probe/search."""
    from real_time_fraud_detection_system_spark.operators.dedup import (
        tombstone_dedup_index,
    )
    from real_time_fraud_detection_system_spark.operators.similarity import (
        tombstone_ann_index,
    )

    try:
        code, lines = _run(["--sf-dir", sf_dir, "ann-index", "build",
                            "--prefix", "t_cli_ann"])
        assert code == 0
        info = json.loads(lines[0])
        assert info["status"] == "ok" and info["members"] > 0
        search = ["--sf-dir", sf_dir, "ann-index", "search",
                  "--prefix", "t_cli_ann"]
        code, lines = _run(search)
        assert code == 0
        assert {"q_id", "neighbor_id", "cosine", "rank"} <= set(
            json.loads(lines[0])
        )
        dead = json.loads(lines[0])["neighbor_id"]
        tombstone_ann_index(
            spark, spark.createDataFrame([(dead,)], "vec_id bigint"),
            prefix="t_cli_ann",
        )
        code, lines = _run(search)
        assert code == 0
        assert dead not in {json.loads(x)["neighbor_id"] for x in lines}

        code, lines = _run(["--sf-dir", sf_dir, "dedup-index", "build",
                            "--prefix", "t_cli_dd"])
        assert code == 0
        assert json.loads(lines[0])["signatures"] > 0
        probe = ["--sf-dir", sf_dir, "dedup-index", "probe",
                 "--prefix", "t_cli_dd"]
        code, lines = _run(probe)
        assert code == 0
        assert {"a_id", "b_id", "jaccard"} <= set(json.loads(lines[0]))
        # a printed endpoint that lives in the index (not in the shard)
        indexed = {
            r["doc_id"]
            for r in spark.table("t_cli_dd_sig").select("doc_id").collect()
        }
        dead = next(
            i for x in lines for i in (json.loads(x)["a_id"],
                                       json.loads(x)["b_id"])
            if i in indexed
        )
        tombstone_dedup_index(
            spark, spark.createDataFrame([(dead,)], "doc_id bigint"),
            prefix="t_cli_dd",
        )
        code, lines = _run(probe)
        assert code == 0
        assert all(
            dead not in (json.loads(x)["a_id"], json.loads(x)["b_id"])
            for x in lines
        )
    finally:
        for t in ("t_cli_ann_cents", "t_cli_ann_members", "t_cli_ann_tomb",
                  "t_cli_dd_sig", "t_cli_dd_band", "t_cli_dd_tomb"):
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


CORRUPT_PAYLOADS = [
    "{not json at all",
    json.dumps({"amount": 1.0, "event_time": "2024-01-01T00:00:00Z"}),
    json.dumps({"transaction_id": "no-event-time", "amount": 2.0}),
]


def _payloads(spark, n: int) -> list[str]:
    """n wire payloads from the engine's own Kafka serializer."""
    from real_time_fraud_detection_system_spark.sources.generators import (
        transactions_batch,
    )
    from real_time_fraud_detection_system_spark.streaming.pipeline import (
        kafka_sink_options,
    )

    return [
        r["value"]
        for r in kafka_sink_options(transactions_batch(spark, n)).collect()
    ]


def _serve(sf_dir, root, timeout_s: int, *source) -> str:
    """Run ``serve`` for timeout_s seconds; return its store dir."""
    out_dir = str(root / "preds")
    code, _ = _run([
        "--sf-dir", sf_dir, "serve", *source,
        "--out-dir", out_dir,
        "--checkpoint-dir", str(root / "ckpt"),
        "--timeout-s", str(timeout_s),
    ])
    assert code == 0
    return out_dir


@pytest.fixture(scope="module")
def rate_store(spark, sf_dir, tmp_path_factory):
    """The store of one ``serve`` run over the default rate source."""
    return _serve(sf_dir, tmp_path_factory.mktemp("serve_rate"), 15)


def test_cli_serve_from_landing_dir(spark, sf_dir, tmp_path):
    """serve --landing-dir ingests dropped payload files end to end
    into the prediction store, and logs every micro-batch's progress
    to <out-dir>/_ops."""
    from real_time_fraud_detection_system_spark.streaming.observability import (
        read_ops_log,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "drop.json").write_text("\n".join(_payloads(spark, 25)))
    listeners = spark._jsparkSession.streams().listListeners()
    out_dir = _serve(sf_dir, tmp_path, 30, "--landing-dir", str(landing))
    got = spark.read.parquet(out_dir)
    assert got.count() == 25
    assert "proba" in got.columns
    progress = read_ops_log(spark, os.path.join(out_dir, "_ops")).filter(
        "event = 'progress'"
    ).collect()
    assert progress
    assert sum(r["num_input_rows"] for r in progress) == 25
    # serve removes its listener before it returns
    assert len(spark._jsparkSession.streams().listListeners()) == len(
        listeners
    )


def test_cli_serve_rate_source_keeps_running(spark, rate_store):
    """serve over the rate source runs micro-batches until --timeout-s
    and leaves rows in the store (the rate source cannot drain with an
    availableNow trigger: Spark would run a single batch and stop)."""
    assert spark.read.parquet(rate_store).count() > 0


def test_cli_serve_sources_share_one_store_schema(
    spark, sf_dir, tmp_path, rate_store
):
    """A recorded Kafka-wire segment (through valid_transactions), a
    landing dir (through serve) and the rate source give stores with
    one schema; the corrupt payloads reach none of them."""
    from real_time_fraud_detection_system_spark.streaming.jobs import (
        dq_checks,
    )
    from real_time_fraud_detection_system_spark.streaming.pipeline import (
        run_pipeline_with_registry,
        valid_transactions,
    )

    lines = _payloads(spark, 20) + CORRUPT_PAYLOADS
    wire_schema = (
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp, timestampType int"
    )
    ts = datetime.datetime(2025, 1, 1, 12, 0, 0)
    seg = str(tmp_path / "segment")
    spark.createDataFrame(
        [
            (None, bytearray(v.encode()), "transactions", 0, i, ts, 0)
            for i, v in enumerate(lines)
        ],
        wire_schema,
    ).coalesce(1).write.parquet(seg)
    wire_store = str(tmp_path / "wire" / "preds")
    q = run_pipeline_with_registry(
        valid_transactions(spark.readStream.schema(wire_schema).parquet(seg)),
        wire_store,
        str(tmp_path / "wire" / "ckpt"),
    )
    q.awaitTermination(180)
    assert q.exception() is None

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "drop.json").write_text("\n".join(lines))
    landing_store = _serve(
        sf_dir, tmp_path / "landed", 30, "--landing-dir", str(landing)
    )

    stores = [wire_store, landing_store, rate_store]
    frames = [spark.read.parquet(d) for d in stores]
    assert frames[0].schema == frames[1].schema == frames[2].schema
    for d, df in zip(stores, frames):
        assert not {"raw_payload", "_corrupt"} & set(df.columns)
        assert df.filter("transaction_id IS NULL").count() == 0
        assert not [n for n in os.listdir(d) if "__HIVE_DEFAULT" in n]
    assert frames[0].count() == frames[1].count() == 20
    assert dq_checks(frames[0])["null_ids"] == 0


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


RESTART_SCRIPT = r"""
import io, json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from real_time_fraud_detection_system_spark.__main__ import main
from real_time_fraud_detection_system_spark.catalog import load_table
from real_time_fraud_detection_system_spark.operators.dedup import (
    _shard_pred_spark,
)
from real_time_fraud_detection_system_spark.session import get_spark
from real_time_fraud_detection_system_spark.streaming.jobs import (
    dedup_index_sink_writer,
)

sf_dir, pairs_dir = {sf_dir!r}, {pairs_dir!r}
out = {{}}
for name, argv in (
    ("ann", ["ann-index", "search", "--prefix", "t_rs_ann"]),
    ("probe", ["dedup-index", "probe", "--prefix", "t_rs_dd"]),
):
    buf = io.StringIO()
    assert main(["--sf-dir", sf_dir, "--limit", "1000", *argv], out=buf) == 0
    out[name] = [json.loads(x) for x in buf.getvalue().splitlines()]
spark = get_spark()
shard = load_table(spark, sf_dir, "documents").filter(
    F.expr(_shard_pred_spark())
)
dedup_index_sink_writer(pairs_dir, "t_rs_dd")(shard, 0)
print(json.dumps(out))
"""


def test_persisted_indexes_survive_a_restart(spark, sf_dir, tmp_path):
    """A second process sees the indexes this one persisted: it
    searches the ANN index and probes the dedup index through the CLI,
    then streams the shard into the dedup index through the sink,
    which must grow the persisted index rather than start a new one.
    The in-memory session catalog does not carry over, so this runs
    only if the tables are found again from their warehouse dirs."""
    import subprocess
    import sys
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_spark.catalog import load_table
    from real_time_fraud_detection_system_spark.operators.dedup import (
        _shard_pred_spark,
        persist_dedup_index,
    )
    from real_time_fraud_detection_system_spark.operators.similarity import (
        persist_ann_index,
    )
    from real_time_fraud_detection_system_spark.storage import (
        drop_index_table,
    )

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    assert os.path.basename(warehouse) == "spark-warehouse"
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.expr(_shard_pred_spark())
    tables = ("t_rs_ann_cents", "t_rs_ann_members", "t_rs_dd_sig",
              "t_rs_dd_band")
    pairs_dir = str(tmp_path / "pairs")
    try:
        persist_ann_index(spark, sf_dir, prefix="t_rs_ann")
        persist_dedup_index(docs.filter(~is_new), prefix="t_rs_dd")
        before = {t: spark.table(t).count() for t in tables}
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        script = RESTART_SCRIPT.format(
            repo=repo, sf_dir=sf_dir, pairs_dir=pairs_dir
        )
        env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g",
                   SPARK_GRAFT_CPUS="2")
        proc = subprocess.run(
            [sys.executable, "-c", script], cwd=os.path.dirname(warehouse),
            env=env, capture_output=True, text=True, timeout=900,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        assert out["ann"] and {"q_id", "neighbor_id"} <= set(out["ann"][0])
        assert out["probe"]
        for t in tables:
            spark.catalog.refreshTable(t)
        after = {t: spark.table(t).count() for t in tables}
        assert all(after[t] >= before[t] for t in tables), (before, after)
        n_shard = docs.filter(is_new).count()
        assert after["t_rs_dd_sig"] == before["t_rs_dd_sig"] + n_shard
        # the sink probed the same surviving index the CLI probed
        sunk = spark.read.parquet(pairs_dir).collect()
        assert {(r["a_id"], r["b_id"]) for r in sunk} == {
            (r["a_id"], r["b_id"]) for r in out["probe"]
        }
    finally:
        for t in tables:
            drop_index_table(spark, t)
