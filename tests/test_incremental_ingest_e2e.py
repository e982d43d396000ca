"""The day-2 runbook, end to end: a new dump lands as a snapshot
version, gets PRICED by the census family before any heavy pass runs,
flows through prepare_corpus's incremental mode, and grows the
persisted streaming dedup index -- every stage is individually tested
elsewhere; this proves the composition a pipeline owner actually runs.
"""

from pyspark.sql import functions as F

from real_time_fraud_detection_system_spark.corpus_pipeline import (
    prepare_corpus,
)
from real_time_fraud_detection_system_spark.operators.corpusops import (
    snapshot_diff,
    snapshot_novelty_frames,
)
from real_time_fraud_detection_system_spark.operators.dedup import (
    signature_index,
)
from real_time_fraud_detection_system_spark.snapshots import (
    read_version,
    write_version,
)

SF = "/root/testdata/sf0.001"
_SPLIT = (
    "CAST(conv(substr(md5(concat('day2:', CAST(doc_id AS STRING))), 1, 6),"
    " 16, 10) AS BIGINT) % 5 > 0"
)  # ~80% of docs form the day-1 base dump


def test_day2_incremental_ingest_runbook(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    base = docs.filter(_SPLIT)
    base_dir = tmp_path / "base"
    base_dir.mkdir()
    base.write.parquet(str(base_dir / "documents.parquet"))

    # day 1: commit the base dump as snapshot v_a and prepare it
    snaps = str(tmp_path / "snaps")
    proj = "doc_id, source, md5(text) AS content_md5, n_chars"
    v_a = write_version(base.selectExpr(*proj.split(", ")), snaps)
    day1 = prepare_corpus(spark, str(base_dir), str(tmp_path / "day1"))
    assert day1["raw_docs"] == base.count()

    # day 2: the full dump lands; commit v_b and PRICE it first
    v_b = write_version(docs.selectExpr(*proj.split(", ")), snaps)
    census = {
        (r["source"], r["status"]): r["n_docs"]
        for r in snapshot_diff(
            read_version(spark, snaps, v_a), read_version(spark, snaps, v_b)
        ).collect()
    }
    statuses = {s for _, s in census}
    assert statuses == {"added", "unchanged"}  # add-only dump
    n_added = sum(n for (_, s), n in census.items() if s == "added")
    assert n_added == docs.count() - base.count() > 0

    added = docs.join(base.select("doc_id"), "doc_id", "left_anti")
    novelty = snapshot_novelty_frames(
        added, signature_index(base)
    ).collect()
    assert sum(r["n_added_docs"] for r in novelty) == n_added
    assert any(r["n_novel"] > 0 for r in novelty)

    # the incremental prepare reads the same census and touches only
    # the added docs in its heavy stages; funnel reconciles with the
    # pricing numbers computed above
    inc = prepare_corpus(
        spark, SF, str(tmp_path / "day2"), base_snapshot=str(base_dir)
    )
    assert inc["mode"] == "incremental"
    assert inc["added"]["raw"] == n_added
    assert inc["census"]["added"]["n_docs"] == n_added
    assert inc["raw_docs"] == docs.count()

    # output hygiene over the UNION: no duplicate text survives, and
    # the day-2 output contains every day-1 survivor whose cluster was
    # not re-decided by an added doc (spot-check: subset relationship
    # on exact-text keys is impossible to violate without a bug in the
    # incremental label construction)
    out = spark.read.parquet(str(tmp_path / "day2"))
    assert out.count() == inc["after_neardup_dedup"]
    assert (
        out.groupBy(F.md5("text")).count().filter("count > 1").count() == 0
    )

    # the streaming index path sees the same added docs and grows the
    # persisted signature index to exactly the union, once per doc
    from real_time_fraud_detection_system_spark.operators.dedup import (
        persist_dedup_index,
    )
    from real_time_fraud_detection_system_spark.streaming.jobs import (
        dedup_index_sink_writer,
    )

    try:
        persist_dedup_index(base, prefix="t_day2_idx")
        writer = dedup_index_sink_writer(str(tmp_path / "pairs"), "t_day2_idx")
        writer(added, 0)
        grown = spark.table("t_day2_idx_sig")
        assert grown.count() == docs.count()
        assert grown.select("doc_id").distinct().count() == docs.count()
        # replay of the same batch adds nothing (crash-retry idempotence)
        writer(added, 1)
        assert spark.table("t_day2_idx_sig").count() == docs.count()
    finally:
        for t in ("t_day2_idx_sig", "t_day2_idx_band"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ingest_census_sink_streams_and_replays(spark, tmp_path):
    """The streaming census twin: two file micro-batches of docs
    arrive against a growing persisted index -- batch 0 is all 'added'
    (empty index), batch 1 splits added/replayed after the index
    absorbed batch 0; a re-delivered epoch keeps its first committed
    census instead of double-counting."""
    from real_time_fraud_detection_system_spark.streaming.jobs import (
        dedup_index_sink_writer,
        ingest_census_sink_writer,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    b0 = docs.filter("doc_id % 3 = 0")
    b1 = docs.filter("doc_id % 3 <= 1")  # overlaps b0 on doc_id % 3 = 0

    census_dir = str(tmp_path / "census")
    census = ingest_census_sink_writer(census_dir, "t_census_idx")
    index = dedup_index_sink_writer(str(tmp_path / "pairs"), "t_census_idx")
    try:
        census(b0, 0)
        index(b0, 0)
        census(b1, 1)
        index(b1, 1)

        got = spark.read.parquet(census_dir)
        n_e0_rows = got.filter("epoch_id = 0").count()
        e0 = got.filter("epoch_id = 0").groupBy("status").agg(
            F.sum("n_docs").alias("n")
        )
        assert {(r["status"], r["n"]) for r in e0.collect()} == {
            ("added", b0.count())
        }
        e1 = {
            r["status"]: r["n"]
            for r in got.filter("epoch_id = 1")
            .groupBy("status")
            .agg(F.sum("n_docs").alias("n"))
            .collect()
        }
        n_overlap = docs.filter("doc_id % 3 = 0").count()
        assert e1 == {
            "added": b1.count() - n_overlap,
            "replayed": n_overlap,
        }

        # re-delivery of epoch 1 (now everything is indexed): first write
        # wins -- the committed census keeps its ORIGINAL added/replayed
        # split even though the index has since absorbed the epoch's docs
        # (ADVICE r10: a crash-retry straddling the composed index append
        # must not erase the epoch's 'added' mass)
        census(b1, 1)
        again = {
            r["status"]: r["n"]
            for r in spark.read.parquet(census_dir)
            .filter("epoch_id = 1")
            .groupBy("status")
            .agg(F.sum("n_docs").alias("n"))
            .collect()
        }
        assert again == e1
        # epoch 0 rows untouched by the replay
        assert (
            spark.read.parquet(census_dir).filter("epoch_id = 0").count()
            == n_e0_rows
        )
        # a NEW epoch against the fully-absorbed index still prices fresh
        census(docs.filter("doc_id % 3 = 2"), 2)
        e2 = {
            r["status"]: r["n"]
            for r in spark.read.parquet(census_dir)
            .filter("epoch_id = 2")
            .groupBy("status")
            .agg(F.sum("n_docs").alias("n"))
            .collect()
        }
        assert e2 == {"added": docs.filter("doc_id % 3 = 2").count()}
    finally:
        for t in ("t_census_idx_sig", "t_census_idx_band"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
