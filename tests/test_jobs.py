"""A4/A7/T10 scheduled-job tests: daily metrics keyed upsert idempotence
and the three DQ assertions (SURVEY.md section 5.4/5.6)."""

import pytest

from pyspark.sql import functions as F

from real_time_fraud_detection_system_spark.streaming.jobs import (
    DataQualityError,
    daily_metrics_upsert,
    dq_checks,
)


@pytest.fixture()
def predictions(spark):
    rows = [
        ("t1", 10.0, 0, 0.05, "2024-01-01 10:00:00"),
        ("t2", 2000.0, 1, 1.0, "2024-01-01 11:00:00"),
        ("t3", 30.0, 0, 0.05, "2024-01-02 09:00:00"),
        ("t4", 40.0, 0, 0.05, "2024-01-03 09:30:00"),
        ("t5", 3000.0, 1, 1.0, "2024-01-03 09:45:00"),
    ]
    return spark.createDataFrame(
        rows,
        "transaction_id string, amount double, prediction int, "
        "proba double, event_time string",
    ).withColumn("event_time", F.col("event_time").cast("timestamp"))


def test_daily_metrics_values(spark, predictions, tmp_path):
    out = str(tmp_path / "metrics")
    daily_metrics_upsert(spark, predictions, out)
    m = {str(r["day"]): r for r in spark.read.parquet(out).collect()}
    assert len(m) == 3
    assert m["2024-01-01"]["num_predictions"] == 2
    assert m["2024-01-01"]["fraud_rate"] == 0.5
    assert m["2024-01-03"]["avg_amount"] == pytest.approx(1520.0)


def test_upsert_idempotent(spark, predictions, tmp_path):
    # ON CONFLICT (day) DO UPDATE semantics: run twice -> identical table
    out = str(tmp_path / "metrics")
    daily_metrics_upsert(spark, predictions, out)
    first = sorted(map(str, spark.read.parquet(out).collect()))
    daily_metrics_upsert(spark, predictions, out)
    second = sorted(map(str, spark.read.parquet(out).collect()))
    assert first == second


def test_upsert_overwrites_only_affected_days(spark, predictions, tmp_path):
    out = str(tmp_path / "metrics")
    daily_metrics_upsert(spark, predictions, out)
    # late data for day 1 only; days 2-3 partitions must survive untouched
    late = spark.createDataFrame(
        [("t9", 100.0, 0, 0.05, "2024-01-01 23:00:00")],
        "transaction_id string, amount double, prediction int, "
        "proba double, event_time string",
    ).withColumn("event_time", F.col("event_time").cast("timestamp"))
    updated_day1 = predictions.filter(
        F.to_date("event_time") == "2024-01-01"
    ).union(late)
    daily_metrics_upsert(spark, updated_day1, out)
    m = {str(r["day"]): r for r in spark.read.parquet(out).collect()}
    assert m["2024-01-01"]["num_predictions"] == 3  # refreshed
    assert m["2024-01-02"]["num_predictions"] == 1  # untouched
    assert m["2024-01-03"]["num_predictions"] == 2  # untouched


def test_dq_checks_pass(predictions):
    result = dq_checks(predictions)
    assert result["recent_rows"] >= 1
    assert result["null_ids"] == 0
    assert 0.0 <= result["fraud_rate_1h"] <= 1.0


def test_dq_checks_null_ids_fire(spark, predictions):
    # negative fixture: one null id must trip the check (FIXTURES.md 6b)
    bad = predictions.union(
        spark.createDataFrame(
            [(None, 1.0, 0, 0.05, "2024-01-03 09:50:00")],
            "transaction_id string, amount double, prediction int, "
            "proba double, event_time string",
        ).withColumn("event_time", F.col("event_time").cast("timestamp"))
    )
    with pytest.raises(DataQualityError, match="null"):
        dq_checks(bad)


def test_dq_checks_freshness_fires(spark, predictions):
    # anchor 'now' far past the data -> zero recent rows
    with pytest.raises(DataQualityError, match="freshness"):
        dq_checks(
            predictions, now_col=F.lit("2024-06-01 00:00:00").cast("timestamp")
        )


def test_incremental_profile_matches_one_shot(spark, sf_dir):
    """Three disjoint partials merged = one-shot profile: exact fields
    (counts, nulls, min/max) identical, HLL NDV within sketch error of
    the exact distinct counts."""
    from real_time_fraud_detection_system_spark.catalog import load_table
    from real_time_fraud_detection_system_spark.operators.metrics import (
        PROFILE_COLS,
        predictions_profile,
    )
    from real_time_fraud_detection_system_spark.streaming.jobs import (
        profile_merge,
        profile_partial,
    )
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    parts = [
        profile_partial(ev.filter(F.pmod("event_id", F.lit(3)) == i), PROFILE_COLS)
        for i in range(3)
    ]
    partials = parts[0].unionByName(parts[1]).unionByName(parts[2])
    merged = {
        r["col_name"]: r for r in profile_merge(partials, PROFILE_COLS).collect()
    }
    exact = {
        r["col_name"]: r for r in predictions_profile(spark, sf_dir).collect()
    }
    assert set(merged) == set(exact)
    for c in exact:
        assert merged[c]["n_rows"] == exact[c]["n_rows"]
        assert merged[c]["n_nulls"] == exact[c]["n_nulls"]
        assert merged[c]["min_value"] == exact[c]["min_value"]
        assert merged[c]["max_value"] == exact[c]["max_value"]
        nd, nd_exact = merged[c]["approx_ndv"], exact[c]["n_distinct"]
        assert abs(nd - nd_exact) <= max(0.05 * nd_exact, 2), c


def test_profile_sink_accumulates_partials_over_stream(spark, tmp_path):
    """Drive profile_sink_writer through a real file stream: two
    micro-batches -> two appended partial rows -> merged profile equals
    the one-shot profile of the union."""
    import datetime as dt

    from pyspark.sql import types as T

    from real_time_fraud_detection_system_spark.streaming.jobs import (
        profile_from_partials,
        profile_merge,
        profile_partial,
        profile_sink_writer,
    )

    cols = [("user_id", "num"), ("ts", "epoch_us"), ("event_type", None)]
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)
    batches = [
        [(t0, 1, "click"), (t0, 2, "view")],
        [(t0, 2, "click"), (t0, 3, None)],
    ]
    src = tmp_path / "src"
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "*"))
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(profile_sink_writer(str(tmp_path / "partials"), cols))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    prof = {
        r["col_name"]: r
        for r in profile_from_partials(
            spark, str(tmp_path / "partials"), cols
        ).collect()
    }
    assert prof["user_id"]["n_rows"] == 4
    assert prof["user_id"]["approx_ndv"] == 3  # tiny set: HLL is exact
    assert prof["user_id"]["min_value"] == 1.0
    assert prof["user_id"]["max_value"] == 3.0
    assert prof["event_type"]["n_nulls"] == 1
    assert prof["event_type"]["min_value"] is None


def test_profile_partial_normalizes_signed_zero(spark):
    """-0.0 and 0.0 have distinct string images but countDistinct
    treats them as one value; the HLL feed must normalize the sign of
    zero so approx_ndv agrees with the exact profile."""
    from real_time_fraud_detection_system_spark.streaming.jobs import (
        profile_merge,
        profile_partial,
    )

    cols = [("v", "num")]
    a = spark.createDataFrame([(-0.0,), (1.0,)], "v double")
    b = spark.createDataFrame([(0.0,), (1.0,)], "v double")
    partials = profile_partial(a, cols).unionByName(profile_partial(b, cols))
    row = profile_merge(partials, cols).collect()[0]
    assert row["approx_ndv"] == 2  # {0.0, 1.0}, not {-0.0, 0.0, 1.0}


def test_retention_sweep_drops_only_expired_partitions(spark, tmp_path):
    """On a store written by prediction_sink_writer: partitions strictly
    older than the cutoff vanish, newer ones survive, the anchor
    defaults to the store's own max day, the null-date partition is
    left alone, and a second run is a no-op."""
    import os

    from real_time_fraud_detection_system_spark.streaming.jobs import (
        retention_sweep,
    )
    from real_time_fraud_detection_system_spark.streaming.pipeline import (
        prediction_sink_writer,
    )

    store = str(tmp_path / "preds")
    sink = prediction_sink_writer(store)
    days = ["2024-01-01", "2024-01-05", "2024-01-09", "2024-01-10"]
    for i, d in enumerate(days):
        sink(
            spark.range(10 + i).selectExpr(
                "CAST(id AS STRING) AS transaction_id",
                f"TIMESTAMP'{d} 12:00:00' AS event_time",
            ),
            i,
        )
    # a malformed event without a time lands in the null-date partition
    sink(
        spark.createDataFrame(
            [("bad", None)], "transaction_id string, event_time timestamp"
        ),
        len(days),
    )
    null_part = os.path.join(store, "event_date=__HIVE_DEFAULT_PARTITION__")
    assert os.path.isdir(null_part)

    # anchor defaults to max day (2024-01-10); keep 7 days -> cutoff
    # 2024-01-03: only 2024-01-01 is strictly older
    out = retention_sweep(spark, store, keep_days=7)
    assert out == {"deleted": ["2024-01-01"], "kept": 3}
    left = spark.read.parquet(store)
    # the partition column reads back as DATE: compare isoformats
    assert {
        str(r["event_date"])
        for r in left.select("event_date").distinct().collect()
    } == {"2024-01-05", "2024-01-09", "2024-01-10", "None"}
    assert left.count() == 11 + 12 + 13 + 1

    # idempotent re-run
    assert retention_sweep(spark, store, keep_days=7) == {
        "deleted": [], "kept": 3
    }
    # explicit anchor: everything before 2024-01-09 goes
    out = retention_sweep(spark, store, keep_days=1, today="2024-01-10")
    assert out["deleted"] == ["2024-01-05"]
    assert os.path.isdir(null_part)
    # empty/missing store: graceful
    assert retention_sweep(spark, str(tmp_path / "nope"), 7) == {
        "deleted": [], "kept": 0
    }


def test_expectations_gate_enforces_rule_table(spark):
    """The gate must pass a clean frame, name exactly the failing rules
    on a dirty one, and honor a non-zero ppm tolerance."""
    import pytest

    from real_time_fraud_detection_system_spark.streaming.jobs import (
        DataQualityError,
        expectations_gate,
    )

    rules = (("value_non_negative", "value < 0"), ("id_not_null", "id IS NULL"))
    clean = spark.createDataFrame(
        [(1, 2.0), (2, 3.0)], "id long, value double"
    )
    got = expectations_gate(clean, rules)
    assert got == {"value_non_negative": 0, "id_not_null": 0, "_n": 2}

    dirty = spark.createDataFrame(
        [(1, -2.0), (None, 3.0), (3, 4.0)], "id long, value double"
    )
    with pytest.raises(DataQualityError) as ei:
        expectations_gate(dirty, rules)
    assert "value_non_negative" in str(ei.value)
    assert "id_not_null" in str(ei.value)
    # 1 violation of 3 rows = 333333 ppm; a 400000 ppm tolerance passes
    got = expectations_gate(dirty, rules, max_violation_ppm=400_000)
    assert got["value_non_negative"] == 1
    # boundary is exact cross-multiplication, not floored ppm: the true
    # rate 1/3 EXCEEDS 333333 ppm, so that tolerance must still raise
    # (the floored form 1e6 // 3 == 333333 would silently pass it)
    with pytest.raises(DataQualityError):
        expectations_gate(dirty, rules, max_violation_ppm=333_333)


def test_expectations_sink_reports_and_dead_letters(spark, tmp_path):
    """Two micro-batches through the sink: per-epoch per-rule report
    rows, violating rows diverted to the dead-letter dir with their
    epoch, and an empty batch writing a zero-row report without error."""
    from real_time_fraud_detection_system_spark.streaming.jobs import (
        expectations_sink_writer,
    )

    rules = (("neg_value", "value < 0"), ("null_id", "id IS NULL"))
    report, dl = str(tmp_path / "report"), str(tmp_path / "dl")
    write = expectations_sink_writer(report, rules, dead_letter_dir=dl)

    b1 = spark.createDataFrame(
        [(1, 2.0), (None, 3.0), (3, -1.0)], "id long, value double"
    )
    b2 = spark.createDataFrame([(4, 5.0)], "id long, value double")
    write(b1, 0)
    write(b2, 1)
    write(b2.filter("id < 0"), 2)  # empty batch

    rep = {
        (r["epoch_id"], r["rule"]): (r["n_violations"], r["n_rows"])
        for r in spark.read.parquet(report).collect()
    }
    assert rep[(0, "neg_value")] == (1, 3)
    assert rep[(0, "null_id")] == (1, 3)
    assert rep[(1, "neg_value")] == (0, 1)
    assert rep[(2, "neg_value")] == (0, 0)

    bad = spark.read.parquet(dl).collect()
    assert {(r["id"], r["epoch_id"]) for r in bad} == {(None, 0), (3, 0)}


def test_scd2_dimension_sink_streaming_matches_batch(spark, tmp_path):
    """An update stream through scd2_dimension_sink_writer produces the
    same history as one batch merge of the full update set, and a full
    checkpoint-cleared REPLAY of the stream is a no-op (the merge's
    stale-drop makes the sink replay-idempotent without epoch
    bookkeeping)."""
    import datetime as dt

    from pyspark.sql import Row

    from real_time_fraud_detection_system_spark.storage import (
        merge_dimension_scd2,
    )
    from real_time_fraud_detection_system_spark.streaming.jobs import (
        scd2_dimension_sink_writer,
    )

    t = [dt.datetime(2024, 1, d) for d in (1, 5, 9, 13)]
    updates = [
        Row(k=1, v="a", effective_ts=t[0]),
        Row(k=2, v="x", effective_ts=t[0]),
        Row(k=1, v="b", effective_ts=t[1]),
        Row(k=1, v="b", effective_ts=t[2]),  # no-op update
        Row(k=2, v="y", effective_ts=t[2]),
        Row(k=1, v="a", effective_ts=t[3]),
    ]
    schema = "k long, v string, effective_ts timestamp"
    src = tmp_path / "src"
    # two time-ordered landing files -> two micro-batches
    spark.createDataFrame(updates[:2], schema).coalesce(1).write.parquet(
        str(src / "f1")
    )
    spark.createDataFrame(updates[2:], schema).coalesce(1).write.parquet(
        str(src / "f2")
    )

    dim_dir = str(tmp_path / "dim")

    def run(ckpt):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(scd2_dimension_sink_writer(dim_dir, "k"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run(str(tmp_path / "ck1"))
    streamed = sorted(
        map(tuple, spark.read.parquet(dim_dir)
            .select("k", "v", "valid_from", "valid_to").collect())
    )
    # batch reference: ONE merge of the full update set into a fresh dim
    ref_dir = str(tmp_path / "ref")
    merge_dimension_scd2(
        spark, ref_dir, spark.createDataFrame(updates, schema), "k"
    )
    ref = sorted(
        map(tuple, spark.read.parquet(ref_dir)
            .select("k", "v", "valid_from", "valid_to").collect())
    )
    assert streamed == ref
    # replay the WHOLE stream from a fresh checkpoint: nothing moves
    run(str(tmp_path / "ck2"))
    replayed = sorted(
        map(tuple, spark.read.parquet(dim_dir)
            .select("k", "v", "valid_from", "valid_to").collect())
    )
    assert replayed == streamed
