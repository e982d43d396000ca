"""EP1 hot path: transactions stream -> parse -> dedup -> score -> sink.

Reference lifecycle (SURVEY.md section 3, main.py:219-254): Kafka consumer
loop, per-event JSON parse, coerce, score, one INSERT per event, offsets
auto-committed (at-least-once, duplicates possible). The Spark pipeline is
the strict upgrade documented in SURVEY.md T2/T3: checkpointed offsets +
watermarked dropDuplicates on transaction_id => effectively exactly-once
into an idempotent date-partitioned parquet sink, with a dead-letter
branch for poison messages (T6) instead of log-and-skip.

Scale posture: maxOffsetsPerTrigger bounds micro-batch size; the sink
appends set-oriented (no per-row INSERT); date partitioning replaces the
reference's btree indexes (init.sql:19-21) and serves the daily-metrics
partition pruning (P13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRANSACTION_SCHEMA = T.StructType(
    [
        T.StructField("transaction_id", T.StringType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField(
            "features",
            T.StructType(
                [
                    T.StructField("num_items", T.IntegerType()),
                    T.StructField("merchant_risk", T.DoubleType()),
                    T.StructField("hour", T.DoubleType()),
                ]
            ),
        ),
        T.StructField("event_time", T.TimestampType()),
    ]
)

WATERMARK = "10 minutes"


def parse_transactions(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """P1/T6: permissive JSON parse of the wire format. Returns parsed
    rows with a ``_corrupt`` flag; callers route corrupt rows to the
    dead-letter sink instead of the reference's log-and-skip
    (main.py:233-235)."""
    parsed = raw.withColumn(
        "parsed",
        F.from_json(F.col(value_col).cast("string"), TRANSACTION_SCHEMA),
    )
    return parsed.select(
        F.col(value_col).cast("string").alias("raw_payload"),
        F.col("parsed.*"),
    ).withColumn(
        "_corrupt",
        F.col("transaction_id").isNull() | F.col("event_time").isNull(),
    )


def file_drop_source(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """Landing-zone ingestion: a file stream over newline-delimited
    JSON payloads dropped into a directory -- the broker-less third
    ingestion path beside the rate source (tests) and Kafka
    (integration-gated). Each line is one wire payload; rows flow
    through the SAME parse_transactions dead-letter path as the Kafka
    value column, so corrupt lines surface instead of vanishing.
    maxFilesPerTrigger bounds per-micro-batch work exactly like
    maxOffsetsPerTrigger does on the broker path."""
    return (
        spark.readStream.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        ).text(landing_dir)  # .text() fixes the schema: one STRING
        # column named "value" -- exactly the Kafka value shape
    )


def kafka_source(
    spark: SparkSession,
    brokers: str,
    topic: str = "transactions",
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int = 100_000,
) -> DataFrame:
    """S3: Kafka JSON consumer. Requires the spark-sql-kafka package on
    the classpath (not in this container -- integration-gated; the rate
    source drives all local tests)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", max_offsets_per_trigger)
        .load()
    )


def peek_newest(raw: DataFrame, n: int = 1) -> DataFrame:
    """The peek core: newest-n-then-parse over any BATCH frame carrying
    the Kafka wire columns (``value`` binary, ``timestamp``). Top-n on
    the broker-side timestamp FIRST (TakeOrderedAndProject --
    per-partition top-n, no global sort), THEN parse: parsing before
    selecting would run the JSON parse over the topic's full retention
    for an n-row diagnostic. Corrupt payloads are NOT filtered -- a
    peek is exactly where an operator wants to SEE the malformed bytes
    (raw_payload rides along, _corrupt flags them). Separated from
    ``kafka_peek`` so the recorded-segment harness
    (tests/test_replay_resume.py) can drive it without a broker."""
    newest = raw.orderBy(F.col("timestamp").desc_nulls_last()).limit(n)
    return parse_transactions(newest)


def kafka_peek(
    spark: SparkSession,
    brokers: str,
    topic: str = "transactions",
    n: int = 1,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S4: one-shot diagnostic peek at the newest parsed messages -- the
    reference's GET /peek endpoint (main.py:147-170) as a BATCH Kafka
    read (spark.read, not readStream: runs once, releases the consumer).
    The broker connection is the only untested seam (no spark-sql-kafka
    in this container); the newest-first + parse semantics run in
    tests/test_replay_resume.py over recorded wire segments. Bound the
    scan itself by passing a timestamp-based starting_offsets where the
    client supports it."""
    raw = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("endingOffsets", "latest")
        .load()
    )
    return peek_newest(raw, n)


def kafka_sink_options(df: DataFrame, brokers: str, topic: str) -> DataFrame:
    """S2: serialize to the wire format for a Kafka sink."""
    return df.select(F.to_json(F.struct("*")).alias("value"))


def deduplicated(transactions: DataFrame) -> DataFrame:
    """T2 upgrade: watermarked exact dedup on transaction_id."""
    return transactions.withWatermark("event_time", WATERMARK).dropDuplicates(
        ["transaction_id"]
    )


def scored_stream(transactions: DataFrame, model=None, model_version=None) -> DataFrame:
    """Score the (already parsed) stream with the shared scorer."""
    from ..ml.scoring import score

    return score(deduplicated(transactions), model, model_version)


def prediction_sink_writer(out_dir: str):
    """S5: foreachBatch writer into the date-partitioned parquet
    prediction store, exactly-once through ``storage.commit_epoch``.

    A replayed epoch whose commit already happened writes nothing, but
    still executes the full plan (noop sink): the stateful dedup
    upstream must see every partition processed or the state-store
    commit validator fails the batch.

    Cooperates with storage.compact_partitions: while the store's
    compaction lock is up, appending would hand rows to a rewrite that
    silently drops them, so the batch raises instead -- the checkpoint
    has not committed this epoch, so a restart replays it loss-free
    after the lock clears."""
    from ..storage import (
        STORE_PARTITION_COL,
        CompactionInProgress,
        commit_epoch,
        compaction_locked,
    )

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if compaction_locked(out_dir):
            raise CompactionInProgress(
                f"prediction store {out_dir} is being compacted; "
                "refusing to append (epoch will replay after restart)"
            )

        def write(staging: str) -> None:
            (
                batch_df.withColumn(STORE_PARTITION_COL, F.to_date("event_time"))
                .write.partitionBy(STORE_PARTITION_COL)
                .parquet(staging)
            )

        if not commit_epoch(out_dir, epoch_id, write):
            batch_df.write.format("noop").mode("overwrite").save()

    return write_batch


def jdbc_prediction_sink(
    url: str,
    table: str,
    properties: dict | None = None,
    writer=None,
):
    """S5 JDBC variant: foreachBatch writer appending each micro-batch to
    a relational table, completing parity with the reference's per-event
    Postgres INSERT loop (main.py:236-254) as ONE set-oriented append per
    epoch. DB-gated: no JDBC driver ships in this container, so tests
    inject ``writer`` (a fn(batch_df) fake); production uses the default
    ``DataFrameWriter.jdbc`` path with e.g.
    url='jdbc:postgresql://host/db', properties={'user': ..., 'driver':
    'org.postgresql.Driver'}.

    At-least-once into the table (a replayed epoch re-appends); pair with
    a transaction_id unique index + ON CONFLICT DO NOTHING materialized
    view, or the parquet sink, where exactly-once matters."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if writer is not None:
            writer(batch_df)
        else:
            batch_df.write.jdbc(
                url, table, mode="append", properties=properties or {}
            )

    return write_batch


def run_pipeline(
    transactions: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    model=None,
    model_version=None,
    trigger_seconds: int | None = None,
    sink=None,
):
    """Wire the hot path end-to-end and start it. Returns the
    StreamingQuery; S10 status = query.status / lastProgress.
    ``sink`` overrides the default prediction_sink_writer(out_dir)
    foreachBatch fn (tests use it to inject crash faults)."""
    scored = scored_stream(transactions, model, model_version)
    writer = (
        scored.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink or prediction_sink_writer(out_dir))
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def risk_band_dim(spark: SparkSession) -> DataFrame:
    """Static 10-row merchant-risk-band dimension (the SURVEY section 2.4
    'natural extension': enrich the stream against a broadcast dim)."""
    rows = [
        (b, "low" if b < 3 else ("medium" if b < 7 else "high"), 1.0 + b / 10.0)
        for b in range(10)
    ]
    return spark.createDataFrame(
        rows, "risk_band int, risk_label string, risk_multiplier double"
    )


def enriched_stream(transactions: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static broadcast join: each transaction picks up its risk
    band's label/multiplier. The dim is broadcast once per micro-batch
    plan -- no shuffle on the stream side at any scale."""
    banded = transactions.withColumn(
        "risk_band",
        F.floor(
            F.least(F.col("features.merchant_risk"), F.lit(0.999)) * 10
        ).cast("int"),
    )
    return banded.join(F.broadcast(dim), "risk_band", "left")


def run_pipeline_with_registry(
    transactions: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    registry_dir: str,
    trigger_seconds: int | None = None,
):
    """T8: hot model reload. The reference refreshes its registry model on
    a 60 s daemon thread (main.py:132-133, 183-189); Spark has no
    mid-stream operator swap, so the pragmatic equivalent (SURVEY.md
    section 7 'what's hard') is scoring inside ``foreachBatch`` and
    re-resolving the Production pointer every epoch: a batch DataFrame
    can be transformed by a freshly loaded model, the streaming plan
    itself never changes. ``load_production`` memoizes the load, so an
    epoch under an unchanged Production pays one pointer read and one
    stat. Dedup stays stream-side (it is stateful); scoring moves
    batch-side."""
    from ..ml.scoring import score
    from ..ml.training import load_production

    sink = prediction_sink_writer(out_dir)

    def score_and_write(batch_df: DataFrame, epoch_id: int) -> None:
        model, version = load_production(batch_df.sparkSession, registry_dir)
        sink(score(batch_df, model, version), epoch_id)

    writer = (
        deduplicated(transactions)
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(score_and_write)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_stream_click_purchase_join(
    clicks: DataFrame, purchases: DataFrame, horizon: str = "5 minutes"
) -> DataFrame:
    """Stream-stream inner join: purchases matched to the same user's
    clicks from the preceding `horizon`. Both sides carry watermarks so
    the join state is bounded -- Spark retains click state only until
    the purchase-side watermark passes click_ts + horizon, then evicts.
    The batch twin is operators/temporal.clicks_before_errors (bucketed
    interval join); this is the streaming-native path.

    Inputs: clicks(user_id, click_ts) and purchases(user_id,
    purchase_ts, amount); a ``user_id`` column is renamed internally to
    the prefixed join keys, and already-prefixed inputs
    (c_user_id/p_user_id) pass through unchanged. Output keeps the
    prefixed keys (both sides survive the inner join).
    """
    c = clicks.withColumnRenamed("user_id", "c_user_id").withWatermark(
        "click_ts", horizon
    )
    p = purchases.withColumnRenamed("user_id", "p_user_id").withWatermark(
        "purchase_ts", horizon
    )
    return p.join(
        c,
        F.expr(
            "p_user_id = c_user_id AND "
            f"click_ts >= purchase_ts - INTERVAL {horizon} AND "
            "click_ts < purchase_ts"
        ),
        "inner",
    )


def session_window_counts(
    events: DataFrame, gap: str = "30 minutes"
) -> DataFrame:
    """Native session_window streaming aggregation (dynamic gap-based
    windows) -- the built-in counterpart of streaming/stateful.py's
    custom applyInPandasWithState sessionizer. Emits one row per closed
    session in append mode once the watermark passes the gap."""
    return (
        events.withWatermark("ts", gap)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def windowed_counts(transactions: DataFrame) -> DataFrame:
    """T4: sliding 1h/5min event-time window aggregation with late-data
    handling via watermark (strictly better than the reference's
    recompute-today cron -- SURVEY.md T3)."""
    return (
        transactions.withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "1 hour", "5 minutes"))
        .agg(
            F.count("*").alias("n"),
            F.avg("amount").alias("avg_amount"),
        )
    )
