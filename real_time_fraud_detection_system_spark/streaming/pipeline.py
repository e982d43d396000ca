"""EP1 hot path: transactions stream -> parse -> dedup -> score -> sink.

Reference lifecycle (SURVEY.md section 3, main.py:219-254): Kafka consumer
loop, per-event JSON parse, coerce, score, one INSERT per event, offsets
auto-committed (at-least-once, duplicates possible). The Spark pipeline is
the strict upgrade documented in SURVEY.md T2/T3: checkpointed offsets +
watermarked dropDuplicates on transaction_id => effectively exactly-once
into an idempotent date-partitioned parquet sink.

One function starts the scoring stream: ``run_pipeline_with_registry``
(scoring inside foreachBatch, with the heuristic when there is no
registry). Every wire source (Kafka, the landing dir) goes through
``valid_transactions`` first, so rows flagged corrupt (T6) are dropped
before dedup and the store's schema does not depend on the source.
Persisting those rows as dead letters is still open (ROADMAP
direction 3).

Scale posture: maxOffsetsPerTrigger bounds micro-batch size; the sink
appends set-oriented (no per-row INSERT); date partitioning replaces the
reference's btree indexes (init.sql:19-21) and serves the daily-metrics
partition pruning (P13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import conf_override

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
    rows with the ``raw_payload`` and a ``_corrupt`` flag, so a caller
    can see corrupt rows instead of the reference's log-and-skip
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


def valid_transactions(raw: DataFrame) -> DataFrame:
    """The ingest transform of every wire source: parse, drop the rows
    flagged ``_corrupt`` (so no null ``transaction_id`` or
    ``event_time`` reaches the store), keep exactly the
    TRANSACTION_SCHEMA fields."""
    return (
        parse_transactions(raw)
        .filter(~F.col("_corrupt"))
        .select(*TRANSACTION_SCHEMA.fieldNames())
    )


def file_drop_source(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """Landing-zone ingestion: a file stream over newline-delimited
    JSON payloads dropped into a directory -- the broker-less third
    ingestion path beside the rate source and Kafka. Each line is one
    wire payload, so it goes through the same valid_transactions as
    the Kafka value column.
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
    the classpath; without a broker, tests/test_replay_resume.py feeds
    recorded wire segments through the same valid_transactions."""
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


def kafka_sink_options(df: DataFrame) -> DataFrame:
    """S2: serialize to the wire format for a Kafka sink."""
    return df.select(F.to_json(F.struct("*")).alias("value"))


def deduplicated(transactions: DataFrame) -> DataFrame:
    """T2 upgrade: watermarked exact dedup on transaction_id."""
    return transactions.withWatermark("event_time", WATERMARK).dropDuplicates(
        ["transaction_id"]
    )


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
    registry_dir: str | None = None,
    trigger_seconds: int | None = None,
):
    """Start the scoring stream: dedup, score, prediction_sink_writer.
    Returns the StreamingQuery (S10 status = query.status /
    lastProgress). Without ``trigger_seconds`` it drains what is
    available and stops; with no ``registry_dir`` it scores with the
    heuristic.

    T8: hot model reload. The reference refreshes its registry model on
    a 60 s daemon thread (main.py:132-133, 183-189); Spark has no
    mid-stream operator swap, so the pragmatic equivalent (SURVEY.md
    section 7 'what's hard') is scoring inside ``foreachBatch`` and
    re-resolving the Production pointer every epoch: a batch DataFrame
    can be scored by a freshly loaded model, the streaming plan itself
    never changes. ``load_production`` memoizes the load and ``score``
    compiles each loaded model once, so an epoch under an unchanged
    Production pays one pointer read, one stat and one projection.
    Dedup stays stream-side (it is stateful); scoring moves
    batch-side."""
    # resolved at call time, so tests and tracers can patch score,
    # load_production and prediction_sink_writer on their modules
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
    # Dedup emits rows only when data arrives, and its watermark filter
    # drops a late row whether or not expired state is gone yet, so a
    # no-data micro-batch would only evict state one batch early (an
    # empty batch at the end of every drain). The query clones the
    # session at start(), so the setting reaches this query only.
    with conf_override(
        transactions.sparkSession,
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "false",
    ):
        return writer.start()


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
