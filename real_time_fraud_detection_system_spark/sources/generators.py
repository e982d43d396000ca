"""Synthetic data generators, distribution-faithful to the reference.

S1 -- transaction stream (services/producer/app/producer.py:16-29):
  amount ~ round(lognormal(mu=3, sigma=1), 2), with p=0.05 spiked by
  uniform(5, 20); num_items = int(max(1, N(2, 1)));
  merchant_risk ~ U(0, 1); hour = tz-local hour; uuid id; event_time.

M1 -- training frame (services/training/app/training.py:14-40):
  same feature marginals (hour ~ randint(0, 24)); label via
  p = sigmoid(0.002*amount + 1.5*merchant_risk
              + 0.05*1[hour in {0,1,2,3,23}] - 2.5); y ~ Bernoulli(p).

Everything is a Catalyst expression over ``spark.range`` (batch) or the
rate source (streaming) -- the generator itself distributes: each
executor draws its own partition's rows, seeded deterministically, so
generating 10^12 rows is the same code as 10^3. No driver-side RNG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FEATURE_ORDER = ("amount", "num_items", "merchant_risk", "hour")
PRODUCER_TZ = "Africa/Cairo"  # producer.py:26 stamps events in Cairo local time


def _amount(seed: int):
    base = F.round(F.exp(F.randn(seed) * 1.0 + 3.0), 2)
    spike = F.rand(seed + 1) < 0.05
    mult = F.rand(seed + 2) * 15.0 + 5.0
    return F.round(F.when(spike, base * mult).otherwise(base), 2)


def _transactions(df: DataFrame, ts, seed: int, tz: str) -> DataFrame:
    """The S1 columns over any frame, stamped with the ``ts`` column."""
    return df.select(
        F.expr("uuid()").alias("transaction_id"),
        _amount(seed).alias("amount"),
        F.struct(
            F.greatest(F.lit(1), F.round(F.randn(seed + 3) + 2.0, 0))
            .cast("int")
            .alias("num_items"),
            F.rand(seed + 4).alias("merchant_risk"),
            F.hour(F.from_utc_timestamp(ts, tz)).cast("double").alias("hour"),
        ).alias("features"),
        ts.alias("event_time"),
    )


def transactions_batch(
    spark: SparkSession, n: int, seed: int = 42, tz: str = PRODUCER_TZ
) -> DataFrame:
    """Batch variant of the S1 producer: n simulated card transactions."""
    return _transactions(spark.range(n), F.current_timestamp(), seed, tz)


def transactions_stream(
    spark: SparkSession, rows_per_second: int = 2000, seed: int = 42,
    tz: str = PRODUCER_TZ,
) -> DataFrame:
    """Streaming variant: rate source -> same column expressions.
    rowsPerSecond defaults to 1000x the reference's 2 ev/s envelope
    (docker-compose.yml:108, PRODUCE_RATE_PER_SEC)."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return _transactions(rate, F.col("timestamp"), seed, tz)


def training_frame(spark: SparkSession, n: int = 5000, seed: int = 42) -> DataFrame:
    """M1: labelled training frame with the reference's logit recipe
    (training.py:23-29). Flat columns (amount, num_items, merchant_risk,
    hour, label) ready for the assembler."""
    df = spark.range(n)
    amount = F.exp(F.randn(seed) * 1.0 + 3.0)
    num_items = F.greatest(F.lit(1), F.round(F.randn(seed + 1) + 2.0, 0)).cast("int")
    merchant_risk = F.rand(seed + 2)
    hour = F.floor(F.rand(seed + 3) * 24).cast("double")
    out = df.select(
        amount.alias("amount"),
        num_items.alias("num_items"),
        merchant_risk.alias("merchant_risk"),
        hour.alias("hour"),
    )
    night = F.col("hour").isin(0.0, 1.0, 2.0, 3.0, 23.0).cast("double")
    logits = (
        0.002 * F.col("amount") + 1.5 * F.col("merchant_risk") + 0.05 * night - 2.5
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-logits))
    return out.withColumn(
        "label", (F.rand(seed + 4) < p).cast("int")
    )
