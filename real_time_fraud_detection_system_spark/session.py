"""SparkSession factory.

Scale posture (100 TB): AQE on (runtime coalescing + skew-join splitting),
shuffle partitions sized to cores locally (a real cluster overrides via
--conf), UTC session timezone so event-time semantics are stable across
engines (the reference's Africa/Cairo producer vs server-tz Postgres is a
documented trap -- SURVEY.md P18), Arrow enabled for the few pandas-UDF
paths (multimodal decode, pyfunc scoring).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "rtfds-spark"

# events.parquet has shipped with TIMESTAMP(NANOS) columns, which
# Spark's reader rejects unless told to surface them as raw longs; the
# catalog loader then truncates ns -> us to agree with DuckDB. Baked
# into every get_spark session; ensure_runtime_conf covers sessions
# built elsewhere (the grading driver hands the engine its own).
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def ensure_runtime_conf(spark: SparkSession) -> None:
    """Idempotently apply the session settings the engine requires to an
    EXTERNALLY built session. No-op on get_spark sessions (already baked
    at build time), so callers may invoke it freely."""
    if spark.conf.get(NANOS_AS_LONG, "false") != "true":
        spark.conf.set(NANOS_AS_LONG, "true")


@contextlib.contextmanager
def conf_override(spark: SparkSession, key: str, value: str):
    """Scoped session-conf override: set, yield, restore the prior value
    (or unset if there was none). The ONE sanctioned way to flip session
    state mid-flight -- all other conf writes live in this module."""
    try:
        prior = spark.conf.get(key)
    except Exception:
        prior = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def driver_memory() -> str:
    """$SPARK_GRAFT_DRIVER_MEM, else half of physical RAM: in local mode
    the driver heap is also every executor's, and the other half is left
    to the OS page cache and the Python workers."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    half_mb = max(1024, total // 2 // 2**20)
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{half_mb}m"


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# RocksDB-backed streaming state store. The default provider keeps every
# stateful operator's state (sessionizer and gap-monitor per-user rows,
# dropDuplicates sets, window aggregates) on the EXECUTOR HEAP -- at
# 100x users that heap is the first thing to die, while RocksDB spills
# state to local disk with bounded memory (the provider Spark itself
# ships for exactly this). Changelog checkpointing uploads per-commit
# deltas instead of full snapshots, keeping commit cost proportional to
# the trigger's writes. Runtime SQL confs: settable per session/test via
# conf_override, no session rebuild needed; a new provider takes effect
# for QUERIES STARTED after the change (existing checkpoints keep the
# provider they started with).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


# Streaming checkpoint files (offsets, commits, state-store deltas and
# their checksums) are written through Hadoop's FileContext by default.
# Without libhadoop, FileContext on the local file system shells out to
# `chmod` for every file and directory it creates and to `readlink` on
# every rename: 200+ short-lived child processes per streaming run,
# each spawned by the multi-GB JVM. The FileSystem-based manager writes
# a temp file and renames it with one rename(2) call, which is atomic
# on local disks and HDFS, and spawns less than half as many children.
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def rocksdb_state_conf() -> dict[str, str]:
    return {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled": "true",
    }


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Every config here is cluster-safe: on a real cluster the master and
    memory come from spark-submit and these remain sensible defaults.
    """
    n = cpus or cpu_count()
    shuffle = shuffle_partitions or n
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(NANOS_AS_LONG, "true")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            CHECKPOINT_FILE_MANAGER,
        )
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
    )
    # opt-in RocksDB state store for every stateful streaming query in
    # the session (100x-user posture; see rocksdb_state_conf)
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() == "rocksdb":
        for k, v in rocksdb_state_conf().items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
