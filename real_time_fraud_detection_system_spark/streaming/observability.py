"""Streaming observability: a StreamingQueryListener that lands every
micro-batch's progress as rows in an append-only JSONL ops log, plus
the summary frame an on-call dashboard reads.

The reference's health surface is a Grafana panel over the predictions
table plus container logs (docker-compose.yml grafana service;
SURVEY.md S10); Spark's native equivalent is the StreamingQueryProgress
event stream. This module makes that stream QUERYABLE: the listener
appends one JSON line per finished micro-batch (query id/name, batch
id, timestamp, input rows, rows/sec, batch duration and the phases it
splits into, the first state operator's rows/drops/commit time,
watermark), and
``ops_log_summary`` turns the log directory into the per-query health
report (batches, rows, p50/max durations, last watermark) -- the
"is the pipeline keeping up" table.

Design notes:
  * the listener writes DRIVER-side (progress events are driver
    events): one small JSON line per micro-batch, append-only, crash
    tolerant (a torn final line is skipped on read);
  * the summary is computed by Spark reading the JSONL -- the ops log
    of a 1000-query fleet is still tiny data, but it arrives as a
    DataFrame so the same alerting/DQ operators the engine applies to
    data apply to its own operations;
  * no oracle entry: the log contents are wall-clock dependent by
    nature. The replay test asserts structure and row accounting, not
    timings.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener


# ops-log column -> StreamingQueryProgress.durationMs key: the phases a
# micro-batch's triggerExecution is spent in
PHASES = {
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
    "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


class OpsLogListener(StreamingQueryListener):
    """Append one JSONL row per completed micro-batch to
    ``<log_dir>/progress.jsonl``."""

    def __init__(self, log_dir: str):
        self.log_dir = log_dir
        os.makedirs(log_dir, exist_ok=True)
        self._path = os.path.join(log_dir, "progress.jsonl")

    def onQueryStarted(self, event) -> None:
        self._append(
            {
                "event": "started",
                "query_id": str(event.id),
                "run_id": str(event.runId),
                "name": event.name,
                "ts": time.time(),
            }
        )

    def onQueryProgress(self, event) -> None:
        p = event.progress
        durations = p.durationMs or {}
        ops = p.stateOperators
        self._append(
            {
                "event": "progress",
                "query_id": str(p.id),
                "run_id": str(p.runId),
                "name": p.name,
                "batch_id": p.batchId,
                "ts": time.time(),
                "num_input_rows": p.numInputRows,
                "input_rows_per_second": p.inputRowsPerSecond,
                "process_rows_per_second": p.processedRowsPerSecond,
                "batch_duration_ms": durations.get("triggerExecution"),
                **{col: durations.get(key) for col, key in PHASES.items()},
                "state_rows_total": ops[0].numRowsTotal if ops else None,
                "state_rows_dropped_by_watermark": (
                    ops[0].numRowsDroppedByWatermark if ops else None
                ),
                "state_commit_ms": ops[0].commitTimeMs if ops else None,
                "watermark": (p.eventTime or {}).get("watermark"),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self._append(
            {
                "event": "terminated",
                "query_id": str(event.id),
                "run_id": str(event.runId),
                "ts": time.time(),
                "exception": event.exception,
            }
        )

    def _append(self, rec: dict) -> None:
        with open(self._path, "a") as fh:
            fh.write(json.dumps(rec, default=str))
            fh.write("\n")


OPS_LOG_SCHEMA = (
    "event string, query_id string, run_id string, name string,"
    " batch_id long, ts double, num_input_rows long,"
    " input_rows_per_second double, process_rows_per_second double,"
    " batch_duration_ms long, "
    + "".join(f"{col} long, " for col in PHASES)
    + "state_rows_total long, state_rows_dropped_by_watermark long,"
    " state_commit_ms long, watermark string, exception string"
)


def read_ops_log(spark: SparkSession, log_dir: str) -> DataFrame:
    """The raw ops log as a typed frame (torn/corrupt lines dropped --
    the dead-letter posture applied to the engine's own telemetry)."""
    return (
        spark.read.schema(OPS_LOG_SCHEMA)
        .option("mode", "DROPMALFORMED")
        .json(os.path.join(log_dir, "progress.jsonl"))
    )


def ops_log_summary(spark: SparkSession, log_dir: str) -> DataFrame:
    """Per-(query, run) health rollup: batches, total/max input rows,
    median + max batch duration, last watermark -- the keeping-up
    table."""
    log = read_ops_log(spark, log_dir).filter(F.col("event") == "progress")
    return (
        log.groupBy("query_id", "run_id", "name")
        .agg(
            F.count("*").alias("n_batches"),
            F.expr("CAST(sum(num_input_rows) AS BIGINT)").alias(
                "total_rows"
            ),
            F.max("num_input_rows").alias("max_batch_rows"),
            F.expr(
                "CAST(percentile_approx(batch_duration_ms, 0.5) AS BIGINT)"
            ).alias("p50_batch_ms"),
            F.max("batch_duration_ms").alias("max_batch_ms"),
            F.max("watermark").alias("last_watermark"),
            F.max("batch_id").alias("last_batch_id"),
        )
        .orderBy("name", "run_id")
    )
