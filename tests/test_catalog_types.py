"""load_table must normalize events.ts across the physical parquet
types the testdata has actually shipped with: TIMESTAMP(NANOS) (read as
raw long nanos via the legacy flag), TIMESTAMP(MICROS) (arrives as
TIMESTAMP_NTZ), and plain TIMESTAMP -- round 3 lost 13 driver verdicts
to an unhandled representation change, so every variant is pinned here.
"""

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampType

from real_time_fraud_detection_system_spark.catalog import load_table
from tests.conftest import SF_SMOKE

_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in micros
_WANT = datetime.datetime(2024, 1, 1, 0, 0, 0)


def _write_events(tmpdir: str, ts_array: pa.Array) -> str:
    table = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([7], pa.int64()),
            "event_type": pa.array(["click"]),
            "value": pa.array([1.5], pa.float64()),
            "props": pa.array(["{}"]),
        }
    )
    os.makedirs(os.path.join(tmpdir, "events.parquet"), exist_ok=True)
    pq.write_table(
        table, os.path.join(tmpdir, "events.parquet", "part-0.parquet")
    )
    return tmpdir


@pytest.mark.parametrize(
    "ts_array",
    [
        pytest.param(
            pa.array([_EPOCH_US * 1000], pa.timestamp("ns")), id="nanos"
        ),
        pytest.param(pa.array([_EPOCH_US], pa.timestamp("us")), id="micros"),
        pytest.param(
            pa.array([_EPOCH_US], pa.timestamp("us", tz="UTC")), id="micros-utc"
        ),
    ],
)
def test_load_table_normalizes_ts(spark, tmp_path, ts_array):
    sf_dir = _write_events(str(tmp_path), ts_array)
    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    row = df.collect()[0]
    # session tz is UTC, so the wall-clock must be the encoded instant
    assert row["ts"] == _WANT


def test_documents_text_never_null(spark):
    """Fixture invariant the Arrow kernels (repetition_stats, the two
    bigram passes) and the repetition oracle's WHERE rely on sharing:
    the corpus never carries NULL text (ADVICE r13 -- the kernels drop
    null-text docs like the retired explode forms, so a catalog that
    produced one would need every consumer re-audited, and this test
    is the tripwire)."""
    checked = 0
    for sf_dir in (SF_SMOKE, os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")):
        if not os.path.isdir(sf_dir):
            continue
        n = load_table(spark, sf_dir, "documents").filter(
            "text IS NULL"
        ).count()
        assert n == 0, f"{sf_dir}: {n} null-text documents"
        checked += 1
    if not checked:
        pytest.skip(f"no fixture dir present ({SF_SMOKE})")
