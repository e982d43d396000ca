"""Local mimic of the driver's correctness gate -- DRIVER-FAITHFUL.

Round-1 lesson (VERDICT.md "What's wrong" #5): the old checker
canonicalized every cell through ``%.9g`` / stringified lists, which
green-lit five queries the driver failed. The driver instead compares
pandas frames: Spark via ``toPandas()``-equivalent collect, the oracle via
DuckDB ``fetchdf()`` -- so DuckDB HUGEINT sums arriving as float64 render
"0.0" against Spark's int64 "0" (hash mismatch), and array-typed cells
blow up its ``sort_values`` canonicalizer entirely.

This version reproduces both behaviors:
  * oracle fetched with ``fetchdf()`` (dtype sensitivity included);
  * cells rendered with ``str()`` of the pandas/numpy value -- NO float
    reformatting -- so int-vs-float dtype drift is a FAIL;
  * list/ndarray cells in either frame are a hard FAIL (driver errors on
    them), forcing queries to serialize arrays before returning.

Usage: python tools/check_correctness.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

from real_time_fraud_detection_system_spark.catalog import TABLES, table_path
from real_time_fraud_detection_system_spark.session import get_spark


class UnhashableCell(Exception):
    pass


def _canon_frame(df: pd.DataFrame) -> list[str]:
    """Driver-style canonical form: columns sorted by name, rows sorted,
    cells rendered with plain str(). Raises UnhashableCell on list/array
    cells exactly where the driver's sort_values would raise."""
    df = df[sorted(df.columns)]
    for col in df.columns:
        if df[col].map(lambda v: isinstance(v, (list, tuple, np.ndarray, dict))).any():
            raise UnhashableCell(col)
    try:
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    except TypeError as exc:  # unhashable / unorderable mix
        raise UnhashableCell(str(exc)) from exc
    out = []
    for row in df.itertuples(index=False):
        out.append("|".join(_cell(v) for v in row))
    return out


def _cell(v) -> str:
    if v is None or v is pd.NaT or (isinstance(v, float) and np.isnan(v)):
        return "NULL"
    if isinstance(v, pd.Timestamp):
        # DuckDB fetchdf renders DATE as midnight datetime64 while Spark
        # toPandas keeps datetime.date objects; the driver tolerates this
        # (daily_metrics passed round 1), so collapse midnight to the date
        if v.tzinfo is None and v == v.normalize():
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    # deliberately no numeric normalization: np.int64(0) -> "0",
    # np.float64(0.0) -> "0.0" -- the dtype drift the driver punishes
    return str(v)


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per catalog table of sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'"
        )
    return con


def compare(spdf: pd.DataFrame, dpdf: pd.DataFrame) -> str | None:
    """None when the Spark frame matches the oracle frame (columns, row
    count, canonical values), else why it does not."""
    if sorted(spdf.columns) != sorted(dpdf.columns):
        return (
            f"columns differ spark={sorted(spdf.columns)} "
            f"duck={sorted(dpdf.columns)}"
        )
    if len(spdf) != len(dpdf):
        return f"rowcount spark={len(spdf)} duck={len(dpdf)}"
    try:
        s_repr = _canon_frame(spdf)
    except UnhashableCell as exc:
        return f"spark output has array/list cells ({exc})"
    try:
        d_repr = _canon_frame(dpdf)
    except UnhashableCell as exc:
        return f"oracle output has array/list cells ({exc})"
    if s_repr != d_repr:
        diffs = [(a, b) for a, b in zip(s_repr, d_repr) if a != b][:3]
        return "values differ; first diffs:" + "".join(
            f"\n   spark: {a}\n   duck : {b}" for a, b in diffs
        )
    return None


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    name_filter = args[1:]

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark("correctness-check")
    con = oracle_connection(sf_dir)

    n_pass = n_fail = 0
    for name, fn in queries.items():
        if name_filter and not any(f in name for f in name_filter):
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
            verdict = compare(spdf, con.execute(oracles[name]).fetchdf())
        except Exception:
            print(f"FAIL  {name}: raised")
            traceback.print_exc()
            n_fail += 1
            continue
        if verdict is None:
            print(f"PASS  {name}: {len(spdf)} rows [{time.time() - t0:.1f}s]")
            n_pass += 1
        else:
            print(f"FAIL  {name}: {verdict}")
            n_fail += 1

    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
