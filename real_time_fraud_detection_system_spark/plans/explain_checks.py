"""Physical-plan assertions: the 'would this survive 100x scale' checks.

Each helper inspects ``df._jdf.queryExecution()`` formatted output --
the same text ``df.explain("formatted")`` prints -- and asserts a
property the 100 TB posture depends on:

  * assert_pushed_filters  -- predicates reached the parquet scan
    (PushedFilters), so row groups are skipped by min/max stats.
  * assert_pruned_schema   -- the scan reads only needed columns
    (ReadSchema), i.e. column pruning happened.
  * assert_broadcast_join  -- a dimension join went broadcast, not
    shuffle (no Exchange on the small side).
  * assert_no_cartesian    -- guards against accidental cross joins.
  * count_exchanges        -- shuffle budget: a query that should be
    one-shuffle must not silently grow a second Exchange.

Used by tests/test_plans.py; also handy interactively while tuning.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def _explain(df: DataFrame, mode: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def formatted_plan(df: DataFrame) -> str:
    return _explain(df, "formatted")


def simple_plan(df: DataFrame) -> str:
    return _explain(df, "simple")


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    plan = formatted_plan(df)
    scans = [
        block for block in plan.split("\n\n") if "PushedFilters" in block
    ]
    assert scans, f"no scan with PushedFilters in plan:\n{plan}"
    joined = "\n".join(scans)
    for frag in fragments:
        assert frag in joined, (
            f"expected pushed filter {frag!r}; pushed filters were:\n{joined}"
        )


def assert_pruned_schema(df: DataFrame, table_hint: str, max_cols: int) -> None:
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "ReadSchema" in line and table_hint in plan:
            schema_part = line.split("ReadSchema:", 1)[1]
            n_cols = schema_part.count(":")
            assert n_cols <= max_cols, (
                f"scan reads {n_cols} columns, expected <= {max_cols}: {line}"
            )
            return
    raise AssertionError(f"no ReadSchema found in plan:\n{plan}")


def assert_broadcast_join(df: DataFrame) -> None:
    plan = simple_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        f"expected a broadcast join:\n{plan}"
    )


def assert_no_cartesian(df: DataFrame) -> None:
    plan = simple_plan(df)
    assert "CartesianProduct" not in plan, f"cartesian product in plan:\n{plan}"


def count_exchanges(df: DataFrame) -> int:
    return simple_plan(df).count("Exchange")
