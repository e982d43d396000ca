"""Operator registry: each submodule exposes QUERIES (name -> callable
taking (spark, sf_dir) -> DataFrame) and ORACLE (name -> DuckDB SQL).

``all_queries()`` / ``all_oracles()`` merge the registries for
``__spark_entry__`` in module order, then each module's dict order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _modules():
    from . import (
        anomaly, corpusops, dedup, layout, metrics, mlqueries, multimodal,
        relational, sessionize, similarity, sketches, skew, stats, temporal,
        textops, tpch_extra, windows,
    )

    return [relational, metrics, dedup, similarity, textops, corpusops,
            sessionize, multimodal, windows, temporal, mlqueries, tpch_extra,
            skew, anomaly, layout, sketches, stats]


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict = {}
    for mod in _modules():
        out.update(mod.QUERIES)
    return out


def all_oracles() -> dict[str, str]:
    out: dict = {}
    for mod in _modules():
        out.update(mod.ORACLE)
    return out
