"""Every registered query against its DuckDB ORACLE at SF_SMOKE: the
value-level gate of tools/check_correctness.py (same compare, same
canonicalizer), one case per query on the shared session."""

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from check_correctness import compare, oracle_connection  # noqa: E402

from real_time_fraud_detection_system_spark.operators import (  # noqa: E402
    all_oracles,
    all_queries,
)
from tests.conftest import SF_SMOKE  # noqa: E402

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.fixture(scope="module")
def duck():
    con = oracle_connection(SF_SMOKE)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    verdict = compare(
        QUERIES[name](spark, SF_SMOKE).toPandas(),
        duck.execute(ORACLES[name]).fetchdf(),
    )
    assert verdict is None, f"{name}: {verdict}"
