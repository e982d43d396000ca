import os
import sys

import pytest

# the checkout these tests live in, ahead of any installed or other copy
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from real_time_fraud_detection_system_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
