import os
import sys

import pytest

# this checkout's package, whatever the working directory
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Tests run on sf0.001 (KB-scale tables); measured per-action latency on
# this box is ~0.22s under local[8] vs ~0.55s under local[32] — stage
# scheduling over 32 threads dominates tiny queries. 8 threads keep every
# code path multi-partition while roughly halving the ~300-test fast
# gate. CI can override by exporting SPARK_GRAFT_CPUS before pytest.
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: integration tests (embedded-DB roundtrips)"
    )


@pytest.fixture(scope="session")
def spark():
    from odbc2parquet_spark.session import get_spark

    s = get_spark("pytest")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
