import os
import sys

import pytest

# this checkout's package, whatever the working directory
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Tests run on sf0.001 (KB-scale tables) with as many Spark threads as
# session.local_cpus picks: $SPARK_GRAFT_CPUS, else the CPUs this process
# may run on.
SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from odbc2parquet_spark.session import get_spark

    s = get_spark("pytest")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
