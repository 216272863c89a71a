import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SVS_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SVS_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from svs_spark.session import get_session

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_session("svs_spark_tests")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    from tools.parity_debug import duck_views

    con = duck_views(SF_DIR_ORACLE)
    yield con
    con.close()
