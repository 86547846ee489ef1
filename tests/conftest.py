import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from tsprofiler_spark.session import get_spark

    # the package default (32 GB) is sized for bulk runs, not for the
    # suite's small inputs; a capped heap keeps the JVM inside a 16 GB host
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    spark = get_spark(app_name="tsprofiler-tests", cores=8, shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
