from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA_SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from substreams_sink_graph_load_spark.session import KEEP_C2, get_spark

    spark = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g",
                    "spark.driver.extraJavaOptions": KEEP_C2},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return TESTDATA_SF
