from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdr_analysis_tools_hadoop_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # A full tier-1 run keeps at most ~3.1 GB live on the driver heap
    # (G1 remark/cleanup peaks); the 8g default let the JVM grow to
    # 8.4 GB RSS and crowd out anything running beside the suite. At
    # 4g the suite runs without a full GC and the JVM peaks at ~5.3 GB.
    s = build_session(
        "engine-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
