from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flume_hive_batched_sink_spark.session import (  # noqa: E402
    get_spark,
    last_execution_id,  # noqa: F401 — the tests' mark, imported from here
)


def pytest_configure(config):
    # pytest creates --basetemp (pytest.ini: .tmp/pytest) without its
    # parents, and .tmp is untracked, so a fresh clone needs it made
    if config.option.basetemp:
        base = os.path.abspath(config.option.basetemp)
        os.makedirs(os.path.dirname(base), exist_ok=True)


SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()
