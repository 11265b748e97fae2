from __future__ import annotations

import pytest

from blockchain_postgres_sync_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # One JVM serves the whole suite.  get_spark's 32g default heap lets the
    # collector defer work until the process outgrows a 16 GB box, where the
    # kernel OOM-kills it mid-suite; test inputs are tiny, so bound it.
    s = get_spark(
        app_name="tests", master="local[4]", shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()
