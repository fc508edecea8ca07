from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from ophidia_io_server_spark import get_spark

    # the session default heap (up to 24g) lets the JVM grow far past what the
    # sf0.001 suite needs; cap it so a full run fits a small shared host
    s = get_spark(app_name="ophidia-tests", cpus=8, shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "1g"})
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def group_job_ids(spark):
    """Job ids of a job group.  The status store fills from the listener bus
    asynchronously, so wait until the group's jobs show up."""
    import time

    tracker = spark.sparkContext.statusTracker()

    def ids(group: str) -> list[int]:
        deadline = time.time() + 10
        while True:
            jobs = sorted(tracker.getJobIdsForGroup(group))
            if jobs or time.time() > deadline:
                return jobs
            time.sleep(0.05)

    return ids


@pytest.fixture(scope="session")
def frag_qty(spark):
    from ophidia_io_server_spark.sources.tables import lineitem_fragment

    return lineitem_fragment(spark, SF_SMALL).cache()


@pytest.fixture()
def server(spark, frag_qty):
    from ophidia_io_server_spark.operators import IOServer

    srv = IOServer(spark)
    srv.catalog.put("frag_qty", frag_qty, cache=False)
    return srv
