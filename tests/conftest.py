from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    import tempfile

    from distributed_mapreduce_p2p_spark.session import get_spark

    wh = tempfile.mkdtemp(prefix="spark_wh_")
    spark = get_spark(
        app_name="tests",
        cores=8,
        shuffle_partitions=8,
        extra_conf={
            # a bounded heap: the suite shares its host's memory, and
            # get_spark's 32g default let the JVM grow past 13 GB RSS
            "spark.driver.memory": "6g",
            "spark.sql.warehouse.dir": wh,
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={wh}",
        },
    )
    yield spark


@pytest.fixture
def count_jobs(spark):
    """``with count_jobs() as n: ...`` runs the block under a fresh job
    group; afterwards ``n[0]`` is the number of Spark jobs it launched
    (read from the status tracker once the listener bus is drained)."""
    import contextlib
    import uuid

    sc = spark.sparkContext

    @contextlib.contextmanager
    def counter():
        group = f"count_jobs-{uuid.uuid4().hex}"
        n: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield n
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
            n.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    return counter
