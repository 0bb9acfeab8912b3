from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")


@pytest.fixture(scope="session")
def spark():
    from cse_datapipeline_and_mls_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn`` under a fresh job group and returns
    (fn's result, the number of Spark jobs it ran)."""
    import itertools

    sc = spark.sparkContext
    groups = itertools.count()

    def run(fn):
        gid = f"count-jobs-{next(groups)}"
        sc.setJobGroup(gid, gid)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job starts reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(gid))

    return run
