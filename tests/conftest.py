import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from langtoolsosm_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def synth_dir():
    from langtoolsosm_spark.datagen import ensure_dataset

    return ensure_dataset("sf0.001")


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` -> (fn(), the number of Spark jobs it ran),
    counted by statusTracker job group."""

    def run(fn):
        sc = spark.sparkContext
        group = f"test-jobs-{os.urandom(4).hex()}"
        sc.setJobGroup(group, "job count")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
