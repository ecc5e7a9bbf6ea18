from contextlib import contextmanager

import pytest

from pboh_spark import synth
from pboh_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=8, app_name="pboh_tests", shuffle_partitions=16)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def universe():
    return synth.EntityUniverse()


@pytest.fixture(scope="session")
def tiny(spark, universe):
    """~100 conversations: transcripts + gold mentions."""
    t, g = synth.generate_transcripts(spark, 100, universe=universe)
    return t.cache(), g.cache()


@pytest.fixture(scope="session")
def anchors(spark, universe):
    return synth.generate_anchors(spark, 3000, universe=universe).cache()


@pytest.fixture
def jobs_in_group(spark):
    """``with jobs_in_group(name) as jobs:`` — on exit ``jobs`` holds the
    ids of the Spark jobs the block launched (counted by the status
    tracker, under a job group)."""
    sc = spark.sparkContext

    @contextmanager
    def count(group: str):
        jobs: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.extend(sc.statusTracker().getJobIdsForGroup(group))

    return count
