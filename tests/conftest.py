from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from pboh_spark import resolve, synth
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


@pytest.fixture(scope="session")
def assemble():
    """``assemble(cand, lam)``: resolve.assemble_conversations of a
    hand-built candidate table that carries each mention's ``ngram``
    and ``gold_entity``, with the mention and gold tables derived from
    it (one turn per mention) and ``lam`` a λ table (e1, e2,
    lambda_potential, log_smoothed, lp_sum)."""

    def build(cand, lam):
        turn = F.col("mention_id").alias("turn_idx")
        mentions = cand.select("conv_id", "mention_id", turn, "ngram").distinct()
        gold = cand.select(
            "conv_id", turn, F.col("ngram").alias("surface"),
            F.col("gold_entity").alias("entity"),
        ).distinct()
        return resolve.assemble_conversations(
            cand.drop("ngram", "gold_entity"), mentions, lam, gold
        )

    return build
