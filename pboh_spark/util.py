"""Shared plan-shape and cache-release helpers."""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


def ensure_parallelism(
    df: DataFrame,
    min_partitions: int | None = None,
    trigger_ratio: float = 1.0,
) -> DataFrame:
    """Scale-adaptive floor on a DataFrame's partition count (guide §2/§6).

    Small inputs (a single small parquet file has one row group, hence ONE
    scan partition regardless of ``spark.sql.files.*``) serialize every
    per-row transformation onto one core until the first exchange — for
    expansion-heavy operators (shingle explode, per-row hashing, vector
    math) that single task dominates the whole job on a many-core
    executor. This helper round-robin repartitions up to the session's
    default parallelism ONLY when the input has fewer partitions; on a
    real corpus (thousands of scan partitions) it is a provable no-op, so
    it cannot add a shuffle at scale.

    ``trigger_ratio`` tightens the firing condition for CHEAP per-row
    work: with 0.25, only inputs below a quarter of the target width are
    repartitioned (a 10×-data A/B showed light projections losing ~0.15 s
    to the shuffle once the scan already had ~⅓ of the cores busy, while
    the single-partition case keeps its ~2× win). Expansion-heavy callers
    keep the default 1.0 — their 10× A/B wins even at moderate widths.

    Deterministic for results: every caller aggregates/joins by key
    downstream, so row-to-partition placement never reaches an output
    (the repo's partition-independence invariant).
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    trigger = max(2, int(target * trigger_ratio))
    if df.rdd.getNumPartitions() < trigger:
        return df.repartition(target)
    return df


def bound_parallelism(df: DataFrame) -> DataFrame:
    """Scale-relative CAP on a map stage's width (guide §2.2 "fewer,
    larger map tasks for the stage feeding the shuffle").

    Derived chains (e.g. each blocking branch over a cached mention
    table) inherit their parent's partition count; when that is far
    above the session parallelism the stage pays hundreds of near-empty
    task launches. Coalesce to max(defaultParallelism, parts // 4):
    the merge factor is bounded at 4× (partitions stay within the
    128 MB–1 GB band the guide targets when they were data-sized) and
    the width never drops below the core count, so no cluster is left
    idle. The floor was 2× the core count until r6's continuation: the
    bound only ever BINDS for small inputs (real corpora have parts//4
    ≫ the floor), and there an interleaved A/B read 4.62 vs 5.08 s for
    the linkage region at 1× vs 2× — fewer task launches beat the extra
    balancing slack in exactly the regime the floor governs. Narrow
    dependency — nothing is recomputed or shuffled.
    NOTE: apply BELOW a union/other operator, never directly under a
    repartition — Catalyst's CollapseRepartition would erase it there.
    """
    sc = df.sparkSession.sparkContext
    parts = df.rdd.getNumPartitions()
    target = max(sc.defaultParallelism, parts // 4)
    return df.coalesce(target) if parts > target else df


def release(*dfs: DataFrame) -> None:
    """Free what ``persist()`` or ``localCheckpoint()`` pinned for each
    frame. The rule: whoever persists or checkpoints a frame calls this
    on the frame that call returned, once nothing lazy still reads it.
    ``unpersist`` alone leaves a checkpoint's blocks pinned: they belong
    to the RDD behind the frame's ``LogicalRDD`` leaf, reached through a
    private API — if that changes, this degrades to ``unpersist``."""
    for df in dfs:
        df.unpersist()
        try:
            plan = df._jdf.queryExecution().analyzed()
            if plan.nodeName() == "LogicalRDD":
                plan.rdd().unpersist(False)
        except (AttributeError, Py4JError):
            pass
