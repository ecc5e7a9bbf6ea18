"""Shared plan-shape and cache-release helpers."""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, trigger_ratio: float = 1.0) -> DataFrame:
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

    Leaf-only: the partition-count probe is free on a scan or a cached
    frame, which is what every caller passes. On a frame with an
    exchange below it, the probe runs that exchange as a hidden Spark
    job (under AQE), and the real action later recomputes it.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    trigger = max(2, int(target * trigger_ratio))
    if df.rdd.getNumPartitions() < trigger:
        return df.repartition(target)
    return df


def release(*dfs: DataFrame) -> None:
    """Free what ``persist()`` or ``localCheckpoint()`` pinned for each
    frame. The rule: whoever persists or checkpoints a frame calls this
    on the frame that call returned, or on a column projection of it,
    once nothing lazy still reads it. ``unpersist`` alone leaves a
    checkpoint's blocks pinned: they belong to the RDD behind the
    ``LogicalRDD`` leaf under the frame's projections, reached through a
    private API — if that changes, this degrades to ``unpersist``."""
    for df in dfs:
        df.unpersist()
        try:
            plan = df._jdf.queryExecution().analyzed()
            while plan.nodeName() == "Project":
                plan = plan.child()
            if plan.nodeName() == "LogicalRDD":
                plan.rdd().unpersist(False)
        except (AttributeError, Py4JError):
            pass
