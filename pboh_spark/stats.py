"""Stage 2 — corpus statistics: p̂(e|m), popularity p̂(e), co-occurrence/PMI.

The reference counts these offline from Wikipedia/Crosswikis with RDD
jobs and serves them from ~90 GB of in-JVM Trove hash maps
(index/MentionEntitiesFrequencyIndex.scala, index/EntityCooccurrenceIndex.scala).
Here each index is an ordinary DataFrame produced by groupBy/join — at
100 TB these are shuffle aggs whose partial (map-side) combine Spark
plans automatically; the small ones broadcast at join time.

Reference parity (file:line in /root/reference/src/main/scala/):
* p̂(e|m) = freq(e)/totalFreq        index/CandidatesList.scala:95-98
* top-64 at build / top-10 runtime   LowercaseOrPruneCwikisMentionFreqIndex.scala:39-48,
                                     index/MentEntsFreqIndexWrapper.scala:53
* popularity / total links+pairs     index/EntityCooccurrenceIndex.scala:126-166
* self-cocitation                    index/EntityCooccurrenceIndex.scala:146-154
* cocit(e1,e2) via posting-list ∩    index/EntityCooccurrenceIndex.scala:187-218
  → recast as distinct (doc,entity) self-join + count (SURVEY.md J2)
* lambda(e1,e2) PMI potential        loopybeliefpropagation/ScorerFull.scala:200-227
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# the runtime candidate prune: a name's top-10 entities by p̂(e|m)
# (MentEntsFreqIndexWrapper.scala:53) — blocking, the LBP candidates and
# the driver-side linker all prune by it
TOP_K = 10


@dataclass(frozen=True)
class ScorerWeights:
    """Validated PBOH weights — el/EL_LBP_Spark.scala:111-117 and
    loopybeliefpropagation/ScorerWeights.scala:3-45."""

    a: float = 1.0
    f: float = 1.0
    g: float = 0.5
    h: float = 0.15
    s: float = 1.0
    b: float = 0.075
    delta_w_e: float = 1.0
    xi: float = 0.5
    delta_cocit: float = 0.5
    cocit_e_e_param: float = 0.01


def name_stats(anchors: DataFrame, top_k: int = 64) -> DataFrame:
    """(name, entity, freq, total_freq, prob, rank) — the p̂(e|m) index.

    groupBy twice: (name,entity) freq, then per-name totals via a window
    (one shuffle on ``name`` reused by both — Catalyst plans the window
    over the same hash partitioning as the agg). Top-k prune bounds the
    candidate fan-out exactly like the reference's top-64 index prune.
    Deterministic tie-break on entity id (the reference's argmax is
    hash-order dependent, CandidatesList.scala:101-112 — we must not be).
    """
    freq = anchors.groupBy("name", "entity").agg(F.count("*").alias("freq"))
    w = Window.partitionBy("name")
    rank_w = Window.partitionBy("name").orderBy(
        F.desc("freq"), F.asc("entity")
    )
    return (
        freq.withColumn("total_freq", F.sum("freq").over(w))
        .withColumn("rank", F.row_number().over(rank_w))
        .where(F.col("rank") <= top_k)
        .withColumn("prob", F.col("freq") / F.col("total_freq"))
        .select("name", "entity", "freq", "total_freq", "prob", "rank")
    )


def entity_stats(anchors: DataFrame) -> DataFrame:
    """(entity, popularity, self_cocit, log_phat).

    popularity(e) = Σ_docs containing e: (N_d − 1) summed per occurrence —
    ≙ EntityCooccurrenceIndex.scala:158-166 (each link in a doc of N links
    contributes N−1 pair-endpoints). self_cocit ≙ :146-154.
    ``log_pop`` = log of the UNNORMALIZED popularity — the reference's
    lambda takes Math.log(p_hat(e)) on raw counts (ScorerFull.scala:183-186,
    :224-226), so we mirror that exactly.
    """
    doc_sizes = anchors.groupBy("doc_id").agg(F.count("*").alias("n_d"))
    per_doc_ent = anchors.groupBy("doc_id", "entity").agg(
        F.count("*").alias("c")
    )
    joined = per_doc_ent.join(doc_sizes, "doc_id")
    stats = joined.groupBy("entity").agg(
        F.sum(F.col("c") * (F.col("n_d") - 1)).alias("popularity"),
        F.sum(
            F.when(F.col("c") >= 2, F.col("c") * (F.col("c") - 1)).otherwise(0)
        ).alias("self_cocit"),
    )
    return stats.withColumn(
        "log_pop", F.log(F.greatest(F.col("popularity"), F.lit(1)).cast("double"))
    )


def corpus_scalars(
    anchors: DataFrame, cooc: DataFrame | None = None
) -> dict[str, int]:
    """num_total_links / num_total_pairs / num_distinct_pairs —
    ≙ EntityCooccurrenceIndex.scala:37-44,56-106 (their distinct-pair
    count was a dedicated 112-core Spark job; here it is one agg).

    Pass the unpruned ``cooccurrence(anchors, min_cocit=1)`` table as
    ``cooc`` when it is being built anyway: its row count IS the
    distinct-pair count, saving a second (doc,entity) self-join — the
    dominant cost of this function at scale."""
    doc_sizes = anchors.groupBy("doc_id").agg(F.count("*").alias("n_d"))
    totals = doc_sizes.agg(
        F.sum("n_d").alias("links"),
        F.sum(F.col("n_d") * (F.col("n_d") - 1)).alias("pairs"),
    )
    # distinct entity pairs (A7) — the reference ran a dedicated 112-core
    # Spark job for this count (EntityCooccurrenceIndex.scala:56-106)
    if cooc is not None:
        # one driver action instead of two: the 1-row totals aggregate and
        # the distinct-pair count cross-join into a single collected row
        # (and the job fills the caller's cooc persist as a side effect)
        row = totals.crossJoin(
            cooc.agg(F.count("*").alias("n_dist"))
        ).collect()[0]
        n_dist = int(row["n_dist"])
    else:
        row = totals.collect()[0]
        de = anchors.select("doc_id", "entity").distinct()
        n_dist = (
            de.alias("a")
            .join(de.alias("b"), "doc_id")
            .where(F.col("a.entity") < F.col("b.entity"))
            .select("a.entity", "b.entity")
            .distinct()
            .count()
        )
    return {
        "num_total_links": int(row["links"]),
        "num_total_pairs": int(row["pairs"]),
        "num_distinct_pairs": int(n_dist),
    }


def cooccurrence(anchors: DataFrame, min_cocit: int = 1) -> DataFrame:
    """(e1, e2, cocit) with e1 < e2 — the pairwise co-occurrence counts.

    The reference intersects sorted per-entity posting lists online
    (EntityCooccurrenceIndex.scala:187-218, a two-pointer merge per probe).
    Spark-first: distinct (doc, entity) self-joined on doc_id with the
    anti-diagonal predicate, then one hash agg — a single co-partitioned
    shuffle instead of 884M online probes. ``min_cocit`` prunes the long
    tail (≙ cocit ≥ 7 filter, learning/Learning.scala:233,261).
    """
    de = anchors.select("doc_id", "entity").distinct()
    a = de.alias("a")
    b = de.alias("b")
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("a.entity") < F.col("b.entity"))
        .groupBy(F.col("a.entity").alias("e1"), F.col("b.entity").alias("e2"))
        .agg(F.count("*").alias("cocit"))
    )
    return pairs.where(F.col("cocit") >= min_cocit)


def backoff_mass(
    scalars: dict[str, int], w: ScorerWeights | None = None
) -> tuple[float, float]:
    """((N − δ·D)/N, N): the independence-backoff mass of the smoothed
    co-citation count (ScorerFull.scala:212-213), N = num_total_pairs,
    D = num_distinct_pairs — the one copy of the formula behind the λ
    table and resolve.backoff_lam_const."""
    w = w or ScorerWeights()
    n = float(max(scalars.get("num_total_pairs", 1), 1))
    d = float(max(scalars.get("num_distinct_pairs", 1), 1))
    return max(n - w.delta_cocit * d, 1e-9) / n, n


def with_lambda_potential(
    pairs: DataFrame,
    ent_stats: DataFrame,
    scalars: dict[str, int],
) -> DataFrame:
    """Adds ``lambda_potential`` to an (e1, e2, cocit) table — the exact
    reference formula (ScorerFull.scala:207-227):

        smoothed = max(0, cocit − δ)
                   + (N − δ·D)/N · p̂(e1)·p̂(e2)/N      # independence backoff
        lambda   = log(smoothed) − h·log p̂(e1) − h·log p̂(e2)
        (−1000 floor only if smoothed ≤ 0 — :225)

    with N = num_total_pairs, D = num_distinct_pairs, p̂ the UNNORMALIZED
    popularity. The backoff means never-cocited pairs degrade to the
    independence prior, not to the floor — pairs absent from this table
    get the same closed-form default inside the LBP kernel
    (resolve._solve_conv), so only cocit>0 rows are materialized.
    Diagonal (e,e) rows are emitted from self-cocitation
    (EntityCooccurrenceIndex.scala:146-154,173-181).
    Pure column arithmetic. The ent_stats joins carry NO broadcast hint:
    the entity catalog grows with the corpus (~300 MB at reference scale,
    unbounded at 100×), so a forced hint would bypass AQE's size check
    and OOM executors once the catalog outgrows the build side — AQE
    broadcasts it exactly when it actually fits (same policy as
    resolve.mention_candidates and pairs.score_pairs).
    """
    w = ScorerWeights()
    backoff, n_pairs = backoff_mass(scalars)
    diag = ent_stats.select(
        F.col("entity").alias("e1"),
        F.col("entity").alias("e2"),
        F.col("self_cocit").cast("long").alias("cocit"),
    )
    pairs = pairs.select("e1", "e2", "cocit").unionByName(diag)
    e1s = ent_stats.select(
        F.col("entity").alias("e1"),
        F.col("popularity").alias("pop1"),
        F.col("log_pop").alias("log_pop1"),
    )
    e2s = ent_stats.select(
        F.col("entity").alias("e2"),
        F.col("popularity").alias("pop2"),
        F.col("log_pop").alias("log_pop2"),
    )
    out = pairs.join(e1s, "e1", "left").join(e2s, "e2", "left")
    smoothed = F.greatest(
        F.col("cocit") - F.lit(w.delta_cocit), F.lit(0.0)
    ) + (
        F.lit(backoff)
        * F.coalesce(F.col("pop1"), F.lit(1.0))
        * F.coalesce(F.col("pop2"), F.lit(1.0))
        / F.lit(n_pairs)
    )
    # λ is affine in the h weight: λ(h) = log_smoothed − h·lp_sum. The two
    # coefficients are emitted alongside the evaluated potential so weight
    # learning (learning.py) can differentiate ∂λ/∂h = −lp_sum without
    # rebuilding the table per candidate h.
    return (
        out.withColumn(
            "log_smoothed",
            F.when(smoothed > 0, F.log(smoothed)).otherwise(F.lit(-1000.0)),
        )
        .withColumn(
            "lp_sum",
            F.coalesce(F.col("log_pop1"), F.lit(0.0))
            + F.coalesce(F.col("log_pop2"), F.lit(0.0)),
        )
        .withColumn(
            "lambda_potential",
            F.col("log_smoothed") - F.lit(w.h) * F.col("lp_sum"),
        )
        .select(
            "e1", "e2", "cocit", "lambda_potential", "log_smoothed", "lp_sum"
        )
    )
