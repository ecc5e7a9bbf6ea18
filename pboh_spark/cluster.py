"""Stage 6 — transitive clustering: iterative DataFrame connected
components (hash-to-min, with a large-star/small-star variant).

The reference never clusters (it classifies each mention against a fixed
entity catalog); the north_rule closes matched pairs into clusters
instead. Both algorithms here are bounded-iteration driver loops of
joins — the same control shape as the reference's bounded LBP loop
(LoopyBeliefPropagation.scala:82-137, ≤15 iters) — with
``localCheckpoint`` per round to truncate lineage (at 100 TB the
alternative is a durable per-round table write, see checkpoint.py).

hash-to-min converges in O(log d) rounds on graph diameter d; entity
blocks produce near-clique components (diameter ≤ 2 hops through the
shared candidate), so 5–10 rounds suffice in practice and ``max_iter``
caps the worst case. cluster_id = min mention_id of the component
(deterministic, FIXTURES.md §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pboh_spark.util import release


def connected_components(
    edges: DataFrame,
    src: str = "mention_id_a",
    dst: str = "mention_id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(id bigint, cluster_id bigint) for every vertex in ``edges``.

    hash-to-min label propagation **with pointer jumping**: each round
    (a) label(v) ← min(label(v), min_{u∈N(v)} label(u)) — one shuffle over
    the symmetric edge list — then (b) label(v) ← label(label(v)) — one
    self-join on the label table. The jump doubles propagation distance
    per round, so convergence is O(log diameter), not O(diameter)
    (a 300-node chain closes in ~9 rounds; plain propagation needs 300).
    Convergence is a driver-side changed-count (the same bounded-loop
    shape as the reference's LBP, LoopyBeliefPropagation.scala:126-137).
    Each round's checkpoint is released once the next one is
    materialized. The returned labels are a projection of the last one,
    which stays pinned until the caller's ``util.release(labels)``.
    """
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # symmetric closure once; reused every round. Partitioned by "v" —
    # the key every round's label join probes — so the per-round join
    # reuses this one exchange instead of re-shuffling the edge list
    # each iteration (the groupBy("u") that follows needs its own
    # exchange either way).
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.repartition("v").localCheckpoint(eager=True)

    pinned = (
        sym.groupBy("u")
        .agg(F.min("v").alias("nmin"))
        .select(
            F.col("u").alias("id"),
            F.least(F.col("u"), F.col("nmin")).alias("cluster_id"),
        )
        .localCheckpoint(eager=False)
    )
    labels = pinned
    for _ in range(max_iter):
        neigh = (
            sym.join(
                labels.select(
                    F.col("id").alias("v"), F.col("cluster_id").alias("vlab")
                ),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vlab").alias("nlab"))
        )
        stepped = labels.join(neigh, labels["id"] == neigh["u"], "left").select(
            F.col("id"),
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("nlab"), F.col("cluster_id"))
            ).alias("cluster_id"),
            F.col("cluster_id").alias("old"),
        )
        # pointer jump: label(v) ← label(label(v))
        parent = stepped.select(
            F.col("id").alias("cluster_id"), F.col("cluster_id").alias("plab")
        )
        # lazy checkpoint + count in ONE action: the count's job both
        # materializes the checkpoint blocks (truncating lineage exactly
        # as the eager form did) and computes the convergence check —
        # the eager form paid a separate materialization job per round
        new_labels = (
            stepped.join(parent, "cluster_id", "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("plab"), F.col("cluster_id"))
                ).alias("new_cluster_id"),
                "old",
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.where(
            F.col("new_cluster_id") != F.col("old")
        ).count()
        release(pinned)
        pinned = new_labels
        labels = new_labels.select(
            "id", F.col("new_cluster_id").alias("cluster_id")
        )
        if changed == 0:
            break
    release(sym)
    return labels


STAR_MAX_ITER = 25


def connected_components_star(
    edges: DataFrame,
    src: str = "mention_id_a",
    dst: str = "mention_id_b",
) -> DataFrame:
    """Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14), at most STAR_MAX_ITER
    rounds. Fewer rounds on high-diameter graphs than hash-to-min; kept
    as the scale path for chain-shaped components. Same output contract
    as ``connected_components``: the labels are checkpointed, the last
    edge set released, and the caller frees the labels with
    ``util.release``.
    """
    def _fingerprint(df: DataFrame) -> tuple:
        """(n_edges, XOR of xxhash64(u,v)) — one aggregation job; an
        unchanged distinct edge set has an identical fingerprint, and a
        64-bit collision on a CHANGED set is ~2^-64 per round (vs the 4
        shuffles/round the exceptAll stability check used to cost).
        bit_xor is order-independent and cannot overflow (ANSI-safe);
        the edge set is distinct, so no duplicate rows can cancel."""
        r = df.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).collect()[0]
        return (r["n"], r["h"])

    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    fp = _fingerprint(e)
    for _ in range(STAR_MAX_ITER):
        # large-star: every neighbor v of u with v > u links to min(N(u) ∪ u)
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: neighbors v ≤ u link to min
        small = (
            sym.where(F.col("v") <= F.col("u"))
            .groupBy("u")
            .agg(F.min("v").alias("m"), F.collect_set("v").alias("ns"))
            .select(
                F.explode(F.array_union(F.col("ns"), F.array(F.col("u")))).alias("u"),
                F.col("m").alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        new_e = large.union(small).distinct().localCheckpoint(eager=True)
        # converged when the (distinct) edge set is stable
        new_fp = _fingerprint(new_e)
        release(e)
        e = new_e
        if new_fp == fp:
            break
        fp = new_fp

    # every round orients each edge (u, v) with v < u and keeps every
    # vertex on some edge, so a vertex's label is the least v of its
    # edges, or itself when it only appears as a v
    labels = (
        e.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
        .union(
            e.select(F.col("v").alias("id"), F.col("v").alias("cluster_id"))
        )
        .groupBy("id")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .localCheckpoint(eager=True)
    )
    release(e)
    return labels


def clusters_table(mentions: DataFrame, components: DataFrame) -> DataFrame:
    """Final clusters output (FIXTURES.md §7): every mention, singletons
    keeping cluster_id = own mention_id."""
    out = mentions.select("mention_id", "conv_id", "turn_idx", "ngram").join(
        components.withColumnRenamed("id", "mention_id"), "mention_id", "left"
    )
    return out.withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col("mention_id"))
    )


def merge_edges_into_components(
    mapping: DataFrame, edges: DataFrame
) -> DataFrame:
    """INCREMENTAL connected-components merge: fold a batch of new
    undirected edges (``mention_id_a``, ``mention_id_b``) into an
    existing min-id component ``mapping``
    (``id``, ``cluster_id`` — the output contract of
    ``connected_components``) and return the updated mapping over every
    vertex seen so far.

    The work is proportional to the CONTRACTED LABEL GRAPH — only the
    components the batch actually touches — never to the corpus:

    1. each new edge's endpoints are mapped to their current labels
       (vertices not yet in the mapping label themselves); edges whose
       endpoints already share a label vanish,
    2. ``connected_components`` runs on that contracted graph (size
       O(|batch|), not O(|mapping|)),
    3. the resulting (old_label -> new_label) relabel table — again
       O(|batch|) — is applied to the full mapping with one keyed join.

    The relabel table is taken to the driver (one job; two longs per
    vertex of the contracted graph, so driver memory is bounded by
    O(|batch|), not by the mapping) and returned inside the mapping as a
    local relation, so CC's checkpointed labels are released here and a
    fold leaves nothing pinned.

    Because existing labels are component MINIMA and every new vertex
    enters the contracted graph labelled by itself, the min over a
    merged contracted component is the true min-id of the merged
    component, so the invariant "label = min vertex id of the
    component" is preserved and the result equals batch
    ``connected_components`` over the union of all edges ever folded
    in — independent of how the edge stream was batched. Re-applying
    an already-folded batch is a no-op (the contracted graph is empty
    and no endpoint is new), so at-least-once delivery is safe.

    100-TB shape: the two mapping joins keep the big side in place
    (the batch-derived sides are small and auto-broadcast); the tiny
    iterative CC runs on the label graph only. The O(|mapping|) cost
    is the snapshot rewrite the CALLER chooses — a production deploy
    writes only the changed rows (the relabel-join hits + new-vertex
    rows) as a delta with latest-epoch-wins merge-on-read and periodic
    compaction.
    """
    e = (
        edges.select(
            F.col("mention_id_a").alias("u"), F.col("mention_id_b").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    lab = (
        e.join(
            mapping.select(
                F.col("id").alias("u"), F.col("cluster_id").alias("lu")
            ),
            "u",
            "left",
        )
        .join(
            mapping.select(
                F.col("id").alias("v"), F.col("cluster_id").alias("lv")
            ),
            "v",
            "left",
        )
        .select(
            F.coalesce(F.col("lu"), F.col("u")).alias("la"),
            F.coalesce(F.col("lv"), F.col("v")).alias("lb"),
        )
    )
    contracted = (
        lab.where(F.col("la") != F.col("lb"))
        .select(
            F.least("la", "lb").alias("la"),
            F.greatest("la", "lb").alias("lb"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = connected_components(contracted, "la", "lb")
    release(contracted)  # the labels read only CC's own checkpoint
    relabel = labels.select(
        F.col("id").alias("old_label"), F.col("cluster_id").alias("new_label")
    )
    relabel = mapping.sparkSession.createDataFrame(relabel.toPandas(), relabel.schema)
    release(labels)

    updated_existing = mapping.join(
        relabel, mapping["cluster_id"] == relabel["old_label"], "left"
    ).select(
        "id",
        F.coalesce(F.col("new_label"), F.col("cluster_id")).alias("cluster_id"),
    )
    # every endpoint not yet mapped labelled itself in step 1, so it IS
    # a vertex of the contracted graph and the relabel table covers it
    new_rows = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
        .join(mapping.select("id"), "id", "left_anti")
        .join(relabel, F.col("id") == F.col("old_label"), "left")
        .select(
            "id",
            F.coalesce(F.col("new_label"), F.col("id")).alias("cluster_id"),
        )
    )
    return updated_existing.union(new_rows)
