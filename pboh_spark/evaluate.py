"""Evaluation — pairwise P/R/F1 (Verifier analogue) + gold pair builder.

Reference parity:
* P/R via solution∩gold set intersection — eval/Verifier.scala:24-43
* micro/macro F1 aggregation — eval/GlobalStats.scala:236-248
* doc-size-bucketed stats — eval/GlobalStats.scala:116-141 (A8)
* labeled pairs "at the reference blocking key": two mentions are
  comparable iff their normalized names share a candidate entity in the
  p̂(e|m) index — the same comparability the reference's candidate
  generation defines (MentEntsFreqIndexWrapper.scala:19-64).

All metrics are computed with distributed joins + one final agg; nothing
is collected but the scalar metric row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def build_labeled_pairs(
    gold_mentions: DataFrame,
    blocked_mentions: DataFrame,
) -> DataFrame:
    """Gold pair labels (FIXTURES.md §2) from planted annotations, built
    over the pipeline's *actual* stage-3 blocking output — "labeled pairs
    at the reference blocking key". Candidate blocks contribute
    shared-candidate pairs (incl. negatives from p̂(e|m) noise), LSH
    blocks contribute typo-similar negatives.

    is_match = (same gold entity).
    """
    gm = (
        gold_mentions.select(
            "conv_id",
            "turn_idx",
            F.lower(F.col("surface")).alias("ngram"),
            F.col("entity").alias("gold_entity"),
        )
        # one gold entity per (conv, turn, surface): duplicate-surface
        # turns would otherwise fan out the join and leave is_match
        # nondeterministic after the pair dedup; min() is the stable pick
        .groupBy("conv_id", "turn_idx", "ngram")
        .agg(F.min("gold_entity").alias("gold_entity"))
    )
    blocked = blocked_mentions.join(
        gm, ["conv_id", "turn_idx", "ngram"], "inner"
    ).select(
        "block_key", "conv_id", "turn_idx", "mention_id", "ngram", "gold_entity"
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    pairs = (
        a.join(b, "block_key")
        .where(F.col("a.mention_id") < F.col("b.mention_id"))
        .select(
            F.col("a.conv_id").alias("conv_id_a"),
            F.col("a.turn_idx").alias("turn_idx_a"),
            F.col("a.ngram").alias("mention_a"),
            F.col("a.mention_id").alias("mention_id_a"),
            F.col("b.conv_id").alias("conv_id_b"),
            F.col("b.turn_idx").alias("turn_idx_b"),
            F.col("b.ngram").alias("mention_b"),
            F.col("b.mention_id").alias("mention_id_b"),
            F.col("block_key"),
            (F.col("a.gold_entity") == F.col("b.gold_entity")).alias("is_match"),
            F.when(
                F.col("a.gold_entity") == F.col("b.gold_entity"),
                F.col("a.gold_entity"),
            ).alias("entity_id"),
        )
        .dropDuplicates(["mention_id_a", "mention_id_b"])
    )
    return pairs


def size_bucket(n: Column) -> Column:
    """The 1 / 2 / 3-10 / 11+ conversation-size bucket of a mention
    count — the doc-size bucketing of GlobalStats.scala:116-141."""
    return (
        F.when(n == 1, "1")
        .when(n == 2, "2")
        .when(n <= 10, "3-10")
        .otherwise("11+")
    )


def _judged(labeled_pairs: DataFrame, components: DataFrame) -> DataFrame:
    """The labeled pairs with ``pred`` — both mentions clustered, and in
    the same cluster."""
    la = components.select(
        F.col("id").alias("mention_id_a"), F.col("cluster_id").alias("ca")
    )
    lb = components.select(
        F.col("id").alias("mention_id_b"), F.col("cluster_id").alias("cb")
    )
    return (
        labeled_pairs.join(la, "mention_id_a", "left")
        .join(lb, "mention_id_b", "left")
        .withColumn(
            "pred",
            F.col("ca").isNotNull()
            & F.col("cb").isNotNull()
            & (F.col("ca") == F.col("cb")),
        )
    )


def _confusion() -> list[Column]:
    """tp, fp and fn of ``pred`` against ``is_match``, as sums."""
    return [
        F.sum(F.when(F.col("pred") & F.col("is_match"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("is_match"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("pred") & F.col("is_match"), 1).otherwise(0)).alias("fn"),
    ]


def _prf() -> list[Column]:
    """precision, recall and f1 of the tp/fp/fn columns; an empty
    denominator reads 0."""
    p = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
    r = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
    return [
        p.alias("precision"), r.alias("recall"),
        (2 * p * r / F.greatest(p + r, F.lit(1e-12))).alias("f1"),
    ]


def pairwise_f1(
    labeled_pairs: DataFrame, components: DataFrame
) -> dict[str, float]:
    """Pairwise P/R/F1 of predicted components against gold labels,
    evaluated exactly on the labeled candidate pairs (the reference
    blocking key). Predicted-match := same cluster_id.

    ≙ Verifier.scala:24-43 with clusters instead of entity assignments.
    """
    row = _judged(labeled_pairs, components).agg(
        *_confusion(), F.count("*").alias("n")
    ).collect()[0]
    tp, fp, fn = row["tp"] or 0, row["fp"] or 0, row["fn"] or 0
    p = tp / (tp + fp) if tp + fp else 1.0
    r = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {
        "precision": p, "recall": r, "f1": f1,
        "tp": int(tp), "fp": int(fp), "fn": int(fn), "n_pairs": int(row["n"]),
    }


def macro_pairwise_f1(
    labeled_pairs: DataFrame, components: DataFrame
) -> dict[str, float]:
    """Macro pairwise F1 — ≙ GlobalStats.scala:236-248 (macroF1): per-doc
    precision and recall are averaged over documents FIRST, then combined
    into one F1 (the reference divides macroSum{Precision,Recall} by
    numVisitedDocs and takes F1 of the two averages — small conversations
    weigh as much as large ones, unlike micro).

    Conversations ⇒ documents; only within-conversation labeled pairs
    (conv_id_a == conv_id_b) enter the macro, mirroring the reference's
    strictly per-doc evaluation (cross-conv pairs belong to no single
    doc; they are micro-only). Empty per-doc denominators score 1.0, the
    same convention as ``pairwise_f1``.

    One distributed groupBy(conv) + one scalar agg; nothing but the
    metric row is collected.
    """
    j = _judged(
        labeled_pairs.where(F.col("conv_id_a") == F.col("conv_id_b")), components
    )
    per_doc = j.groupBy(F.col("conv_id_a").alias("conv_id")).agg(*_confusion())
    p_doc = F.when(
        F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))
    ).otherwise(F.lit(1.0))
    r_doc = F.when(
        F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))
    ).otherwise(F.lit(1.0))
    row = per_doc.agg(
        F.avg(p_doc).alias("macro_p"),
        F.avg(r_doc).alias("macro_r"),
        F.count("*").alias("n_docs"),
    ).collect()[0]
    if not row["n_docs"]:
        return {"macro_precision": 1.0, "macro_recall": 1.0,
                "macro_f1": 1.0, "n_docs": 0}
    mp, mr = float(row["macro_p"]), float(row["macro_r"])
    f1 = 2 * mp * mr / (mp + mr) if mp + mr else 0.0
    return {
        "macro_precision": mp, "macro_recall": mr, "macro_f1": f1,
        "n_docs": int(row["n_docs"]),
    }


# the 17 candidate match thresholds 0.4, 0.425, …, 0.8
THRESHOLD_GRID = [round(0.4 + 0.025 * i, 3) for i in range(17)]


def calibrate_threshold(
    scored_pairs: DataFrame, labeled_pairs: DataFrame
) -> DataFrame:
    """Grid-search the match threshold against gold labels — the analogue
    of the reference's hyperparameter grid search
    (learning/FewParamsLearning.scala:146-207), as ONE distributed pass:
    each labeled+scored pair explodes over the threshold grid and a
    single groupBy(threshold) aggregates P/R/F1 for every candidate
    threshold simultaneously (no per-threshold job).

    Returns (threshold, tp, fp, fn, precision, recall, f1) sorted by
    threshold; pick max f1 driver-side.
    """
    j = labeled_pairs.select("mention_id_a", "mention_id_b", "is_match").join(
        scored_pairs.select("mention_id_a", "mention_id_b", "score"),
        ["mention_id_a", "mention_id_b"],
        "left",
    )
    th = F.explode(F.lit(THRESHOLD_GRID).cast("array<double>")).alias(
        "threshold"
    )
    e = j.select("is_match", "score", th).withColumn(
        "pred", F.coalesce(F.col("score"), F.lit(-1.0)) >= F.col("threshold")
    )
    agg = e.groupBy("threshold").agg(*_confusion())
    return agg.select("threshold", "tp", "fp", "fn", *_prf()).orderBy("threshold")


def linking_accuracy(
    assignments: DataFrame, gold_mentions: DataFrame, mentions: DataFrame
) -> dict[str, float]:
    """Micro accuracy of entity assignments vs gold — the reference's
    headline metric (GlobalStats.scala:236-248), for the LBP/ARGMAX path.

    Gold is deduplicated to one label per (conv, turn, surface) — min
    entity, the same convention as resolve.assemble_conversations — BEFORE
    the mention join: per-occurrence gold tables (the dataset adapters
    emit one row per annotation) would otherwise fan k same-surface
    occurrences into k×k counted rows, weighting repeated surfaces
    quadratically and double-counting a surface annotated with two
    different entities.

    The collapse diverges from the reference's per-occurrence micro
    accuracy (GlobalStats.scala:236-248) exactly when a surface carries
    TWO different gold entities in one document (occurs in AIDA): all
    its occurrences grade against the min entity. Mentions here are
    surface-keyed so per-occurrence grading is not expressible; instead
    the returned ``n_multilabel_surfaces`` counts the collapsed groups —
    0 means the metric equals the reference's definition exactly, and a
    nonzero count bounds the divergence (each collapsed surface can
    misgrade at most its occurrences of the non-min labels)."""
    gm = (
        gold_mentions.select(
            "conv_id",
            "turn_idx",
            F.lower(F.col("surface")).alias("ngram"),
            F.col("entity").alias("gold_entity"),
        )
        .groupBy("conv_id", "turn_idx", "ngram")
        .agg(
            F.min("gold_entity").alias("gold_entity"),
            F.countDistinct("gold_entity").alias("__n_labels"),
        )
    )
    m = mentions.join(gm, ["conv_id", "turn_idx", "ngram"], "inner").select(
        "mention_id", "conv_id", "turn_idx", "ngram", "gold_entity",
        "__n_labels",
    )
    j = m.join(assignments.select("mention_id", "entity"), "mention_id", "left")
    row = j.agg(
        F.sum(F.when(F.col("entity") == F.col("gold_entity"), 1).otherwise(0)).alias(
            "correct"
        ),
        F.count("*").alias("n"),
        F.count_distinct(
            F.when(
                F.col("__n_labels") > 1,
                F.struct("conv_id", "turn_idx", "ngram"),
            )
        ).alias("multi"),
    ).collect()[0]
    n = row["n"] or 1
    return {
        "micro_accuracy": (row["correct"] or 0) / n,
        "n_mentions": int(n),
        "n_multilabel_surfaces": int(row["multi"] or 0),
    }


def size_bucketed_f1(
    labeled_pairs: DataFrame, components: DataFrame, gold_mentions: DataFrame
) -> DataFrame:
    """F1 bucketed by conversation mention-count — ≙ the reference's
    doc-size-bucketed GlobalStats (GlobalStats.scala:116-141). Returns a
    small DataFrame (bucket, precision, recall, f1)."""
    sized = gold_mentions.groupBy(F.col("conv_id").alias("conv_id_a")).agg(
        size_bucket(F.count("*")).alias("bucket")
    )
    j = _judged(labeled_pairs, components).join(sized, "conv_id_a", "left")
    return j.groupBy("bucket").agg(*_confusion()).select("bucket", *_prf())


def candidate_rank_report(
    queries: DataFrame,
    name_stats: DataFrame,
    id_mapping: DataFrame | None = None,
) -> DataFrame:
    """Candidate-rank diagnostics — the ClueWeb/Google eval harness'
    GlobalCountersCWEB recast (eval/cweb/GlobalCountersCWEB.scala:9-63,
    driven per-annotation by RunLoopyAgainstAllGoogleClweb.scala:221-275):
    for each (mention, gold_entity) query, where does the gold land in
    the p̂(e|m) candidate list sorted by probability?

    ``queries``: (mention, gold_entity) — one row per gold annotation.
    With ``id_mapping`` (ext_id, entity — e.g. the Freebase→Wikipedia
    map of datasets.freebase_wiki_mapping ≙ index/FreebaseWikipIndex
    .scala:14-74), queries instead carry (mention, gold_ext_id): the
    external id resolves through the mapping first, and the reference's
    pre-counters appear as two extra buckets — ``gold_id_unmappable``
    (≙ numGoogleFreebaseEntitiesNotInWikip, name known) and
    ``name_and_id_both_missing`` (≙ numBothNameNotInIndexAndFreebNot
    InWikip); the reference's overlapping numNamesNotInCandidatesIndex
    equals name_not_in_index + name_and_id_both_missing here, since the
    buckets partition the queries.
    ``name_stats``: the stats.name_stats index; pass it UNPRUNED
    (``top_k`` large) if the >64 bucket should be reachable — a pruned
    index folds deeper ranks into ``gold_not_in_candidates``, exactly as
    it would at serving time.

    Returns (bucket, n): the reference's counters as one aggregated
    DataFrame — ``name_not_in_index`` (≙ numNamesNotInCandidatesIndex),
    ``gold_not_in_candidates`` (≙ numGoogleEntsNotInCandidatesList), and
    the 1/2/3/4-8/9-16/17-32/33-64/>64 place buckets (1-based ranks; the
    reference's 0-based ``index`` thresholds map to the same places).
    Buckets partition the queries, so the counts sum to the query count
    (the reference's separate freebase→wiki mapping counters have no
    analogue here — SURVEY §1.1 declares that index out of scope).
    Deterministic: name_stats ranks tie-break on entity id.

    Scale shape: one distinct-projection + two hash equi-joins against
    the index (broadcastable when the index fits) + one tiny agg —
    nothing driver-side; the reference's serial per-annotation loop over
    an in-heap index becomes a single join pass."""
    known = (
        name_stats.select(F.col("name").alias("mention"))
        .distinct()
        .withColumn("__known", F.lit(True))
    )
    if id_mapping is not None:
        # one row per ext_id (deterministic min-entity pick): a raw,
        # undeduplicated map would fan the left join and double-count
        # rank buckets, breaking the counts-partition-the-queries
        # invariant; freebase_wiki_mapping output is already unique
        queries = queries.join(
            id_mapping.groupBy(
                F.col("ext_id").alias("gold_ext_id")
            ).agg(F.min("entity").alias("gold_entity")),
            "gold_ext_id",
            "left",
        )
    hit = name_stats.select(
        F.col("name").alias("mention"),
        F.col("entity").alias("gold_entity"),
        "rank",
    )
    j = queries.join(known, "mention", "left").join(
        hit, ["mention", "gold_entity"], "left"
    )
    unmapped = (
        F.col("gold_entity").isNull()
        if id_mapping is not None
        else F.lit(False)
    )
    bucket = (
        F.when(
            F.col("__known").isNull() & unmapped, "name_and_id_both_missing"
        )
        .when(F.col("__known").isNull(), "name_not_in_index")
        .when(unmapped, "gold_id_unmappable")
        .when(F.col("rank").isNull(), "gold_not_in_candidates")
        .when(F.col("rank") == 1, "rank_1")
        .when(F.col("rank") == 2, "rank_2")
        .when(F.col("rank") == 3, "rank_3")
        .when(F.col("rank") <= 8, "rank_4_8")
        .when(F.col("rank") <= 16, "rank_9_16")
        .when(F.col("rank") <= 32, "rank_17_32")
        .when(F.col("rank") <= 64, "rank_33_64")
        .otherwise("rank_gt_64")
    )
    return (
        j.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )
