"""Stage 4 — within-block candidate pairs + vectorized pair scoring.

The join replaces the reference's per-doc nested pair loops
(CocitationMap.scala:24-39, Learning.scala:514-545) with one equi-join on
the block key and the anti-diagonal predicate (SURVEY.md J3/J4); AQE
skew-join plus stage-3 salting bound the per-task pair count.

Scoring fuses:
* Jaro-Winkler + Levenshtein string similarity — the analogue of the
  reference's trigram similarity fallback
  (MentionEntitiesFrequencyIndex.scala:82-119; threshold 0.5 at :123-182)
* candidate-prior agreement Σ_e p̂(e|m_a)·p̂(e|m_b) — the p̂(e|m) evidence
  (CandidatesList.scala:95-98)
* the PBOH pairwise potential lambda(e1,e2) between top candidates
  (ScorerFull.scala:200-227) — same-entity pairs get the self-cocitation
  analogue (full agreement), different-entity pairs the PMI term.

Levenshtein / token-jaccard / prefix are native column expressions
(whole-stage codegen); Jaro-Winkler is the one genuinely non-native
function → a single Arrow-batched pandas UDF with per-batch memoization
on distinct string pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# fused-score weights of the four string/prior/λ features
W_JW, W_LEV, W_PRIOR, W_LAMBDA = 0.35, 0.15, 0.40, 0.10
JW_PREFIX_SCALE = 0.1  # Winkler's standard prefix weight


def _jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    match_dist = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - match_dist)
        hi = min(l2, i + match_dist + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (matches / l1 + matches / l2 + (matches - t) / matches) / 3.0


def jaro_winkler(s1: str, s2: str) -> float:
    j = _jaro(s1, s2)
    if j > 0.7:
        prefix = 0
        for a, b in zip(s1, s2):
            if a == b and prefix < 4:
                prefix += 1
            else:
                break
        j += prefix * JW_PREFIX_SCALE * (1.0 - j)
    return j


# worker-global JW memo: distinct surface PAIRS are far fewer than pair
# rows (surfaces repeat across blocks and batches), and the python
# worker process is reused across Arrow batches/tasks — so a process
# cache keeps the hit rate high across the whole stage, not just within
# one batch. Pure function of (a, b) ⇒ caching cannot change results.
# Bound: 1M entries ≈ 300-400 MB/worker worst case (×N workers per host
# — memory OUTSIDE Spark's accounting, so the cap must stay well under
# spark.executor.pyspark.memory); overflow evicts the OLDEST half
# (insertion-ordered dict) instead of clearing, so the hot tail of the
# working set survives.
_JW_CACHE: dict[tuple[str, str], float] = {}
_JW_CACHE_MAX = 1_000_000


@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched JW; memoized on distinct (a,b) pairs in a bounded
    worker-global cache — blocks repeat the same surface-form pairs
    heavily, within and across batches. Eviction is LRU: a batch-level
    probe re-inserts its hits (dict move-to-end via del+set), so the
    half dropped on overflow is the least-recently-USED half, not the
    oldest-inserted (which evicted hot early insertions)."""
    if len(_JW_CACHE) > _JW_CACHE_MAX:
        from itertools import islice

        for k in list(islice(iter(_JW_CACHE), len(_JW_CACHE) // 2)):
            del _JW_CACHE[k]
    pdf = pd.DataFrame({"a": a, "b": b})
    uniq = pdf.drop_duplicates()
    for ra, rb in zip(uniq["a"], uniq["b"]):
        key = (ra, rb)
        hit = _JW_CACHE.pop(key, None)
        _JW_CACHE[key] = jaro_winkler(ra, rb) if hit is None else hit
    return pd.Series(
        [_JW_CACHE[(ra, rb)] for ra, rb in zip(pdf["a"], pdf["b"])],
        dtype=np.float64,
    )


def surface_nodes(mentions: DataFrame) -> DataFrame:
    """Distinct-surface projection of the mention table:
    (mention_id = surface hash, ngram, conv_id = null, turn_idx = null,
    tokens) — shaped exactly like a mention row so the whole
    blocking → pairs → scoring → CC stack runs on it unchanged.

    This is THE corpus-size decoupling at 10^12 turns: every pair
    feature (JW/Levenshtein/Jaccard/candidate priors) is a function of
    the two surface STRINGS, so scoring a surface pair once is exact —
    the instance-level pipeline scores the same string pair once per
    co-blocked occurrence pair. Distinct surfaces are bounded by the
    language (~10^7-10^8), not the corpus, so the pair space stops
    growing with data. Instances rejoin by surface equality afterwards
    (surface_clusters_to_mentions)."""
    return (
        mentions.select("ngram")
        .distinct()
        .select(
            F.xxhash64("ngram").alias("mention_id"),
            "ngram",
            F.lit(None).cast("string").alias("conv_id"),
            F.lit(None).cast("int").alias("turn_idx"),
            F.split(F.col("ngram"), " ").alias("tokens"),
        )
    )


def surface_clusters_to_mentions(
    mentions: DataFrame, surface_components: DataFrame
) -> DataFrame:
    """Expand surface-level components back to mention instances:
    (mention_id, conv_id, turn_idx, ngram, cluster_id). Mentions whose
    surface formed no edge still share their surface hash as cluster_id,
    so identical surfaces always co-cluster — strictly at-least-as-good
    recall as the instance-level path."""
    comp = surface_components.withColumnRenamed("id", "surface_id")
    return (
        mentions.select("mention_id", "conv_id", "turn_idx", "ngram")
        .withColumn("surface_id", F.xxhash64("ngram"))
        .join(comp, "surface_id", "left")
        .withColumn(
            "cluster_id", F.coalesce(F.col("cluster_id"), F.col("surface_id"))
        )
        .drop("surface_id")
    )


def candidate_pairs(blocked: DataFrame) -> DataFrame:
    """Within-block self-join (mention_id_a < mention_id_b), deduplicated
    across blocks with per-pair aggregation:

    * ``prior_agreement`` = Σ over shared candidate-entity blocks of
      p̂(e|a)·p̂(e|b) — each candidate block contributes one term, so the
      dedup groupBy *is* the Σ_e (no extra pass).
    * ``shared_entity`` = the highest-agreement shared candidate.

    Self-pairs within a conversation are kept (cross-conv and intra-conv
    linkage both count at 10^12-turn scale).

    Shuffle discipline (this is the dominant shuffle of the pipeline):
    the self-join and the dedup agg carry ONLY narrow columns
    (ids + one double); the string/positional mention attributes are
    re-attached after dedup by joining the per-mention attribute table —
    at any scale that join is narrow-keyed and Catalyst broadcasts it
    when the mention dictionary fits (AQE decides, nothing forced).
    """
    slim = blocked.select("block_key", "mention_id", "cand_entity", "prob")
    a = slim.alias("a")
    b = slim.alias("b")
    raw = (
        a.join(b, "block_key")
        .where(F.col("a.mention_id") < F.col("b.mention_id"))
        .select(
            F.col("block_key"),
            F.col("a.mention_id").alias("mention_id_a"),
            F.col("b.mention_id").alias("mention_id_b"),
            F.col("a.cand_entity").alias("cand_entity"),
            (
                F.coalesce(F.col("a.prob"), F.lit(0.0))
                * F.coalesce(F.col("b.prob"), F.lit(0.0))
            ).alias("agree_term"),
        )
    )
    # shared_entity tie-break on entity id: equal agree_terms are common
    # (symmetric priors) and scoring now consults lambda(shared_entity),
    # so an order-dependent max_by would make scores nondeterministic
    dedup = raw.groupBy("mention_id_a", "mention_id_b").agg(
        F.sum("agree_term").alias("prior_agreement"),
        F.max_by(
            "cand_entity",
            F.struct(
                F.col("agree_term"), (-F.col("cand_entity")).alias("nid")
            ),
        ).alias("shared_entity"),
        F.min("block_key").alias("block_key"),
    )
    attrs = blocked.select(
        "mention_id", "conv_id", "turn_idx", "ngram"
    ).dropDuplicates(["mention_id"])
    aa = attrs.select(
        F.col("mention_id").alias("mention_id_a"),
        F.col("conv_id").alias("conv_id_a"),
        F.col("turn_idx").alias("turn_idx_a"),
        F.col("ngram").alias("ngram_a"),
    )
    bb = attrs.select(
        F.col("mention_id").alias("mention_id_b"),
        F.col("conv_id").alias("conv_id_b"),
        F.col("turn_idx").alias("turn_idx_b"),
        F.col("ngram").alias("ngram_b"),
    )
    return dedup.join(aa, "mention_id_a").join(bb, "mention_id_b").select(
        "mention_id_a", "mention_id_b",
        "conv_id_a", "conv_id_b", "turn_idx_a", "turn_idx_b",
        "ngram_a", "ngram_b",
        "prior_agreement", "shared_entity", "block_key",
    )


def score_pairs(
    pairs: DataFrame,
    lambda_pairs: DataFrame | None = None,
    w_cos: float = 0.0,
    threshold: float = 0.65,
) -> DataFrame:
    """Adds similarity features + fused score + is_match_pred.

    All features except JW are codegen'd column exprs. ``lambda_pairs``
    is the (e1, e2, lambda_potential) table from stats.with_lambda_potential;
    the pair's top shared candidate hitting the *same* entity is full
    pairwise agreement, different top candidates draw the PMI term.

    ``w_cos > 0`` additionally fuses embedding-cosine (north_star's
    third similarity): requires per-side embedding columns
    ``vec_a``/``vec_b``; the cosine is mapped to [0,1] and pairs with a
    missing vector fall back to the neutral 0.5 — JVM-side
    zip_with/aggregate, no UDF.
    """
    maxlen = F.greatest(F.length("ngram_a"), F.length("ngram_b"))
    lev_sim = (
        F.lit(1.0) - F.levenshtein("ngram_a", "ngram_b") / maxlen
    ).alias("levenshtein_sim")
    ta = F.split(F.col("ngram_a"), " ")
    tb = F.split(F.col("ngram_b"), " ")
    jacc = (
        F.size(F.array_intersect(ta, tb))
        / F.greatest(F.size(F.array_union(ta, tb)), F.lit(1))
    ).alias("token_jaccard")

    scored = (
        pairs.withColumn("levenshtein_sim", lev_sim)
        .withColumn("token_jaccard", jacc)
        .withColumn("jaro_winkler", jaro_winkler_udf("ngram_a", "ngram_b"))
    )
    # pairwise-potential term: a shared candidate entity is evidence of
    # compatibility in proportion to its posterior mass on both sides —
    # the self-cocitation analogue of lambda(e,e) (ScorerFull.scala:207-227);
    # a weak (noise-driven) shared candidate must not earn the full bonus.
    agree_part = F.least(F.col("prior_agreement") * 4.0, F.lit(1.0))
    if lambda_pairs is not None:
        # corpus evidence: the shared entity's diagonal PMI potential
        # lambda(e,e), min-max scaled to [0,1] over the entity catalog —
        # frequently-self-cocited entities make a shared candidate more
        # convincing than tail entities with accidental shared mass
        diag = lambda_pairs.where(F.col("e1") == F.col("e2")).select(
            F.col("e1").alias("shared_entity"),
            F.col("lambda_potential").alias("lam_ee"),
        )
        # scalar min/max fold into the scaling via a 1-row cross join; the
        # diag table grows with the entity catalog (~10^7-10^8 at target
        # scale) so NOTHING here is force-broadcast — AQE picks broadcast
        # when diag fits and a shuffle hash join when it doesn't
        rng = diag.agg(
            F.min("lam_ee").alias("lam_lo"), F.max("lam_ee").alias("lam_hi")
        )
        diag = diag.crossJoin(rng).select(
            "shared_entity",
            (
                (F.col("lam_ee") - F.col("lam_lo"))
                / F.greatest(F.col("lam_hi") - F.col("lam_lo"), F.lit(1e-9))
            ).alias("lam_scaled"),
        )
        scored = scored.join(diag, "shared_entity", "left")
        lam_term = 0.75 * agree_part + 0.25 * F.coalesce(
            F.col("lam_scaled"), F.lit(0.5)
        )
    else:
        lam_term = agree_part
    scored = scored.withColumn(
        "lambda_norm",
        F.when(F.col("shared_entity").isNotNull(), lam_term).otherwise(
            F.lit(0.0)
        ),
    )
    if lambda_pairs is not None:
        scored = scored.drop("lam_scaled")
    score = (
        F.lit(W_JW) * F.col("jaro_winkler")
        + F.lit(W_LEV) * F.col("levenshtein_sim")
        + F.lit(W_PRIOR) * F.least(F.col("prior_agreement") * 2.0, F.lit(1.0))
        + F.lit(W_LAMBDA) * F.col("lambda_norm")
    )
    if w_cos > 0:
        if "vec_a" not in scored.columns or "vec_b" not in scored.columns:
            raise ValueError(
                "w_cos > 0 needs the per-side embedding columns "
                "vec_a/vec_b"
            )
        from pboh_spark.ops.simsearch import with_cosine

        scored = with_cosine(scored, "vec_a", "vec_b", "emb_cosine")
        cos01 = (F.col("emb_cosine") + 1.0) / 2.0
        scored = scored.withColumn(
            "emb_cos_sim", F.coalesce(cos01, F.lit(0.5))
        )
        score = score + F.lit(w_cos) * F.col("emb_cos_sim")
    return scored.withColumn("score", score).withColumn(
        "is_match_pred", F.col("score") >= F.lit(threshold)
    )
