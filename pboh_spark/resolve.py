"""Stage 5 — bounded-iteration max-product / sum-product score aggregation
(the PBOH loopy-BP core) as a per-conversation Arrow-vectorized kernel.

The reference runs loopy BP per document over a fully-connected CRF of
its mentions (LoopyBeliefPropagation.scala:55-163 max-product, :166-230
sum-product), messages in log space with min-normalization (:85-121),
convergence EPS=1e-5 / 15-iteration bound (:33,
eval/VerifyEDLBPForListOfWords.scala:35), neighbor-sum memoization
(MessagesMap.scala:24-47), and belief extraction (ScorerFull.scala:263-317).

Spark mapping: documents ⇒ conversations; since each conversation is
≤25 mentions × ≤10 candidates (doc-size cap ≙ FewParamsLearning.scala:364,
top-10 prune ≙ MentEntsFreqIndexWrapper.scala:53), the whole CRF fits in
small dense numpy tensors. ``assemble_conversations`` builds every
conversation once — one cogroup of the candidate table against one λ
probe into (conv_id, blob) rows — and LBP and both fits
(learning.learn_weights, param_learning.learn_param_tables) are narrow
mapInPandas stages over those rows, each through ``conv_tensors``.
The reference's per-message virtual calls into Trove maps become three
tensor ops per iteration; the O(l²k²)-not-O(l³k²) neighbor-sum
subtraction trick (MessagesMap.scala:32-40) is preserved as
``S[i,a] − M[j,i,a]``.

The update implemented (max-product, ScorerFull.scala:231-261 scoring):

    msg'[i→j](b) = max_a ( f·rho[i](a) + Σ_{k≠j} msg[k→i](a)
                           + g·2/(L−1)·lambda(E[i,a], E[j,b]) )

min-normalized per (i,j); sum-product swaps max for logsumexp and
normalizes to Σexp = 1 (LoopyBeliefPropagation.scala:195-230).
"""

from __future__ import annotations

import pickle
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pboh_spark.evaluate import size_bucket
from pboh_spark.stats import TOP_K, ScorerWeights, backoff_mass

MAX_ITER = 15  # eval/VerifyEDLBPForListOfWords.scala:35
EPS = 1e-5  # LoopyBeliefPropagation.scala:33
LAMBDA_FLOOR = -1000.0  # ScorerFull.scala:225
NEG = -1.0e30

RESOLVE_SCHEMA = (
    "conv_id string, mention_id bigint, entity bigint, score double, "
    "n_iters int, converged boolean"
)


def _pack(e1: np.ndarray, e2: np.ndarray) -> np.ndarray:
    """int-pair → int64 key, min in the high bits — utils/Utils.scala:37-43."""
    lo = np.minimum(e1, e2).astype(np.int64)
    hi = np.maximum(e1, e2).astype(np.int64)
    return (lo << np.int64(32)) | hi


def _solve_conv(
    ents: np.ndarray,  # (L, K) candidate entity ids, -1 padding, sorted asc
    rho: np.ndarray,  # (L, K) unary potentials, NEG padding
    lam_map: dict[int, float],  # packed pair → lambda (cocit>0 pairs only)
    weights: ScorerWeights,
    max_product: bool,
    logpop: np.ndarray | None = None,  # (L, K) log unnormalized popularity
    lam_const: float = LAMBDA_FLOOR,  # log(backoff/N); floor if no stats
) -> tuple[np.ndarray, np.ndarray, int, bool]:
    """One conversation, at most MAX_ITER rounds until no message moves by
    EPS. Returns (best_idx (L,), best_score (L,), iters, converged).
    Brute-force-verifiable on tiny graphs (tests §8)."""
    L, K = ents.shape
    valid = ents >= 0
    # guard the 32-bit pair packing: ids ≥ 2^32 would silently collide in
    # _pack and probe another pair's lambda (utils/Utils.scala packs ints)
    if ents.max(initial=0) >= (1 << 32):
        raise ValueError(
            "entity ids must fit in 32 bits for lambda pair-packing; "
            f"got max id {int(ents.max())}"
        )
    if L == 1:
        # beliefs use f·rho exactly like the multi-mention path (there are
        # no messages), so scores stay on one scale for any weights.f
        b = np.where(valid[0], weights.f * rho[0], NEG)
        i = int(np.argmax(b))
        score = b[i]
        if not max_product:
            # same [0,1] marginal-probability scale as the multi-mention
            # path (softmax over valid candidates), not a raw log-prob
            p = np.where(valid[0], np.exp(b - b.max()), 0.0)
            score = p[i] / p.sum()
        return np.array([i]), np.array([score]), 0, True

    # Λ[i,j,a,b] — pandas .map is a C-speed dict probe over the flattened
    # key tensor (the per-doc CocitationMap analogue, CocitationMap.scala:24-39).
    # Missing pairs back off to the closed-form independence default
    # (ScorerFull.scala:212-213): log(B/N) + (1−h)(log p̂_a + log p̂_b).
    keys = _pack(
        np.broadcast_to(ents[:, None, :, None], (L, L, K, K)),
        np.broadcast_to(ents[None, :, None, :], (L, L, K, K)),
    ).ravel()
    lam = pd.Series(keys).map(lam_map).to_numpy(dtype=np.float64).reshape(
        L, L, K, K
    )
    if logpop is not None:
        default = lam_const + (1.0 - weights.h) * (
            logpop[:, None, :, None] + logpop[None, :, None, :]
        )
    else:
        default = np.full((L, L, K, K), LAMBDA_FLOOR)
    lam = np.where(np.isnan(lam), default, lam)
    pair_w = weights.g * 2.0 / (L - 1)  # ScorerFull.scala:234 scaling
    lam = pair_w * lam
    f_rho = weights.f * np.where(valid, rho, NEG)

    M = np.zeros((L, L, K))  # M[i,j,b] = msg i→j evaluated at cand b of j
    off_diag = ~np.eye(L, dtype=bool)
    iters = 0
    converged = False
    for iters in range(1, MAX_ITER + 1):
        S = M.sum(axis=0)  # S[i,a] = Σ_k msg k→i (a)   (C8 memoization)
        # base_ij[i,j,a] = f·rho[i,a] + S[i,a] − M[j,i,a]
        # (exclude the recipient's own message by subtraction —
        # MessagesMap.scala:24-47; M.transpose(1,0,2)[i,j,a] = M[j,i,a])
        base_ij = f_rho[:, None, :] + S[:, None, :] - M.transpose(1, 0, 2)
        scores = base_ij[:, :, :, None] + lam  # (i, j, a, b)
        scores = np.where(valid[:, None, :, None], scores, NEG)
        if max_product:
            new_M = scores.max(axis=2)  # (i, j, b)
        else:
            mx = scores.max(axis=2, keepdims=True)
            new_M = (
                np.log(np.exp(scores - mx).sum(axis=2)) + mx[:, :, 0, :]
            )
        new_M = np.where(valid[None, :, :], new_M, 0.0)
        if max_product:
            # min-normalization over valid b — LoopyBeliefPropagation.scala:110-121
            mn = np.where(valid[None, :, :], new_M, np.inf).min(
                axis=2, keepdims=True
            )
            new_M = np.where(valid[None, :, :], new_M - mn, 0.0)
        else:
            # normalize Σ_b exp(msg) = 1 — LoopyBeliefPropagation.scala:210-218
            masked = np.where(valid[None, :, :], new_M, -np.inf)
            mx = masked.max(axis=2, keepdims=True)
            with np.errstate(invalid="ignore"):
                lse = np.log(
                    np.where(
                        valid[None, :, :], np.exp(masked - mx), 0.0
                    ).sum(axis=2, keepdims=True)
                ) + mx
            new_M = np.where(valid[None, :, :], new_M - lse, 0.0)
        new_M = np.where(off_diag[:, :, None], new_M, 0.0)
        delta = np.abs(new_M - M).max()
        M = new_M
        if delta < EPS:
            converged = True
            break

    bel = f_rho + M.sum(axis=0)  # ScorerFull.scala:263-317
    bel = np.where(valid, bel, NEG)
    best = bel.argmax(axis=1)  # candidates sorted by entity ⇒ stable tie-break
    best_score = bel[np.arange(L), best]
    if not max_product:
        mx = bel.max(axis=1, keepdims=True)
        p = np.where(valid, np.exp(bel - mx), 0.0)
        p = p / p.sum(axis=1, keepdims=True)
        best_score = p[np.arange(L), best]
    return best, best_score, iters, converged


class ConvTensors(NamedTuple):
    """One conversation's CRF as dense tensors, rows in mention_id order
    and candidates in entity order. A field is ``None`` when the
    candidate frame lacks its column."""

    mids: np.ndarray  # (L,) mention ids, ascending
    ents: np.ndarray  # (L, K) candidate entity ids, -1 padding
    rho: np.ndarray  # (L, K) unary potentials, NEG padding
    logpop: np.ndarray | None  # (L, K) 'log_pop', 0.0 pad
    ctx: np.ndarray | None  # (L, K) 'ctx_evidence', 0.0 pad
    surfaces: np.ndarray | None  # (L,) mention strings ('ngram')
    gold_ent: np.ndarray | None  # (L,) gold entity ids ('gold_entity')
    gold_idx: np.ndarray | None  # (L,) gold's candidate slot, -1 if absent


def conv_tensors(cand: pd.DataFrame) -> ConvTensors:
    """The pandas → numpy step of every per-conversation kernel (LBP and
    both fits' prepare passes): scatter
    one conversation's candidate rows into (L, K) tensors, one row per
    mention (mention_id asc), candidates by entity asc — the stable
    argmax tie-break of the LBP kernel."""
    cand = cand.sort_values(["mention_id", "entity"])
    mids, first, row = np.unique(
        cand["mention_id"].to_numpy(), return_index=True, return_inverse=True
    )
    slot = np.arange(len(cand)) - first[row]  # position inside the mention
    L, K = len(mids), int(slot.max()) + 1

    def dense(vals: pd.Series, fill, dtype=np.float64) -> np.ndarray:
        out = np.full((L, K), fill, dtype=dtype)
        out[row, slot] = vals.to_numpy(dtype)
        return out

    def evidence(col: str) -> np.ndarray | None:  # nulls read as 0.0
        if col not in cand.columns:
            return None
        return dense(cand[col].fillna(0.0), 0.0)

    ents = dense(cand["entity"], -1, np.int64)
    surfaces = gold_ent = gold_idx = None
    if "ngram" in cand.columns:
        surfaces = cand["ngram"].to_numpy(object)[first]
    if "gold_entity" in cand.columns:
        gold_ent = cand["gold_entity"].to_numpy(np.int64)[first]
        gold_idx = np.full(L, -1, dtype=np.int64)
        hit = np.nonzero(ents[row, slot] == gold_ent[row])[0]
        rows_hit, h = np.unique(row[hit], return_index=True)
        gold_idx[rows_hit] = slot[hit[h]]
    return ConvTensors(
        mids, ents, dense(cand["rho"], NEG), evidence("log_pop"),
        evidence("ctx_evidence"), surfaces, gold_ent, gold_idx,
    )


def pair_map(lam: pd.DataFrame, col: str) -> dict[int, float]:
    """One conversation's pair rows as packed (e1, e2) → ``col`` — the
    per-document CocitationMap the kernels probe."""
    if not len(lam):
        return {}
    return dict(
        zip(
            _pack(lam["e1"].to_numpy(np.int64), lam["e2"].to_numpy(np.int64)),
            lam[col].to_numpy(np.float64),
        )
    )


def lambda_at_h(df: DataFrame, h: float) -> DataFrame:
    """Replace ``lambda_potential`` by its value at the (re-fit) h weight,
    from the affine coefficients the λ table carries
    (stats.with_lambda_potential):

        λ(h) = log_smoothed − h·lp_sum

    This is THE consistency rule between training and inference — the
    decomposition the learning kernels differentiate. ``pair_values`` is
    the same rule, with the same IEEE operations, inside the
    per-conversation kernels; this column form builds the parameter
    fit's initial λ table."""
    return df.withColumn(
        "lambda_potential", F.col("log_smoothed") - F.lit(h) * F.col("lp_sum")
    )


def pair_values(lam: pd.DataFrame, weights: ScorerWeights | None) -> np.ndarray:
    """λ of one conversation's pair rows: the stored ``lambda_potential``
    when no weights were fit, else λ(h) at the fitted h — lambda_at_h's
    rule, evaluated in the same IEEE operations (h·lp_sum, then the
    subtraction), so both forms agree bit for bit."""
    if weights is None:
        return lam["lambda_potential"].to_numpy(np.float64)
    return lam["log_smoothed"].to_numpy(np.float64) - weights.h * lam[
        "lp_sum"
    ].to_numpy(np.float64)


def backoff_lam_const(
    scalars: dict[str, int], w: ScorerWeights | None = None
) -> float:
    """Closed-form independence-backoff constant log((N − δ·D)/N) − log N
    for entity pairs absent from the lambda table (ScorerFull.scala:
    212-213 recast; see stats.backoff_mass). Shared by the LBP kernel,
    both fits and the driver-side linker so all back off identically."""
    backoff, n = backoff_mass(scalars, w)
    return float(np.log(backoff) - np.log(n))


# one pickled row per conversation: the assembly and both fits' prepared
# conversations
BLOB_SCHEMA = "conv_id string, blob binary"
_LAM_COLS = ("e1", "e2", "lambda_potential", "log_smoothed", "lp_sum")


def _assemble(cand: pd.DataFrame, lam: pd.DataFrame) -> pd.DataFrame:
    """Cogroup kernel: one conversation's candidate and λ rows pickled
    as two {column: array} dicts. No gold reads as gold_entity −1. Every
    λ group has a candidate group: its pairs come from the candidates."""
    cand = cand.assign(
        gold_entity=cand["gold_entity"].fillna(-1).astype(np.int64)
    )
    blob = pickle.dumps(
        (
            {c: cand[c].to_numpy() for c in cand.columns if c != "conv_id"},
            {c: lam[c].to_numpy() for c in _LAM_COLS},
        ),
        protocol=pickle.HIGHEST_PROTOCOL,
    )
    return pd.DataFrame({"conv_id": [cand["conv_id"].iloc[0]], "blob": [blob]})


def assemble_conversations(
    candidates: DataFrame,
    mentions: DataFrame,
    lambda_table: DataFrame,
    gold: DataFrame | None = None,
) -> DataFrame:
    """(conv_id, blob): every conversation of the candidate table built
    ONCE for LBP and both fits — the distributed analogue of the
    reference building each document's CocitationMap once and using it
    for learning and message passing (CocitationMap.scala:24-47).

    One cogroup on conv_id. Its candidate side is the candidate table
    with each mention's ``ngram`` and, when ``gold`` is given, its gold
    entity under linking_accuracy's rule: one label per (conv, turn,
    surface), the min entity (no label: −1). Its λ side is ONE probe of
    the λ table (stats.with_lambda_potential) by every pair of the
    conversation's candidate ∪ gold entities, carrying
    ``lambda_potential``, ``log_smoothed`` and ``lp_sum``. Each
    consumer is then a narrow mapInPandas over the rows
    (``conversations``) that takes its own view:

    * LBP (resolve_entities): all mentions, candidate pairs;
    * the weight fit (learning.learn_weights): gold mentions, pairs of
      two candidate entities;
    * the parameter fit (param_learning.learn_param_tables): gold
      mentions, candidate ∪ gold pairs.

    The λ side's explicit ``conv_id`` alias mints a fresh attribute, so
    the cogroup of two frames derived from one candidate table analyzes
    without a checkpoint. Lazy: the caller persists the result when
    more than one consumer reads it and releases it afterwards."""
    if gold is None:
        m = mentions.withColumn("gold_entity", F.lit(None).cast("long"))
    else:
        gm = (
            gold.select(
                "conv_id", "turn_idx",
                F.lower(F.col("surface")).alias("ngram"),
                F.col("entity").alias("gold_entity"),
            )
            .groupBy("conv_id", "turn_idx", "ngram")
            .agg(F.min("gold_entity").alias("gold_entity"))
        )
        m = mentions.join(gm, ["conv_id", "turn_idx", "ngram"], "left")
    extra = ["ctx_evidence"] if "ctx_evidence" in candidates.columns else []
    cand = candidates.select(
        "conv_id", "mention_id", "entity", "rho", "log_pop", *extra
    ).join(m.select("mention_id", "ngram", "gold_entity"), "mention_id", "left")
    # each conversation's entity pairs e1 ≤ e2, enumerated from its
    # entity set in one aggregation instead of a self-join
    ents = cand.groupBy("conv_id").agg(F.array_distinct(F.concat(
        F.collect_list("entity"), F.collect_list("gold_entity")
    )).alias("ents"))
    pairs = ents.select("conv_id", F.inline(F.flatten(F.transform(
        "ents", lambda x: F.transform(
            F.filter("ents", lambda y: x <= y),
            lambda y: F.struct(x.alias("e1"), y.alias("e2")),
        )
    ))))
    lam = pairs.join(lambda_table.select(*_LAM_COLS), ["e1", "e2"]).select(
        F.col("conv_id").alias("conv_id"), *_LAM_COLS
    )
    return (
        cand.groupBy("conv_id")
        .cogroup(lam.groupBy("conv_id"))
        .applyInPandas(_assemble, BLOB_SCHEMA)
    )


def conversations(pdf: pd.DataFrame):
    """(conv_id, candidate rows, λ rows) of each assembled conversation
    in one mapInPandas batch of the assembly."""
    for conv_id, blob in zip(pdf["conv_id"], pdf["blob"]):
        cand, lam = pickle.loads(blob)
        yield conv_id, pd.DataFrame(cand), pd.DataFrame(lam)


def gold_rows(cand: pd.DataFrame) -> pd.DataFrame:
    """The candidate rows of a conversation's gold-labelled mentions —
    what both fits learn from."""
    return cand[cand["gold_entity"] >= 0]


def augment_containment(
    candidates: DataFrame,
    mentions: DataFrame,
    name_stats: DataFrame,
) -> DataFrame:
    """Containment candidate augmentation —
    index/MentEntsFreqIndexWrapper.scala:30-40: when another mention of
    the SAME document strictly contains this mention's normalized string
    (``other.contains(m)``), the container's candidate entities are
    merged into the contained mention's set with frequency 1
    (``addEntity(c, 1)`` ⇒ prior ≈ 1/(total_freq(m)+1)), then the
    per-mention top-k prune runs over the merged set (:53).

    Spark recast: a conv-local self-join of the mention table (docs are
    ≤25 mentions, so per-conv fan-out is bounded — the join is equi on
    conv_id, never a cross), container candidates attach by mention id,
    a left-anti drops entities the mention already had, and one window
    re-prunes to top-k by (rho desc, entity asc). Mentions that are OOV
    themselves get no augmentation (the reference returns null before
    merging, :23-26) — enforced by the inner join on name_stats totals.

    Documented deviation from ``addEntity(c, 1)``: the reference ALSO
    increments the stored frequency of entities the contained mention
    already has and inflates the map's total_freq, which shifts EVERY
    candidate's prior for that mention. Here existing candidates keep
    their original rho (the left-anti drops the duplicates instead of
    bumping them) and total_freq is not adjusted — only genuinely new
    entities arrive, at prior ≈ 1/(total_freq+1). Post-augmentation
    priors are therefore approximate (≈, not =) vs the reference.

    Cost at scale: the final prune is ONE extra hash partition of the
    candidate table on mention_id with ≤ k·(1+containers) rows per group
    (skew impossible — group key is the mention instance). Pruning only
    the augmented subset would need a semi+anti join pair, i.e. two
    shuffles of the same table, so the single window is the cheaper
    plan.
    """
    m = mentions.select("conv_id", "mention_id", "ngram")
    a, b = m.alias("a"), m.alias("b")
    pairs = (
        a.join(b, "conv_id")
        .where(
            (F.col("a.ngram") != F.col("b.ngram"))
            & (F.instr(F.col("b.ngram"), F.col("a.ngram")) > 0)
        )
        .select(
            F.col("a.conv_id").alias("conv_id"),
            F.col("a.mention_id").alias("mention_id"),
            F.col("a.ngram").alias("ngram"),
            F.col("b.mention_id").alias("container_id"),
        )
    )
    cc = candidates.select(
        F.col("mention_id").alias("container_id"), "entity", "log_pop"
    )
    aug = (
        pairs.join(cc, "container_id")
        .select("conv_id", "mention_id", "ngram", "entity", "log_pop")
        .distinct()
        .join(candidates.select("mention_id", "entity"),
              ["mention_id", "entity"], "left_anti")
    )
    totals = name_stats.select(
        F.col("name").alias("ngram"), "total_freq"
    ).distinct()
    aug = (
        aug.join(totals, "ngram", "inner")
        .withColumn("rho", -F.log(F.col("total_freq") + 1))
        .select("conv_id", "mention_id", "entity", "rho", "log_pop")
    )
    merged = candidates.select(
        "conv_id", "mention_id", "entity", "rho", "log_pop"
    ).unionByName(aug)
    w = Window.partitionBy("mention_id").orderBy(
        F.desc("rho"), F.asc("entity")
    )
    return (
        merged.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .drop("rk")
    )


def mention_candidates(
    mentions: DataFrame,
    name_stats: DataFrame,
    entity_stats: DataFrame | None = None,
    containment: bool = True,
) -> DataFrame:
    """(conv_id, mention_id, entity, rho, log_pop) with rho = log p̂(e|m) —
    the prior-only unary potential (ScorerFull.scala:15-104 without the
    context-word term; see context.rho_with_context for the full C1).
    ``log_pop`` feeds the kernel's independence-backoff default lambda.
    ``containment`` (default on, matching the reference's wrapper) merges
    conv-local containing mentions' candidates before the top-k prune —
    see augment_containment."""
    cands = name_stats.where(F.col("rank") <= TOP_K).select(
        F.col("name"), F.col("entity"), F.log(F.col("prob")).alias("rho")
    )
    out = mentions.join(
        cands, mentions["ngram"] == cands["name"], "inner"
    ).select("conv_id", "mention_id", "entity", "rho")
    if entity_stats is not None:
        # entity_stats grows with the catalog (~70 MB at reference scale,
        # unbounded at 100×) — no broadcast hint; AQE decides per actual size
        out = out.join(
            entity_stats.select("entity", "log_pop"), "entity", "left"
        )
    else:
        out = out.withColumn("log_pop", F.lit(0.0))
    out = out.select("conv_id", "mention_id", "entity", "rho", "log_pop")
    if containment:
        out = augment_containment(out, mentions, name_stats)
    return out


def _lbp_kernel(
    weights: ScorerWeights | None,
    max_product: bool,
    lam_const: float,
    rho_over: dict,
    lam_over: dict,
):
    """Narrow LBP kernel over assembled conversations: learned rho
    parameters replace the prior of their (surface, entity) key, learned
    λ parameters the pair value of their key, and everything else keeps
    its value (ScorerFullLearnedParams.scala:38-54)."""
    w = weights or ScorerWeights()

    def solve(batches):
        for pdf in batches:
            out = []
            for conv_id, cand, lam in conversations(pdf):
                if rho_over:
                    keys = zip(cand["ngram"].tolist(), cand["entity"].tolist())
                    cand["rho"] = [
                        rho_over.get(k, r) for k, r in zip(keys, cand["rho"].tolist())
                    ]
                pairs = _pack(
                    lam["e1"].to_numpy(np.int64), lam["e2"].to_numpy(np.int64)
                ).tolist()
                vals = pair_values(lam, weights).tolist()
                if lam_over:
                    vals = [lam_over.get(k, v) for k, v in zip(pairs, vals)]
                t = conv_tensors(cand)
                best, score, iters, ok = _solve_conv(
                    t.ents, t.rho, dict(zip(pairs, vals)), w, max_product,
                    logpop=t.logpop, lam_const=lam_const,
                )
                out.append(pd.DataFrame({
                    "conv_id": conv_id, "mention_id": t.mids,
                    "entity": t.ents[np.arange(len(t.mids)), best],
                    "score": score, "n_iters": iters, "converged": ok,
                }))
            if out:
                yield pd.concat(out, ignore_index=True)

    return solve


def resolve_entities(
    assembly: DataFrame,
    weights: ScorerWeights | None = None,
    max_product: bool = True,
    scalars: dict[str, int] | None = None,
    params: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """LBP assignment per assembled conversation (assemble_conversations)
    → (conv_id, mention_id, entity, score, n_iters, converged): one
    narrow mapInPandas, no shuffle.

    ``weights`` are the fitted scorer weights: with them, stored pairs
    take λ at the fitted h (pair_values); without, the stored potential
    and the validated constants. ``scalars`` (stats.corpus_scalars)
    parameterizes the closed-form independence-backoff λ of pairs the
    λ table lacks. ``params`` are the learned (rho, λ) parameter tables
    of param_learning.learn_param_tables, (ngram, entity, w) and
    (e1, e2, w); they are collected to the driver and applied by key in
    the kernel."""
    lam_const = (
        backoff_lam_const(scalars, weights or ScorerWeights())
        if scalars else LAMBDA_FLOOR
    )
    rho_over, lam_over = {}, {}
    if params is not None:
        r, l = (p.toPandas() for p in params)
        rho_over = dict(zip(
            zip(r["ngram"].tolist(), r["entity"].tolist()), r["w"].tolist()
        ))
        lam_over = dict(zip(
            _pack(l["e1"].to_numpy(np.int64), l["e2"].to_numpy(np.int64)).tolist(),
            l["w"].tolist(),
        ))
    return assembly.mapInPandas(
        _lbp_kernel(weights, max_product, lam_const, rho_over, lam_over),
        RESOLVE_SCHEMA,
    )


def convergence_report(assignments: DataFrame) -> DataFrame:
    """LBP convergence telemetry bucketed by conversation size —
    ≙ GlobalStats.scala:200-209 (avg iters / % converged per doc rollup)
    + the doc-size bucketing of GlobalStats.scala:116-141.

    Input: the resolve_entities output (one row per mention; ``n_iters``
    and ``converged`` are conversation-constant). Two cheap aggs over the
    assignments table: per-conv collapse, then per-bucket rollup.
    Returns (bucket, n_convs, n_mentions, avg_iters, max_iters,
    pct_converged) — a handful of rows, safe to collect into metrics.
    """
    per_conv = assignments.groupBy("conv_id").agg(
        F.count("*").alias("n_m"),
        F.first("n_iters").alias("n_iters"),
        F.first("converged").alias("converged"),
    )
    return (
        per_conv.withColumn("bucket", size_bucket(F.col("n_m")))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_convs"),
            F.sum("n_m").alias("n_mentions"),
            F.round(F.avg("n_iters"), 3).alias("avg_iters"),
            F.max("n_iters").alias("max_iters"),
            F.round(F.avg(F.col("converged").cast("int")), 4).alias(
                "pct_converged"
            ),
        )
        .orderBy("bucket")
    )


def resolve_argmax(candidates: DataFrame) -> DataFrame:
    """ARGMAX baseline: independent per-mention max_e rho —
    md/MostFrequentEntity.scala:12-21, run side-by-side with LBP exactly
    like eval/EvalOnDatasets.scala:192-195. Deterministic tie-break on
    entity id (the reference's is hash-order-dependent — SURVEY.md §7.3)."""
    return (
        candidates.groupBy("conv_id", "mention_id")
        .agg(
            F.max_by("entity", F.struct(F.col("rho"), -F.col("entity"))).alias(
                "entity"
            ),
            F.max("rho").alias("score"),
        )
    )
