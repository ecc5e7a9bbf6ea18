"""Per-parameter weight learning (L4's payload, Spark-native) —
per-(surface, entity) rho corrections and per-frequent-entity-pair
lambda corrections fit by distributed pseudolikelihood ascent, stored
and served as plain DataFrames.

Reference parity (file:line in /root/reference/src/main/scala/):
* parameter stores — utils/OptimizedRhosMap.scala:12-27 (Trove
  String→Double keyed "entity\\tmention") and
  utils/OptimizedLambdasMap.scala:14-21 (packed-long (e1,e2) → Double):
  recast as hash-partitioned DataFrames
  (ngram, entity, w0, w, sq) / (e1, e2, w0, w, sq) — the honest
  cluster-scale replacement for the memcached parameter server the
  reference needs (SGDPiecewiseMemClient), because a keyed Spark join
  IS the distributed hash probe.
* frequent-pair restriction — learning/Learning.scala:113-148: only
  entity pairs with corpus co-citation frequency ≥ 4 get a lambda
  parameter; everything else keeps the closed-form backoff.
* init — Learning.scala:182-187 (initW): "rhos with log p(y|x),
  lambdas all 0". Here w0(rho) = the prior rho the scorer already
  uses and w0(lambda) = the PMI potential λ(h) — i.e. parameters start
  EXACTLY at the baseline scorer (round 0 reproduces it bit-for-bit)
  and learning moves them as *offsets* from it. Documented deviation:
  the reference's lambda params start at 0 in a different scale
  (its learned scorer drops the PMI term entirely,
  ScorerFullLearnedParams.scala:46-52); starting at the potential the
  serving path already computes gives a continuous, better-conditioned
  fit with the same per-pair capacity.
* pseudolikelihood SGD step — Learning.scala:746-858
  (SGDStepPseudolikelihood): gold-numerator bumps + softmax-denominator
  pulls for every stored (x,y) rho key and every stored
  (y_gold_neighbor, y_candidate) lambda key; the same gradient here,
  computed FULL-BATCH per round instead of per-sampled-doc (one
  deterministic cogrouped job per round, exactly the learn_weights
  topology — learning.py), with the >15 read-clamp of
  Learning.scala:440-443 applied at update time.
* serving — loopybeliefpropagation/ScorerFullLearnedParams.scala:38-54:
  stored key → learned value, missing key → default scorer. Here the
  override happens BEFORE the unchanged LBP kernel: learned rho
  replaces the candidate table's prior (kernel applies f to both
  branches — a uniform-scale deviation from the reference, which
  leaves its learned rho un-multiplied) and learned lambda replaces
  ``lambda_potential`` in the table the conv-pair probe joins, so
  backoff pairs still flow through the kernel's closed-form default.

Determinism: per-conversation gradient rows are quantized to integer
1e-9 units and merged with an order-independent long sum per parameter
key (the fixed-point rule learning._quantize reproduces), the AdaGrad
state lives in the parameter DataFrames themselves, and the driver
holds nothing but the round counter and loss history — so the fit is
bit-identical at any partitioning and golden-oracle checkable, and at
10^12-turn scale each round is one gradient job + one keyed update
join, no driver-side parameter traffic at all.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pboh_spark.learning import CLAMP, MAX_DOC, _FIXED
from pboh_spark.resolve import (
    LAMBDA_FLOOR, _pack, conv_entity_pairs, conv_tensors, pair_map,
)
from pboh_spark.stats import ScorerWeights
from pboh_spark.util import release

GRAD_ROWS_SCHEMA = (
    "conv_id string, kind string, ngram string, e1 long, e2 long, val double"
)
READ_CLAMP = 15.0  # Learning.scala:440-443 (applied at update here)


def init_rho_params(cand_gold: DataFrame) -> DataFrame:
    """(ngram, entity, w0, w, sq): one row per distinct (surface, entity)
    candidate key, initialized at the prior rho the scorer uses
    (initW, Learning.scala:182-187). ``sq`` is the per-parameter AdaGrad
    accumulator. rho is a function of (ngram, entity) upstream, so
    min() is a deterministic pick of the one value."""
    return (
        cand_gold.groupBy("ngram", "entity")
        .agg(F.min("rho").alias("w0"))
        .select(
            "ngram", "entity", "w0",
            F.col("w0").alias("w"), F.lit(0.0).alias("sq"),
        )
    )


def init_lambda_params(lambda_table: DataFrame, min_cocit: int = 4) -> DataFrame:
    """(e1, e2, w0, w, sq) for pairs with cocit ≥ ``min_cocit``
    (Learning.scala:148), initialized at the already-evaluated PMI
    potential λ(h) so round 0 equals the baseline scorer."""
    return lambda_table.where(F.col("cocit") >= min_cocit).select(
        "e1", "e2",
        F.col("lambda_potential").alias("w0"),
        F.col("lambda_potential").alias("w"),
        F.lit(0.0).alias("sq"),
    )


def _ppl_conv(
    ents: np.ndarray,        # (L, K) candidate ids, -1 pad
    rho_w: np.ndarray,       # (L, K) CURRENT per-key rho params, NEG pad
    logpop: np.ndarray,      # (L, K) log unnormalized popularity
    surfaces: np.ndarray,    # (L,) mention strings
    gold_ent: np.ndarray,    # (L,) gold entity ids
    gold_idx: np.ndarray,    # (L,) index of gold in candidate row, -1 absent
    lam_map: dict[int, float],      # packed pair -> effective lambda
    train_keys: np.ndarray,         # SORTED int64 packed pairs with a
                                    # parameter row (built once per group
                                    # in _pgrad_kernel)
    w: ScorerWeights,
    lam_const: float = LAMBDA_FLOOR,
) -> tuple[float, dict, dict, int]:
    """One conversation's pseudolikelihood loss + SPARSE gradients:
    ({(ngram, entity): d/dw_rho}, {packed_pair: d/dw_lam}, n_mentions).

    Factor shape matches the serving kernel (resolve._solve_conv):
        φ(x,y) = f·w_rho(x,y) + g·(2/(L−1))·Σ_{j≠x} λ_eff(y_j^gold, y)
    with λ_eff = stored parameter if the packed key has one, else the
    fixed table value, else the closed-form backoff — so ∂φ/∂w_rho = f
    and ∂φ/∂w_lam = g·2/(L−1)·(multiplicity of that gold-neighbor pair).
    Gradient = numerator (gold indicator) − softmax expectation, the
    full-batch form of SGDStepPseudolikelihood (Learning.scala:746-858);
    the same-surface neighbor guard (xj != x) and the log_factor > 10
    discard clamp mirror learning._pl_conv."""
    L, K = ents.shape
    valid = ents >= 0
    if L < 2 or L > MAX_DOC:
        return 0.0, {}, {}, 0
    gold_lp = np.where(
        gold_idx >= 0, logpop[np.arange(L), np.maximum(gold_idx, 0)], 0.0
    )
    keys = _pack(
        np.broadcast_to(ents[:, :, None], (L, K, L)),
        np.broadcast_to(gold_ent[None, None, :], (L, K, L)),
    )
    lam = pd.Series(keys.ravel()).map(lam_map).to_numpy(np.float64).reshape(
        L, K, L
    )
    backoff = lam_const + (1.0 - w.h) * (
        logpop[:, :, None] + gold_lp[None, None, :]
    )
    lam = np.where(np.isnan(lam), backoff, lam)
    mask = (surfaces[:, None] != surfaces[None, :]).astype(np.float64)
    pw = 2.0 / (L - 1)
    lam_sum = np.einsum("ikj,ij->ik", lam, mask)
    phi = w.f * rho_w + w.g * pw * lam_sum
    big = phi > CLAMP  # discard clamp: factor AND partials zeroed
    phi = np.where(big, 0.0, phi)
    phi = np.where(valid, phi, -np.inf)
    contrib = gold_idx >= 0
    n = int(contrib.sum())
    if n == 0:
        return 0.0, {}, {}, 0
    idx = np.where(contrib)[0]
    gidx = gold_idx[idx]
    mx = phi[idx].max(axis=1, keepdims=True)
    zexp = np.where(valid[idx], np.exp(phi[idx] - mx), 0.0)
    z = zexp.sum(axis=1, keepdims=True)
    lse = (np.log(z) + mx)[:, 0]
    p = zexp / z
    loss = float(((phi[idx, gidx] - lse) / L).sum())
    # coeff[row,a] = (1{a = gold_row} − p_row(a)) / L for contributing
    # mentions, zeroed where the candidate slot is padding or the discard
    # clamp fired (∂φ = 0 there)
    onehot = np.zeros_like(p)
    onehot[np.arange(len(idx)), gidx] = 1.0
    coeff = np.where(valid[idx] & ~big[idx], (onehot - p) / L, 0.0)
    rho_g: dict[tuple[str, int], float] = {}
    nz = np.nonzero(coeff)  # ≤ n·K entries — the same (surface, entity)
    for row, a in zip(*nz):  # key repeats when a surface recurs in-conv
        rk = (surfaces[idx[row]], int(ents[idx[row], a]))
        rho_g[rk] = rho_g.get(rk, 0.0) + w.f * float(coeff[row, a])
    # λ part vectorized (the n·K·L tensor is the hot path): contribution
    # g·pw·coeff[row,a] at key (cand a of row, gold of j) for unmasked
    # neighbors j whose packed key has a parameter row
    lam_g: dict[int, float] = {}
    if train_keys.size:
        k3 = keys[idx]                                   # (n, K, L)
        m3 = mask[idx][:, None, :] > 0.0                 # neighbor guard
        sel = (
            m3
            & (coeff[:, :, None] != 0.0)
            & np.isin(k3, train_keys)
        )
        if sel.any():
            flat_keys = k3[sel]
            flat_vals = (
                w.g * pw * np.broadcast_to(coeff[:, :, None], k3.shape)[sel]
            )
            uk, inv = np.unique(flat_keys, return_inverse=True)
            sums = np.bincount(inv, weights=flat_vals)
            lam_g = dict(zip(uk.tolist(), sums.tolist()))
    return loss, rho_g, lam_g, n


def _pgrad_kernel(w: ScorerWeights, lam_const: float):
    def solve(cand: pd.DataFrame, lam: pd.DataFrame) -> pd.DataFrame:
        cols = ["conv_id", "kind", "ngram", "e1", "e2", "val"]
        if cand.empty:
            return pd.DataFrame(columns=cols)
        conv = cand["conv_id"].iloc[0]
        t = conv_tensors(cand)
        # sorted for np.isin's binary path, built once per group
        train_keys = np.array(
            sorted(k for k, tr in pair_map(lam, "trainable").items() if tr),
            dtype=np.int64,
        )
        loss, rho_g, lam_g, n = _ppl_conv(
            t.ents, t.rho, t.logpop, t.surfaces, t.gold_ent, t.gold_idx,
            pair_map(lam, "lam_eff"), train_keys, w, lam_const,
        )
        rows = [
            {"conv_id": conv, "kind": "loss", "ngram": None,
             "e1": n, "e2": 0, "val": loss}
        ]
        rows += [
            {"conv_id": conv, "kind": "rho", "ngram": ng,
             "e1": ent, "e2": 0, "val": g}
            for (ng, ent), g in rho_g.items()
        ]
        rows += [
            {"conv_id": conv, "kind": "lam", "ngram": None,
             "e1": int(k >> 32), "e2": int(k & 0xFFFFFFFF), "val": g}
            for k, g in lam_g.items()
        ]
        return pd.DataFrame(rows, columns=cols)

    return solve


def _conv_entity_pairs(cand_gold: DataFrame) -> DataFrame:
    """Parameter-INDEPENDENT half of the conv-pair probe: distinct
    conversation-local candidate∪gold entities, self-joined into ordered
    pairs (conv_id, e1, e2). Depends only on ``cand_gold``, so the fit
    builds it ONCE and reuses it every round — the per-round work in
    ``_conv_lambda_eff`` is then just the keyed probe of the merged
    parameter table (guide §1.2: hoist weight-independent work out of
    the round loop, the same discipline as learning.learn_weights'
    preassembly)."""
    return conv_entity_pairs(
        cand_gold.select("conv_id", "entity").unionByName(
            cand_gold.select("conv_id", F.col("gold_entity").alias("entity"))
        )
    )


def _conv_lambda_eff(
    pairs: DataFrame,
    lambda_table: DataFrame,
    lambda_params: DataFrame,
) -> DataFrame:
    """Conversation-local effective λ pairs for the gradient kernel:
    (conv_id, e1, e2, lam_eff, trainable) — the stored table value
    overridden by the current parameter where one exists. ``pairs`` is
    the hoisted `_conv_entity_pairs` output; this function is only the
    round-dependent keyed probe of the merged table (same distributed
    shape as resolve.conv_lambda_pairs)."""
    merged = lambda_table.select("e1", "e2", "lambda_potential").join(
        lambda_params.select("e1", "e2", F.col("w").alias("__w")),
        ["e1", "e2"], "left",
    ).select(
        "e1", "e2",
        F.coalesce("__w", "lambda_potential").alias("lam_eff"),
        F.col("__w").isNotNull().alias("trainable"),
    )
    return pairs.join(merged, ["e1", "e2"], "inner").select(
        "conv_id", "e1", "e2", "lam_eff", "trainable"
    )


def learn_param_tables(
    cand_gold: DataFrame,
    lambda_table: DataFrame,
    weights: ScorerWeights | None = None,
    n_rounds: int = 4,
    eta: float = 1.0,
    reg: float = 0.1,
    min_cocit: int = 4,
    lam_const: float = LAMBDA_FLOOR,
) -> tuple[DataFrame, DataFrame, list[dict]]:
    """Fit the per-parameter tables; returns (rho_params, lambda_params,
    history). One cogrouped gradient job + two keyed update joins per
    round; parameters never leave the cluster (only the scalar loss is
    collected). The regularizer is proximal toward w0 — the full-batch
    recast of the reference's multiplicative s-shrinkage
    (Learning.scala:401-402), pulling unobserved parameters back to the
    baseline scorer instead of to zero-in-a-different-scale. Per-key
    AdaGrad (eta/√(1+Σg²)) mirrors the few-params driver update; the
    READ_CLAMP caps stored values at 15 like Learning.scala:440-443."""
    w = weights or ScorerWeights()
    # eager localCheckpoint, not just persist: the gradient cogroup's two
    # sides (cand⋈params and the conv-pair probe) BOTH derive from
    # cand_gold, and shared lineage trips Spark's ambiguous-self-join
    # analysis; fresh lineage also caches the scanned-every-round input
    cand_gold = cand_gold.localCheckpoint()
    # the conv-pair skeleton depends only on cand_gold: materialize it
    # once per fit instead of re-running its distinct+union+self-join
    # every round (only the parameter probe is round-dependent)
    pairs = _conv_entity_pairs(cand_gold).localCheckpoint()
    rho_p = init_rho_params(cand_gold).localCheckpoint()
    lam_p = init_lambda_params(lambda_table, min_cocit).localCheckpoint()
    history: list[dict] = []
    q = lambda c: (F.sum(F.round(F.col(c) * _FIXED).cast("long")) / _FIXED)  # noqa: E731
    in_flight: list = []  # this round's λ slice and merge, released on ANY exit
    try:
        for r in range(n_rounds):
            # the current parameter IS the kernel's rho
            cg = cand_gold.drop("rho").join(
                rho_p.select("ngram", "entity", F.col("w").alias("rho")),
                ["ngram", "entity"], "inner",
            )
            # rename the λ side's key: both cogroup sides descend from
            # cand_gold and localCheckpoint PRESERVES attribute ids, so
            # grouping both on the same conv_id attribute trips Spark's
            # ambiguous-self-join analysis; the rename mints a fresh one
            lam_eff = _conv_lambda_eff(
                pairs, lambda_table, lam_p
            ).withColumnRenamed("conv_id", "conv_id_l")
            lam_ck = lam_eff.localCheckpoint(eager=False)
            in_flight = [lam_ck]
            grads = (
                cg.groupBy("conv_id")
                .cogroup(lam_ck.groupBy("conv_id_l"))
                .applyInPandas(_pgrad_kernel(w, lam_const), GRAD_ROWS_SCHEMA)
            )
            # fixed-point merge per parameter key (order-independent)
            merged = grads.groupBy("kind", "ngram", "e1", "e2").agg(
                q("val").alias("gsum"),
                F.count("*").alias("n"),
            ).persist()
            in_flight.append(merged)
            # loss rows collapse per (kind, null, n_mentions, 0) key, so a
            # group can hold MANY conversations with the same contributing
            # count — n_convs must sum the group's row count `n`, not
            # count groups (counting groups under-counts and over-scales
            # every gradient by the collapse factor)
            lrow = merged.where(F.col("kind") == "loss").agg(
                F.sum("gsum").alias("loss"),
                F.sum(
                    F.when(F.col("e1") > 0, F.col("n")).otherwise(0)
                ).alias("n_convs"),
            ).collect()[0]
            n_convs = int(lrow["n_convs"] or 0)
            if n_convs == 0:
                break  # in_flight (merged + this round's λ slice) released below
            history.append(
                {"round": r, "loss": float(lrow["loss"]) / n_convs,
                 "n_convs": n_convs}
            )
            gr = merged.where(F.col("kind") == "rho").select(
                "ngram", F.col("e1").alias("entity"),
                (F.col("gsum") / n_convs).alias("grad"),
            )
            gl = merged.where(F.col("kind") == "lam").select(
                "e1", "e2", (F.col("gsum") / n_convs).alias("grad"),
            )
            # the eager checkpoints materialize the new tables, so the
            # superseded ones and this round's slices can go
            rho_prev, lam_prev = rho_p, lam_p
            rho_p = _adagrad_update(
                rho_p.join(gr, ["ngram", "entity"], "left"), eta, reg
            ).localCheckpoint()
            lam_p = _adagrad_update(
                lam_p.join(gl, ["e1", "e2"], "left"), eta, reg
            ).localCheckpoint()
            release(rho_prev, lam_prev, *in_flight)
            in_flight = []
    finally:
        release(cand_gold, pairs, *in_flight)
    return rho_p, lam_p, history


def _adagrad_update(joined: DataFrame, eta: float, reg: float) -> DataFrame:
    """w ← clamp(w + eta/√(1+sq')·g_eff, ≤15), g_eff = grad − reg·(w−w0),
    sq' = sq + g_eff² — per-key AdaGrad with the proximal pull, as one
    column expression over the (params ⟕ grads) join."""
    g_eff = F.coalesce(F.col("grad"), F.lit(0.0)) - reg * (
        F.col("w") - F.col("w0")
    )
    sq2 = F.col("sq") + g_eff * g_eff
    w2 = F.least(
        F.col("w") + F.lit(eta) / F.sqrt(1.0 + sq2) * g_eff,
        F.lit(READ_CLAMP),
    )
    keep = [c for c in joined.columns if c not in ("grad", "w", "sq")]
    return joined.select(*keep, w2.alias("w"), sq2.alias("sq"))


def serve_candidates(
    candidates: DataFrame, mentions: DataFrame, rho_params: DataFrame
) -> DataFrame:
    """Join learned rho parameters into the candidate table
    (ScorerFullLearnedParams.scala:38-45 as a keyed left join): stored
    (surface, entity) keys replace the prior rho, everything else keeps
    it. Output schema equals the input's, so the unchanged LBP kernel
    serves the learned model."""
    m = mentions.select("mention_id", "ngram")
    out_cols = candidates.columns
    return (
        candidates.join(m, "mention_id", "left")
        .join(
            rho_params.select(
                "ngram", "entity", F.col("w").alias("__w_rho")
            ),
            ["ngram", "entity"], "left",
        )
        .withColumn("rho", F.coalesce("__w_rho", "rho"))
        .select(*out_cols)
    )


def serve_lambda_table(
    lambda_table: DataFrame, lambda_params: DataFrame
) -> DataFrame:
    """Learned pair parameters override ``lambda_potential``
    (ScorerFullLearnedParams.scala:46-52 as a keyed left join); pairs
    absent from BOTH tables still reach the kernel's closed-form
    backoff through resolve.conv_lambda_pairs' inner probe."""
    return (
        lambda_table.join(
            lambda_params.select("e1", "e2", F.col("w").alias("__w")),
            ["e1", "e2"], "left",
        )
        .withColumn(
            "lambda_potential", F.coalesce("__w", "lambda_potential")
        )
        .drop("__w")
    )
