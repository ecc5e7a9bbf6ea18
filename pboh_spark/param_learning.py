"""Per-parameter weight learning (L4's payload, Spark-native) —
per-(surface, entity) rho corrections and per-frequent-entity-pair
lambda corrections fit by full-batch pseudolikelihood ascent, served
as plain DataFrames.

Reference parity (file:line in the reference's src/main/scala/):
* parameter stores — utils/OptimizedRhosMap.scala:12-27 (Trove
  String→Double keyed "entity\\tmention") and
  utils/OptimizedLambdasMap.scala:14-21 (packed-long (e1,e2) → Double):
  returned as DataFrames (ngram, entity, w0, w, sq) /
  (e1, e2, w0, w, sq); during the fit, numpy vectors on the driver
  shipped with each round's task replace the reference's memcached
  parameter server (SGDPiecewiseMemClient).
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
  computed FULL-BATCH per round in learning.learn_weights' shape
  (Learning.scala:296-361 merge, :440-443 read clamp at update time).
* serving — loopybeliefpropagation/ScorerFullLearnedParams.scala:38-54:
  stored key → learned value, missing key → default scorer. Here
  resolve.resolve_entities takes both tables as ``params`` and applies
  them by key inside the unchanged LBP kernel: learned rho replaces the
  candidate's prior (the kernel applies f to both branches — a
  uniform-scale deviation from the reference, which leaves its learned
  rho un-multiplied) and learned lambda replaces the pair's λ, so
  backoff pairs still flow through the kernel's closed-form default.

The fit is learning.pl_fit, the weight fit's driver, with this
module's per-conversation prepare (``_ppl_prepare``) and round
(``_ppl_round``), the READ_CLAMP projection and its history; both
tables form one parameter vector, the λ ids after the rho ids. So it
too is bit-identical at any partitioning and golden-oracle checkable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pboh_spark.learning import (
    CLAMP, MAX_DOC, _gold_softmax, _neighbor_pairs, pl_fit,
)
from pboh_spark.resolve import (
    LAMBDA_FLOOR, NEG, ConvTensors, _pack, conv_tensors, conversations,
    gold_rows, lambda_at_h, pair_values,
)
from pboh_spark.stats import ScorerWeights

READ_CLAMP = 15.0  # Learning.scala:440-443 (applied at update here)


def _gold_rho_rows(batches):
    """(ngram, entity, rho) of the gold mentions' candidate rows."""
    for pdf in batches:
        yield pd.concat(
            [gold_rows(cand)[["ngram", "entity", "rho"]]
             for _, cand, _ in conversations(pdf)]
            or [pd.DataFrame(columns=["ngram", "entity", "rho"])],
            ignore_index=True,
        )


def init_rho_params(assembly: DataFrame) -> DataFrame:
    """(ngram, entity, w0, w, sq): one row per distinct (surface, entity)
    candidate key of the assembly's gold mentions, initialized at the
    prior rho the scorer uses (initW, Learning.scala:182-187). ``sq`` is
    the per-parameter AdaGrad accumulator. rho is a function of
    (ngram, entity) upstream, so min() is a deterministic pick of the
    one value."""
    return (
        assembly.mapInPandas(_gold_rho_rows, "ngram string, entity long, rho double")
        .groupBy("ngram", "entity")
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


def _ppl_prepare(
    t: ConvTensors,
    rho_ids: dict,         # (surface, entity) -> rho-parameter id
    lam_keys: np.ndarray,  # (P,) distinct packed pairs with a λ value
    lam_id: np.ndarray,    # (P,) λ-parameter id per pair, -1 untrainable
    lam_pot: np.ndarray,   # (P,) fixed λ of each pair
    w: ScorerWeights,
    lam_const: float = LAMBDA_FLOOR,
) -> dict | None:
    """Parameter-INDEPENDENT half of the kernel: the rho-parameter id of
    each candidate slot, each (candidate, gold-neighbor) key's position
    in ``lam_keys``, its closed-form backoff, and the neighbor mask.
    None when the conversation contributes nothing: outside the
    (1, MAX_DOC] length guard, or no gold among its candidates."""
    L, K = t.ents.shape
    if L < 2 or L > MAX_DOC or not (t.gold_idx >= 0).any():
        return None
    keys, lp_sum, mask = _neighbor_pairs(
        t.ents, t.logpop, t.surfaces, t.gold_ent, t.gold_idx
    )
    pos = pd.Index(lam_keys).get_indexer(keys.ravel()).reshape(L, K, L)
    rho_id = [[rho_ids[(s, e)] if e >= 0 else -1 for e in row]
              for s, row in zip(t.surfaces, t.ents.tolist())]
    return {
        "L": L, "valid": t.ents >= 0, "gold_idx": t.gold_idx,
        "rho_id": np.array(rho_id, dtype=np.int64), "pos": pos,
        "lam_id": lam_id, "lam_pot": lam_pot,
        "backoff": lam_const + (1.0 - w.h) * lp_sum, "mask": mask,
    }


def _sum_by_id(ids: np.ndarray, vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(distinct ids, per-id sums), each sum in ``vals`` order."""
    uk, inv = np.unique(ids, return_inverse=True)
    return uk, np.bincount(inv, weights=vals, minlength=len(uk))


def _ppl_round(
    pre: dict, rho_w: np.ndarray, lam_ext: np.ndarray, w: ScorerWeights
) -> tuple[float, tuple, tuple, int]:
    """Parameter-DEPENDENT half: loss and sparse gradients at the current
    rho values ``rho_w`` (L, K; NEG pad) and λ parameters ``lam_ext``
    (by id, plus a pad entry id −1 reads). Returns (loss, (rho ids,
    d/dw_rho), (λ ids, d/dw_lam), n_mentions)."""
    L, valid, gold_idx, mask = pre["L"], pre["valid"], pre["gold_idx"], pre["mask"]
    lam_id = pre["lam_id"]
    lam_vals = np.where(lam_id >= 0, lam_ext[lam_id], pre["lam_pot"])
    lam = np.append(lam_vals, np.nan)[pre["pos"]]
    lam = np.where(np.isnan(lam), pre["backoff"], lam)
    pw = 2.0 / (L - 1)
    lam_sum = np.einsum("ikj,ij->ik", lam, mask)
    phi = w.f * rho_w + w.g * pw * lam_sum
    big = phi > CLAMP  # discard clamp: factor AND partials zeroed
    phi = np.where(big, 0.0, phi)
    phi = np.where(valid, phi, -np.inf)
    idx, gidx, p, loss = _gold_softmax(phi, valid, gold_idx, L)
    # coeff[row,a] = (1{a = gold_row} − p_row(a)) / L for contributing
    # mentions, zeroed where the candidate slot is padding or the discard
    # clamp fired (∂φ = 0 there)
    onehot = np.zeros_like(p)
    onehot[np.arange(len(idx)), gidx] = 1.0
    coeff = np.where(valid[idx] & ~big[idx], (onehot - p) / L, 0.0)
    nz = coeff != 0.0  # a (surface, entity) id repeats when a surface recurs
    rho_g = _sum_by_id(pre["rho_id"][idx][nz], w.f * coeff[nz])
    # λ part (the n·K·L tensor is the hot path): contribution
    # g·pw·coeff[row,a] at the parameter of (cand a of row, gold of j)
    # for unmasked neighbors j
    lid = np.append(lam_id, -1)[pre["pos"][idx]]               # (n, K, L)
    sel = (
        (mask[idx][:, None, :] > 0.0)                           # neighbor guard
        & (coeff[:, :, None] != 0.0)
        & (lid >= 0)
    )
    lam_g = _sum_by_id(
        lid[sel], w.g * pw * np.broadcast_to(coeff[:, :, None], lid.shape)[sel]
    )
    return loss, rho_g, lam_g, len(idx)


def _ppl_conv(
    ents: np.ndarray,        # (L, K) candidate ids, -1 pad
    rho_w: np.ndarray,       # (L, K) CURRENT per-key rho params, NEG pad
    logpop: np.ndarray,      # (L, K) log unnormalized popularity
    surfaces: np.ndarray,    # (L,) mention strings
    gold_ent: np.ndarray,    # (L,) gold entity ids
    gold_idx: np.ndarray,    # (L,) index of gold in candidate row, -1 absent
    lam_map: dict[int, float],      # packed pair -> effective lambda
    train_keys: np.ndarray,         # int64 packed pairs with a parameter row
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
    discard clamp mirror learning._pl_conv. Composed from
    ``_ppl_prepare`` and ``_ppl_round`` with conversation-local ids."""
    rho_keys = sorted(
        {(s, e) for s, row in zip(surfaces, ents.tolist()) for e in row if e >= 0}
    )
    lam_keys = np.union1d(np.fromiter(lam_map, np.int64, len(lam_map)), train_keys)
    lam_vals = pd.Series(lam_keys).map(lam_map).to_numpy(np.float64)
    pre = _ppl_prepare(
        ConvTensors(None, ents, rho_w, logpop, None, surfaces, gold_ent, gold_idx),
        {k: i for i, k in enumerate(rho_keys)}, lam_keys,
        np.where(np.isin(lam_keys, train_keys), np.arange(len(lam_keys)), -1),
        lam_vals, w, lam_const,
    )
    if pre is None:
        return 0.0, {}, {}, 0
    loss, (ri, rg), (li, lg), n = _ppl_round(pre, rho_w, np.append(lam_vals, np.nan), w)
    rho_g = {rho_keys[i]: g for i, g in zip(ri.tolist(), rg.tolist())}
    return loss, rho_g, dict(zip(lam_keys[li].tolist(), lg.tolist())), n


def _param_prepare(rho_t, lam_t, weights: ScorerWeights | None, lam_const: float):
    """The parameter fit's per-conversation prepare: ``_ppl_prepare`` of
    the gold mentions against the conversation's candidate ∪ gold λ
    pairs. A key's parameter id is its row in ``rho_t`` / ``lam_t``
    (−1: a λ pair without a parameter); a pair's fixed value is
    resolve.pair_values at ``weights``."""
    rho_ids = {k: i for i, k in enumerate(zip(rho_t["ngram"], rho_t["entity"]))}
    lam_ids = pd.Index(
        _pack(lam_t["e1"].to_numpy(np.int64), lam_t["e2"].to_numpy(np.int64))
    )
    w = weights or ScorerWeights()

    def prepare(gold, cand, lam):
        keys = _pack(lam["e1"].to_numpy(np.int64), lam["e2"].to_numpy(np.int64))
        return _ppl_prepare(
            conv_tensors(gold), rho_ids, keys, lam_ids.get_indexer(keys),
            pair_values(lam, weights), w, lam_const,
        )

    return prepare


def _param_round(w: ScorerWeights, theta: np.ndarray, n_rho: int):
    """The parameter fit's per-conversation round at θ (the rho
    parameters, then the λ parameters): ``_ppl_round`` with the λ ids
    offset past the n_rho rho ids. Each vector gets a pad entry (NEG /
    NaN) that id −1 reads."""
    rho_ext = np.append(theta[:n_rho], NEG)
    lam_ext = np.append(theta[n_rho:], np.nan)

    def run(pre):
        loss, (ri, rg), (li, lg), n = _ppl_round(
            pre, rho_ext[pre["rho_id"]], lam_ext, w
        )
        return loss, np.concatenate([ri, li + n_rho]), np.concatenate([rg, lg]), n

    return run


def learn_param_tables(
    assembly: DataFrame,
    lambda_table: DataFrame,
    weights: ScorerWeights | None = None,
    n_rounds: int = 4,
    eta: float = 1.0,
    reg: float = 0.1,
    min_cocit: int = 4,
    lam_const: float = LAMBDA_FLOOR,
) -> tuple[DataFrame, DataFrame, list[dict]]:
    """Fit the per-parameter tables on the gold mentions of an assembly
    (resolve.assemble_conversations built with ``gold``); returns
    (rho_params, lambda_params, history), the tables as local
    DataFrames, so the fit pins nothing. ``weights`` are the fitted
    scorer weights: with them, λ values — the λ-parameter init from
    ``lambda_table`` included — are taken at the fitted h
    (resolve.lambda_at_h); without, the stored potential and the
    validated constants. The driver holds three float64 per parameter
    key (w0, w, sq) plus the keys, and ships both w vectors to each
    round's one mapInPandas over the conversations prepared once. The
    regularizer is proximal toward w0 — the full-batch recast of the
    reference's multiplicative s-shrinkage (Learning.scala:401-402),
    pulling unobserved parameters back to the baseline scorer instead of
    to zero-in-a-different-scale. Per-key AdaGrad (eta/√(1+Σg²)) mirrors
    the few-params driver update; the READ_CLAMP caps stored values at
    15 like Learning.scala:440-443."""
    w = weights or ScorerWeights()
    if weights is not None:
        lambda_table = lambda_at_h(lambda_table, weights.h)
    rho0 = init_rho_params(assembly)
    lam0 = init_lambda_params(lambda_table, min_cocit)
    rho_t, lam_t = rho0.toPandas(), lam0.toPandas()
    n_rho = len(rho_t)
    # one parameter vector per column, the λ ids after the rho ids
    theta, theta0, sq = (
        np.concatenate([rho_t[c], lam_t[c]]).astype(np.float64)
        for c in ("w", "w0", "sq")
    )
    history: list[dict] = []

    def record(r, theta, loss, n):
        if n:
            history.append({"round": r, "loss": loss, "n_convs": n})
        return n > 0

    theta, sq = pl_fit(
        assembly, _param_prepare(rho_t, lam_t, weights, lam_const),
        lambda theta: _param_round(w, theta, n_rho), record,
        # fmin skips NaN the way Spark's ``least`` does
        lambda theta: np.fmin(theta, READ_CLAMP),
        theta, theta0, sq, n_rounds, eta, reg,
    )
    rho_t["w"], lam_t["w"] = theta[:n_rho], theta[n_rho:]
    rho_t["sq"], lam_t["sq"] = sq[:n_rho], sq[n_rho:]
    new = assembly.sparkSession.createDataFrame
    return new(rho_t, rho0.schema), new(lam_t, lam0.schema), history
