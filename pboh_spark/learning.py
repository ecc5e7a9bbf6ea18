"""Distributed few-params weight learning (L2/L3) — pseudolikelihood
gradients for the scorer weights {f, g, h, b}, fit with AdaGrad + box
projection — and ``pl_fit``, the one fit driver that this fit and the
parameter-table fit (param_learning.py) both run.

Reference parity (file:line in /root/reference/src/main/scala/):
* pseudolikelihood log-factor + analytic partials
  learning/FewParamsLearning.scala:289-340 (logFactorAndItsDerivatives):
      log_factor(x,y) = f·rho(x,y) + Σ_{x_j≠x} g·2/(l−1)·λ(y, y_j)
  with the same-surface neighbor guard (``xj != x``, :311), the
  log_factor > 10 discard clamp (:330-338), and the l ∈ (1, 25] doc
  guard (:364).
* loss = Σ_x (1/l)·[log_factor(x,y_gold) − log Z_x],
  Z_x = Σ_{y'∈cands(x)} e^{log_factor(x,y')} — :387-500 (the max-shift
  underflow trick :448-460 is ``_gold_softmax`` here).
* AdaGrad accumulation eta/√(1+Σg²) + update — :819-846.
* box projection g,f ∈ [0.001, 15], b ∈ [1e-8, 10], and the h·g ≥ −15
  guard (h = −15/g when violated) — loopybeliefpropagation/
  ScorerWeights.scala:120-154.
* distributed round merge — learning/Learning.scala:296-361: per-worker
  partial results reduced, then one driver-side update per round; the
  reference's few-params and per-parameter learners share this shape,
  and so do ours, through ``pl_fit``.

Spark recast: the reference runs per-worker *stochastic* SGD and merges
weight deltas; here each round is ONE deterministic full-batch job over
conversations prepared once per fit from the conversation assembly
(resolve.assemble_conversations, which LBP reads too). A learner
supplies a per-conversation prepare function, a per-conversation round
function, and its own projection and history; ``pl_fit`` does the rest.
Per-conversation values are quantized to integer 1e-9 units before the
(order-independent) sums, so results are bit-identical at any
partitioning — float addition order across partitions can never leak
into the fitted values, which is what makes the golden-oracle contract
queries possible.

λ(h) is affine in h for BOTH stored and backoff pairs:
    stored:  λ = log_smoothed − h·(log p̂(e1) + log p̂(e2))   (ScorerFull
             .scala:207-227 with the h-term factored out)
    backoff: λ = lam_const + (1−h)·(log p̂(e1) + log p̂(e2))
so the kernel carries (c0, c1) with λ = c0 − h·c1 and ∂λ/∂h = −c1 —
the reference needs finite differences for s/b (:426-431) but {f, g, h}
are exact analytic partials, checked by finite differences in
tests/test_learning.py.

Deviation (documented): the regularizer pulls toward the *shipped
validated constants* (f=1, g=0.5, h=0.15 — EL_LBP_Spark.scala:111-117),
not the reference's Wikipedia-scale prior means (f=10, g=10 —
FewParamsLearning.scala:390-391); on a transcript corpus the validated
constants are the sensible prior. Mentions whose gold entity lacks a
candidate row still act as neighbors (their gold id and, when unknown,
log-pop 0 feed the backoff λ) but contribute no loss term — exactly the
reference's ``y_space.contains(y)`` skip (:389).
"""

from __future__ import annotations

import pickle
from dataclasses import replace
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from pboh_spark.resolve import (
    BLOB_SCHEMA, LAMBDA_FLOOR, _pack, conversations, conv_tensors, gold_rows,
    pair_map,
)
from pboh_spark.stats import ScorerWeights
from pboh_spark.util import release

CLAMP = 10.0  # FewParamsLearning.scala:330 log_factor discard threshold
MAX_DOC = 25  # FewParamsLearning.scala:364
_FIXED = 1e9  # fixed-point quantum for the order-independent merge
# one row per partition of a round: integer loss, contributing
# conversations, and integer gradient sums by parameter id
PART_SCHEMA = "loss long, n_convs long, ids array<long>, q array<long>"
_THETA_IDS = np.arange(4)  # the weight fit's parameter ids: f, g, h, b


def _neighbor_pairs(ents, logpop, surfaces, gold_ent, gold_idx) -> tuple:
    """(keys, lp_sum, mask) of one conversation: the packed pair of
    candidate (i, a) and the gold entity of neighbor j, and their
    log-pop sum, both (L, K, L) — a gold entity outside its mention's
    candidates has log-pop 0 — and the (L, L) neighbor mask, the string
    guard ``xj != x`` (:311), which drops i == j too."""
    L, K = ents.shape
    gold_lp = np.where(
        gold_idx >= 0, logpop[np.arange(L), np.maximum(gold_idx, 0)], 0.0
    )
    keys = _pack(
        np.broadcast_to(ents[:, :, None], (L, K, L)),
        np.broadcast_to(gold_ent[None, None, :], (L, K, L)),
    )
    lp_sum = logpop[:, :, None] + gold_lp[None, None, :]
    mask = (surfaces[:, None] != surfaces[None, :]).astype(np.float64)
    return keys, lp_sum, mask


def _gold_softmax(phi, valid, gold_idx, L: int) -> tuple:
    """(idx, gidx, p, loss) of the mentions whose gold is a candidate:
    their rows, gold slots, candidate softmax p and the loss
    Σ (φ_gold − log Z)/L, by the max-shifted log-sum-exp (:448-460)."""
    idx = np.nonzero(gold_idx >= 0)[0]
    gidx = gold_idx[idx]
    mx = phi[idx].max(axis=1, keepdims=True)
    zexp = np.where(valid[idx], np.exp(phi[idx] - mx), 0.0)
    z = zexp.sum(axis=1, keepdims=True)
    lse = (np.log(z) + mx)[:, 0]
    p = zexp / z
    loss = float(((phi[idx, gidx] - lse) / L).sum())
    return idx, gidx, p, loss


def _pl_prepare(
    ents: np.ndarray,        # (L, K) candidate ids, -1 pad
    rho: np.ndarray,         # (L, K) unary, NEG pad
    logpop: np.ndarray,      # (L, K) log unnormalized popularity
    surfaces: np.ndarray,    # (L,) mention strings
    gold_ent: np.ndarray,    # (L,) gold entity ids
    gold_idx: np.ndarray,    # (L,) index of gold in candidate row, -1 absent
    c0_map: dict[int, float],  # packed pair -> log_smoothed
    c1_map: dict[int, float],  # packed pair -> lp_sum
    lam_const: float = LAMBDA_FLOOR,
    ctx: np.ndarray | None = None,  # (L, K) context evidence Σ log(p̃/p̂)
) -> dict | None:
    """Weight-INDEPENDENT half of the pseudolikelihood kernel: the λ
    affine-coefficient probes and the neighbor-sum contractions depend
    only on the conversation's tensors, never on θ = (f, g, h, b), so a
    multi-round fit computes them ONCE per conversation and re-evaluates
    only ``_pl_round`` per round (the r6 optimization; the per-round
    arithmetic is unchanged, see _pl_conv). None outside the
    (1, MAX_DOC] length guard."""
    L, K = ents.shape
    if L < 2 or L > MAX_DOC:
        return None
    keys, lp_sum, mask = _neighbor_pairs(ents, logpop, surfaces, gold_ent, gold_idx)
    # λ affine coefficients between candidate (i,a) and gold of j
    ks = pd.Series(keys.ravel())
    c0 = ks.map(c0_map).to_numpy(np.float64).reshape(L, K, L)
    c1 = ks.map(c1_map).to_numpy(np.float64).reshape(L, K, L)
    c0 = np.where(np.isnan(c0), lam_const + lp_sum, c0)
    c1 = np.where(np.isnan(c1), lp_sum, c1)
    return {
        "rho": rho,
        "ctx": ctx,
        "pair0": np.einsum("ikj,ij->ik", c0, mask),  # Σ_j c0[i,a,j]
        "pair1": np.einsum("ikj,ij->ik", c1, mask),
        "valid": ents >= 0,
        "gold_idx": gold_idx,
        "L": L,
    }


def _pl_round(pre: dict, w: ScorerWeights) -> tuple:
    """Weight-DEPENDENT half, the weight fit's round function: loss,
    parameter ids 0..3, analytic ∂(f, g, h, b) at θ and n, the
    contributing mentions (0, with loss and gradients 0, when no gold is
    a candidate), from the precomputed contractions. Bit-identical to
    the former fused kernel — same operations in the same order on the
    same float64 tensors, only hoisted out of the per-round loop."""
    rho, ctx = pre["rho"], pre["ctx"]
    pair0, pair1 = pre["pair0"], pre["pair1"]
    valid, gold_idx, L = pre["valid"], pre["gold_idx"], pre["L"]
    pw = 2.0 / (L - 1)
    lam_sum = pair0 - w.h * pair1          # Σ_j λ(h)
    unary = w.a * rho + (w.b * ctx if ctx is not None else 0.0)
    phi = w.f * unary + w.g * pw * lam_sum  # log_factor per candidate
    d_f = unary.copy()
    d_g = pw * lam_sum
    d_h = -w.g * pw * pair1
    d_b = w.f * ctx if ctx is not None else np.zeros_like(rho)
    d_b = d_b.copy()
    # discard clamp (:330-338): factor and partials zeroed past +10
    big = phi > CLAMP
    for arr in (phi, d_f, d_g, d_h, d_b):
        arr[big] = 0.0
    phi = np.where(valid, phi, -np.inf)
    idx, gidx, p, loss = _gold_softmax(phi, valid, gold_idx, L)
    grads = np.zeros(4)
    for gi, d in enumerate((d_f, d_g, d_h, d_b)):
        dm = np.where(valid[idx], d[idx], 0.0)
        grads[gi] = float(
            ((d[idx, gidx] - (p * dm).sum(axis=1)) / L).sum()
        )
    return loss, _THETA_IDS, grads, len(idx)


def _pl_conv(
    ents: np.ndarray,
    rho: np.ndarray,
    logpop: np.ndarray,
    surfaces: np.ndarray,
    gold_ent: np.ndarray,
    gold_idx: np.ndarray,
    c0_map: dict[int, float],
    c1_map: dict[int, float],
    w: ScorerWeights,
    lam_const: float = LAMBDA_FLOOR,
    ctx: np.ndarray | None = None,
) -> tuple[float, np.ndarray, int]:
    """One conversation's pseudolikelihood loss and d/d(f, g, h, b).
    Pure numpy — unit-testable against central finite differences.

    With ``ctx`` the unary is the full C1 rho, a·rho_prior + b·ctx
    (ScorerFull.scala:15-104), and ∂φ/∂b = f·ctx is ANALYTIC — the
    reference resorts to finite differences for b
    (FewParamsLearning.scala:426-436, commented out as 'very ugly');
    the affine decomposition makes it exact here. ``a`` is held fixed:
    φ is linear in (f·a, f·b), so fitting a alongside f is a pure scale
    degeneracy (the reference fits both anyway and leans on the
    regularizer to pin it — we drop the redundant coordinate instead).
    Without ``ctx``, ∂/∂b is identically 0 and b rides its prior.

    Composed from the weight-independent ``_pl_prepare`` and the
    per-θ ``_pl_round`` so that multi-round fits can hoist the former."""
    pre = _pl_prepare(
        ents, rho, logpop, surfaces, gold_ent, gold_idx,
        c0_map, c1_map, lam_const, ctx=ctx,
    )
    if pre is None:
        return 0.0, np.zeros(4), 0
    loss, _, grads, n = _pl_round(pre, w)
    return loss, grads, n


def _quantize(x: float) -> int:
    """Spark's ``round(x · 1e9).cast('long')`` reproduced exactly:
    java.math.BigDecimal.valueOf(d) takes the SHORTEST decimal
    representation of the double (Double.toString) and setScale(0,
    HALF_UP) rounds it — Python's repr(float) produces the same shortest
    round-trip decimal string, so Decimal(repr(v)) is the same decimal
    value and ROUND_HALF_UP the same rule. Pinned against the literal
    Spark expression over fuzz + boundary values in
    tests/test_learning.py::test_fused_round_quantizer_matches_spark."""
    from decimal import ROUND_HALF_UP, Decimal

    v = float(np.float64(x) * np.float64(_FIXED))
    return int(Decimal(repr(v)).quantize(Decimal("1"), rounding=ROUND_HALF_UP))


def _prepare_kernel(prepare):
    """Narrow kernel over assembled conversations: ``prepare(gold, cand,
    lam)`` of each conversation with a gold-labelled mention
    (resolve.gold_rows), pickled into one binary cell. A conversation
    that contributes nothing (None) yields no row."""

    def run(batches):
        for pdf in batches:
            out = []
            for conv_id, cand, lam in conversations(pdf):
                gold = gold_rows(cand)
                pre = None if gold.empty else prepare(gold, cand, lam)
                if pre is not None:
                    out.append((conv_id, pickle.dumps(pre, pickle.HIGHEST_PROTOCOL)))
            yield pd.DataFrame(out, columns=["conv_id", "blob"])

    return run


def _round_kernel(conv_round):
    """One round as one Python stage: ``conv_round(pre) → (loss, ids,
    grads, n)`` of every prepared conversation, each value quantized
    (``_quantize``), folded into one row per partition: the loss sum,
    the count of conversations with n > 0 and per-id gradient sums.
    Integer sums are associative, so the merge is bit-identical at any
    partitioning. A partition without conversations yields no row."""

    def run(batches):
        loss = n_convs = 0
        ids, q = [], []
        for pdf in batches:
            for blob in pdf["blob"]:
                conv_loss, conv_ids, grads, n = conv_round(pickle.loads(blob))
                loss += _quantize(conv_loss)
                n_convs += int(n > 0)
                ids.append(conv_ids)
                q += map(_quantize, grads.tolist())
        if ids:
            s = pd.Series(q, dtype=np.int64).groupby(np.concatenate(ids)).sum()
            yield pd.DataFrame({
                "loss": [loss], "n_convs": [n_convs],
                "ids": [s.index.to_numpy(np.int64)], "q": [s.to_numpy(np.int64)],
            })

    return run


def _merge(parts: pd.DataFrame, n_ids: int) -> tuple[int, int, np.ndarray]:
    """The driver total of a round's per-partition rows: (loss, n_convs,
    per-id gradient sums), exact integer additions of one small row per
    partition — bounded by the task width, never by conversations."""
    tot = np.zeros(n_ids, dtype=np.int64)
    for ids, q in zip(parts["ids"], parts["q"]):
        np.add.at(tot, np.asarray(ids, np.int64), np.asarray(q, np.int64))
    return int(parts["loss"].sum()), int(parts["n_convs"].sum()), tot


def pl_fit(
    assembly: DataFrame, prepare, conv_round, record, project,
    theta: np.ndarray, theta0: np.ndarray, sq: np.ndarray,
    n_evals: int, eta: float, reg: float,
) -> tuple[np.ndarray, np.ndarray]:
    """The one fit driver: full-batch AdaGrad ascent over the parameter
    vector θ (one id per entry) on the gold mentions of an assembly
    (resolve.assemble_conversations built with ``gold``). The learner
    supplies ``prepare(gold, cand, lam)`` — a conversation's
    θ-independent state from its gold candidate rows, all its candidate
    rows and its λ rows, or None —, ``conv_round(θ)`` — the
    per-conversation round function at θ, for ``_round_kernel`` —,
    ``record(r, θ, loss, n)`` — its history of evaluation r, the mean
    over the n conversations with n > 0; it returns whether to step —
    and ``project(θ)``. At most ``n_evals`` evaluations run, one Spark
    job each; after each one ``record`` accepts, θ takes the
    AdaGrad-proximal step (FewParamsLearning.scala:819-846)
    g' = g − reg·(θ − θ0), sq' = sq + g'²,
    θ' = project(θ + eta/√(1+sq')·g').
    Returns the final (θ, sq); the prepared conversations are persisted
    for the fit's duration only."""
    # the round view is coalesced to a rows-derived width (~256
    # conversations per task; coalesce never raises the count) — a narrow
    # dependency over the cache, so nothing is recomputed. The count
    # materializes the cache.
    pre = assembly.mapInPandas(_prepare_kernel(prepare), BLOB_SCHEMA).persist()
    try:
        pre_eval = pre.coalesce(pre.count() // 256 + 1)
        for r in range(n_evals):
            parts = pre_eval.mapInPandas(
                _round_kernel(conv_round(theta)), PART_SCHEMA
            ).toPandas()
            loss_q, n, tot = _merge(parts, len(theta))
            loss, g = 0.0, np.zeros(len(theta))
            if n:
                loss, g = loss_q / _FIXED / n, tot / _FIXED / n
            if not record(r, theta, loss, n):
                break
            g = g - reg * (theta - theta0)
            sq = sq + g * g
            theta = project(theta + eta / np.sqrt(1.0 + sq) * g)
    finally:
        release(pre)
    return theta, sq


def _weight_prepare(gold, cand, lam, lam_const: float) -> dict | None:
    """The weight fit's per-conversation prepare: ``_pl_prepare`` of the
    gold mentions (resolve.conv_tensors) and of the λ pairs whose two
    entities are both candidates in the conversation."""
    t = conv_tensors(gold)
    ents = cand["entity"].to_numpy()
    lam = lam[lam["e1"].isin(ents) & lam["e2"].isin(ents)]
    return _pl_prepare(
        t.ents, t.rho, t.logpop, t.surfaces, t.gold_ent, t.gold_idx,
        pair_map(lam, "log_smoothed"), pair_map(lam, "lp_sum"),
        lam_const, ctx=t.ctx,
    )


def _weights_at(theta: np.ndarray) -> ScorerWeights:
    """The shipped weights with θ = (f, g, h, b) in place."""
    return replace(ScorerWeights(), **dict(zip("fghb", map(float, theta))))


def _project(theta: np.ndarray) -> np.ndarray:
    """The box projection of θ = (f, g, h, b)."""
    f, g, h, b = theta
    f = min(max(f, 0.001), 15.0)   # ScorerWeights.scala:127-132
    g = min(max(g, 0.001), 15.0)   # :121-126
    b = min(max(b, 1e-8), 10.0)    # :146-150
    if h * g < -15.0:              # :152-154 — h's only bound
        h = -15.0 / g
    return np.array([f, g, h, b])


def learn_weights(
    assembly: DataFrame,
    n_rounds: int = 20,
    eta: float = 1.0,
    reg: float = 0.01,
    lam_const: float = LAMBDA_FLOOR,
) -> tuple[ScorerWeights, list[dict]]:
    """Full-batch AdaGrad ascent on the regularized pseudolikelihood
    over θ = (f, g, h, b), one Spark job per round (``pl_fit``), with
    the box projection of ScorerWeights.scala:120-154: f,g clamped to
    [0.001, 15], b to [1e-8, 10], h bounded only by h·g ≥ −15.

    The fit reads the gold mentions of an assembly
    (resolve.assemble_conversations built with ``gold``), and only λ
    pairs whose two entities are both candidates in the conversation: a
    gold entity that no mention has as a candidate meets its neighbors
    through the closed-form backoff. b (the context-evidence weight)
    only moves when the assembled candidate table carries a
    ``ctx_evidence`` column (with ``rho`` then being the PRIOR-ONLY
    log p̂(e|m)); otherwise its gradient is identically 0 and the
    regularizer pins it at its prior.

    Returns (fitted weights, history) where history[r] =
    {round, loss, f, g, h, b, n_convs} recorded AFTER round r's update;
    history[0] is the init evaluation (no update). Deterministic at any
    parallelism (see pl_fit). Session conf is left alone."""
    # the fit starts at, and regularizes toward, the shipped weights
    w0 = ScorerWeights()
    theta0 = np.array([w0.f, w0.g, w0.h, w0.b])
    history: list[dict] = []

    def record(r, theta, loss, n):
        w = _weights_at(theta)
        loss -= reg / 2.0 * float(((theta - theta0) ** 2).sum())
        history.append(
            {"round": r, "loss": loss, "f": w.f, "g": w.g, "h": w.h,
             "b": w.b, "n_convs": n}
        )
        return r < n_rounds

    theta, _ = pl_fit(
        assembly, partial(_weight_prepare, lam_const=lam_const),
        lambda theta: partial(_pl_round, w=_weights_at(theta)), record,
        _project, theta0, theta0, np.zeros(4), n_rounds + 1, eta, reg,
    )
    return _weights_at(theta), history
