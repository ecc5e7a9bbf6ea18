"""Distributed few-params weight learning (L2/L3) — pseudolikelihood
gradients for the scorer weights {f, g, h, b}, fit with AdaGrad + box
projection.

Reference parity (file:line in /root/reference/src/main/scala/):
* pseudolikelihood log-factor + analytic partials
  learning/FewParamsLearning.scala:289-340 (logFactorAndItsDerivatives):
      log_factor(x,y) = f·rho(x,y) + Σ_{x_j≠x} g·2/(l−1)·λ(y, y_j)
  with the same-surface neighbor guard (``xj != x``, :311), the
  log_factor > 10 discard clamp (:330-338), and the l ∈ (1, 25] doc
  guard (:364).
* loss = Σ_x (1/l)·[log_factor(x,y_gold) − log Z_x],
  Z_x = Σ_{y'∈cands(x)} e^{log_factor(x,y')} — :387-500 (the max-shift
  underflow trick :448-460 is numpy logsumexp here).
* AdaGrad accumulation eta/√(1+Σg²) + update — :819-846.
* box projection g,f ∈ [0.001, 15], b ∈ [1e-8, 10], and the h·g ≥ −15
  guard (h = −15/g when violated) — loopybeliefpropagation/
  ScorerWeights.scala:120-154.
* distributed round merge — learning/Learning.scala:296-361: per-worker
  partial results reduced, then one driver-side update per round.

Spark recast: the reference runs per-worker *stochastic* SGD and merges
weight deltas; here each round is ONE deterministic full-batch job. One
narrow ``mapInPandas`` over the conversation assembly
(resolve.assemble_conversations, which LBP and the parameter fit read
too) prepares the weight-independent per-conversation contractions once
per fit through resolve.conv_tensors; each round is then a
shuffle-free ``mapInPandas`` that evaluates loss/gradients and
partial-sums them per partition, AdaGrad'd driver-side. Same merge
topology, but reproducible: results are bit-identical at any
partitioning because per-conversation float results are quantized to
integer 1e-9 units before the (order-independent) long sum — float
addition order across partitions can never leak into the fitted weights,
which is what makes the golden-oracle contract query possible.

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
) -> dict:
    """Weight-INDEPENDENT half of the pseudolikelihood kernel: the λ
    affine-coefficient probes and the neighbor-sum contractions depend
    only on the conversation's tensors, never on θ = (f, g, h, b), so a
    multi-round fit computes them ONCE per conversation and re-evaluates
    only ``_pl_round`` per round (the r6 optimization; the per-round
    arithmetic is unchanged, see _pl_conv)."""
    L, K = ents.shape
    if L < 2 or L > MAX_DOC:
        return {"skip": True}
    valid = ents >= 0
    # gold log-pop per neighbor (0.0 when gold is outside the candidate set)
    gold_lp = np.where(
        gold_idx >= 0, logpop[np.arange(L), np.maximum(gold_idx, 0)], 0.0
    )
    # λ affine coefficients between candidate (i,a) and gold of j
    keys = _pack(
        np.broadcast_to(ents[:, :, None], (L, K, L)),
        np.broadcast_to(gold_ent[None, None, :], (L, K, L)),
    ).ravel()
    ks = pd.Series(keys)
    c0 = ks.map(c0_map).to_numpy(np.float64).reshape(L, K, L)
    c1 = ks.map(c1_map).to_numpy(np.float64).reshape(L, K, L)
    lp_sum_default = logpop[:, :, None] + gold_lp[None, None, :]
    c0 = np.where(np.isnan(c0), lam_const + lp_sum_default, c0)
    c1 = np.where(np.isnan(c1), lp_sum_default, c1)
    # neighbor mask: xj != x (string guard, :311) — drops i==j too
    mask = (surfaces[:, None] != surfaces[None, :]).astype(np.float64)
    pair0 = np.einsum("ikj,ij->ik", c0, mask)  # Σ_j c0[i,a,j]
    pair1 = np.einsum("ikj,ij->ik", c1, mask)
    return {
        "skip": False,
        "rho": rho,
        "ctx": ctx,
        "pair0": pair0,
        "pair1": pair1,
        "valid": valid,
        "gold_idx": gold_idx,
        "L": L,
    }


def _pl_round(pre: dict, w: ScorerWeights) -> tuple[float, np.ndarray, int]:
    """Weight-DEPENDENT half: evaluate loss + analytic ∂(f, g, h, b) at θ
    from the precomputed contractions. Bit-identical to the former fused
    kernel — same operations in the same order on the same float64
    tensors, only hoisted out of the per-round loop."""
    if pre["skip"]:
        return 0.0, np.zeros(4), 0
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
    contrib = gold_idx >= 0
    n = int(contrib.sum())
    if n == 0:
        return 0.0, np.zeros(4), 0
    idx = np.where(contrib)[0]
    gidx = gold_idx[idx]
    mx = phi[idx].max(axis=1, keepdims=True)
    zexp = np.where(valid[idx], np.exp(phi[idx] - mx), 0.0)
    z = zexp.sum(axis=1, keepdims=True)
    lse = (np.log(z) + mx)[:, 0]
    p = zexp / z
    loss = float(((phi[idx, gidx] - lse) / L).sum())
    grads = np.zeros(4)
    for gi, d in enumerate((d_f, d_g, d_h, d_b)):
        dm = np.where(valid[idx], d[idx], 0.0)
        grads[gi] = float(
            ((d[idx, gidx] - (p * dm).sum(axis=1)) / L).sum()
        )
    return loss, grads, n


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
    return _pl_round(
        _pl_prepare(
            ents, rho, logpop, surfaces, gold_ent, gold_idx,
            c0_map, c1_map, lam_const, ctx=ctx,
        ),
        w,
    )


def _prepare_kernel(lam_const: float):
    """Narrow kernel over assembled conversations: per conversation with
    a gold-labelled mention, ``_pl_prepare`` of its gold mentions
    (resolve.conv_tensors) and of the λ pairs whose two entities are
    both candidates in the conversation, pickled into one binary cell.
    Conversations that contribute nothing (``skip``) yield no row."""

    def prepare(batches):
        for pdf in batches:
            out = []
            for conv_id, cand, lam in conversations(pdf):
                gold = gold_rows(cand)
                if gold.empty:
                    continue
                t = conv_tensors(gold)
                ents = cand["entity"].to_numpy()
                lam = lam[lam["e1"].isin(ents) & lam["e2"].isin(ents)]
                pre = _pl_prepare(
                    t.ents, t.rho, t.logpop, t.surfaces, t.gold_ent, t.gold_idx,
                    pair_map(lam, "log_smoothed"), pair_map(lam, "lp_sum"),
                    lam_const, ctx=t.ctx,
                )
                if not pre["skip"]:
                    out.append((conv_id, pickle.dumps(pre, pickle.HIGHEST_PROTOCOL)))
            yield pd.DataFrame(out, columns=["conv_id", "blob"])

    return prepare


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


PART_SCHEMA = (
    "loss long, g_f long, g_g long, g_h long, g_b long, n_convs long"
)
_QCOLS = ("loss", "g_f", "g_g", "g_h", "g_b")


def _fused_round_kernel(w: ScorerWeights):
    """Single-stage round kernel (r6): evaluate every conversation's
    ``_pl_round`` at θ AND fold the fixed-point merge's per-partition
    partial sums inside the same Python task — one row out per
    partition, no exchange, no second stage. The quantization is the
    same HALF_UP long as the former Spark-side
    ``sum(round(col·1e9).cast(long))`` (see ``_quantize``), and long
    partial sums per partition + a driver total equal the global long
    sum by integer associativity — the merge stays bit-identical at any
    partitioning."""
    def ev(batches):
        acc = [0, 0, 0, 0, 0, 0]
        seen = False
        for pdf in batches:
            seen = True
            for blob in pdf["blob"]:
                loss, g, n = _pl_round(pickle.loads(bytes(blob)), w)
                acc[0] += _quantize(loss)
                for i in range(4):
                    acc[1 + i] += _quantize(g[i])
                if n > 0:
                    acc[5] += 1
        if seen:
            yield pd.DataFrame([acc], columns=list(_QCOLS) + ["n_convs"])

    return ev


def learn_weights(
    assembly: DataFrame,
    n_rounds: int = 20,
    eta: float = 1.0,
    reg: float = 0.01,
    lam_const: float = LAMBDA_FLOOR,
) -> tuple[ScorerWeights, list[dict]]:
    """Full-batch AdaGrad ascent on the regularized pseudolikelihood
    over θ = (f, g, h, b). One Spark job per round (the distributed-SGD
    round/merge shape, Learning.scala:296-361); the AdaGrad state and
    box projection live on the driver (FewParamsLearning.scala:819-849,
    ScorerWeights.scala:120-154: f,g clamped to [0.001, 15], b to
    [1e-8, 10], h bounded only by h·g ≥ −15).

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
    {round, loss, f, g, h, b} recorded AFTER round r's update;
    history[0] is the init evaluation (no update). Deterministic at any
    parallelism (see _fused_round_kernel). Session conf is left alone."""
    # the fit starts at, and regularizes toward, the shipped weights
    w = ScorerWeights()
    pr = np.array([w.f, w.g, w.h, w.b])
    # the λ probes and neighbor-sum contractions are weight-independent:
    # one narrow pass over the assembly prepares them, persisted for the
    # fit's duration; each round is then a mapInPandas over the small
    # contraction table. The round view is coalesced to a rows-derived
    # width (~256 conversations per task; coalesce never raises the
    # count) — a narrow dependency over the cache, so nothing is
    # recomputed, and the quantized integer merge makes the result
    # partitioning-independent by construction. The count materializes
    # the cache.
    pre = assembly.mapInPandas(_prepare_kernel(lam_const), BLOB_SCHEMA).persist()
    pre_eval = pre.coalesce(pre.count() // 256 + 1)
    sq = np.zeros(4)
    history: list[dict] = []
    try:
        for r in range(n_rounds + 1):
            # r6: one-stage round — the kernel quantizes and partial-sums
            # per partition (see _fused_round_kernel); the driver totals
            # the per-partition longs (exact integer addition, one small
            # row per partition — bounded by the cluster's task width,
            # never by conversations). Replaces a 2-stage agg + exchange
            # per round; measured −0.2 s/round locally, bit-identical.
            rows = pre_eval.mapInPandas(
                _fused_round_kernel(w), PART_SCHEMA
            ).collect()
            n = sum(int(r_["n_convs"]) for r_ in rows)
            if n == 0:
                loss, g = 0.0, np.zeros(4)
            else:
                tot = [sum(int(r_[c]) for r_ in rows) for c in _QCOLS]
                loss = tot[0] / _FIXED / n
                g = np.array(tot[1:5], dtype=np.float64) / _FIXED / n
            theta = np.array([w.f, w.g, w.h, w.b])
            loss -= reg / 2.0 * float(((theta - pr) ** 2).sum())
            history.append(
                {"round": r, "loss": loss, "f": w.f, "g": w.g, "h": w.h,
                 "b": w.b, "n_convs": n}
            )
            if r == n_rounds:
                break
            g = g - reg * (theta - pr)
            sq += g * g
            theta = theta + eta / np.sqrt(1.0 + sq) * g  # ascent, :841-846
            f, gg, h, b = theta
            f = min(max(f, 0.001), 15.0)   # ScorerWeights.scala:127-132
            gg = min(max(gg, 0.001), 15.0)  # :121-126
            b = min(max(b, 1e-8), 10.0)     # :146-150
            if h * gg < -15.0:              # :152-154 — h's only bound
                h = -15.0 / gg
            w = replace(w, f=float(f), g=float(gg), h=float(h), b=float(b))
    finally:
        release(pre)
    return w, history
