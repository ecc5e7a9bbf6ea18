"""The conversation assembly (resolve.assemble_conversations) and the
three kernels that read it: each equals its own per-conversation
reference on the probe that kernel is defined over, on adversarial
conversations — LBP (resolve._solve_conv over all mentions and the
candidate pairs), the weight fit (learning._pl_conv over the gold
mentions and the pairs of two candidate entities) and the parameter fit
(param_learning._ppl_conv over the gold mentions and the candidate ∪
gold pairs)."""

from __future__ import annotations

from dataclasses import replace
from functools import partial

import numpy as np
import pandas as pd
import pytest

from pboh_spark import learning, param_learning, resolve
from pboh_spark.resolve import NEG, _pack, conv_tensors
from pboh_spark.stats import ScorerWeights
from pboh_spark.util import release

W = ScorerWeights()
FIT = replace(W, f=1.3, g=0.8, h=0.41)  # "fitted" weights: λ is taken at h
LAM_CONST = -3.0
CAND = (
    "conv_id string, mention_id long, entity long, rho double, "
    "log_pop double, ngram string, gold_entity long"
)
LAM = (
    "e1 long, e2 long, cocit long, lambda_potential double, "
    "log_smoothed double, lp_sum double"
)


def _corpus(spark):
    """Candidate rows (ngram and gold per mention; gold None: unlabelled)
    and a λ table whose stored potential is NOT λ at the default h, so
    a kernel that reads the wrong one of the two shows.

    one        a single mention
    long       MAX_DOC + 1 mentions
    nogold     a gold entity (77) outside every candidate set, with
               stored pairs (20, 77) and (21, 77): a gold-only entity
    untrained  λ pairs with cocit < 4 only
    mixed      an unlabelled mention whose candidates co-occur with the
               labelled ones (LBP reads it, the fits do not)
    repeat     a recurring surface
    c0, c1     the overridden keys: rho (foo, 1) and λ (1, 10)"""
    lp = lambda e: 0.1 * (e % 7)  # noqa: E731
    log = lambda p: float(np.log(p))  # noqa: E731
    rows = [("one", 1, 50, log(0.5), lp(50), "solo", 50)]
    for k in range(learning.MAX_DOC + 1):
        m, e = 100 + k, 60 + k
        rows += [("long", m, e, log(0.6), lp(e), f"w{k}", e),
                 ("long", m, 99, log(0.4), lp(99), f"w{k}", e)]
    rows += [
        ("nogold", 200, 1, log(0.75), lp(1), "foo", 77),
        ("nogold", 200, 2, log(0.25), lp(2), "foo", 77),
        ("nogold", 201, 20, log(0.5), lp(20), "bar", 21),
        ("nogold", 201, 21, log(0.5), lp(21), "bar", 21),
        ("untrained", 300, 30, log(0.6), lp(30), "baz", 31),
        ("untrained", 300, 31, log(0.4), lp(31), "baz", 31),
        ("untrained", 301, 32, log(0.7), lp(32), "qux", 32),
        ("untrained", 301, 33, log(0.3), lp(33), "qux", 32),
        ("mixed", 400, 40, log(0.6), lp(40), "foo", None),
        ("mixed", 400, 41, log(0.4), lp(41), "foo", None),
        ("mixed", 401, 42, log(0.5), lp(42), "qux", 43),
        ("mixed", 401, 43, log(0.5), lp(43), "qux", 43),
        ("mixed", 402, 10, log(0.9), lp(10), "ctx10", 10),
    ]
    for m in (500, 501):
        rows += [("repeat", m, 1, log(0.75), lp(1), "foo", 2),
                 ("repeat", m, 2, log(0.25), lp(2), "foo", 2)]
    rows += [("repeat", 502, 10, log(0.9), lp(10), "ctx10", 10)]
    for c in ("c0", "c1"):
        base = 600 if c == "c0" else 700
        rows += [(c, base, 1, log(0.75), lp(1), "foo", 2),
                 (c, base, 2, log(0.25), lp(2), "foo", 2),
                 (c, base + 1, 10, log(0.9), lp(10), "ctx10", 10)]
    pairs = [
        (1, 10, 5, 0.3), (2, 10, 5, -0.1), (20, 77, 5, 0.3), (21, 77, 5, -0.2),
        (1, 21, 5, 0.2), (2, 21, 1, 0.1), (30, 32, 1, 0.4), (31, 32, 2, -0.3),
        (31, 33, 0, 0.5), (60, 99, 5, 0.1), (40, 42, 6, 0.7), (41, 43, 6, -0.4),
        (10, 40, 5, 0.2), (10, 43, 5, 0.6), (10, 10, 9, 1.1),
    ]
    # lp_sum ≠ 0 and a stored potential off the default-h value
    lam = [(a, b, c, v + 0.05, v, 0.1 * (a % 5) + 0.2 * (b % 3))
           for a, b, c, v in pairs]
    return spark.createDataFrame(rows, CAND), spark.createDataFrame(lam, LAM)


def _pk(a, b) -> int:
    return int(_pack(np.array([a]), np.array([b]))[0])


def _table_value(r, weights) -> float:
    if weights is None:
        return r["lambda_potential"]
    return r["log_smoothed"] - weights.h * r["lp_sum"]


def _probe(ents, table, weights, over=None) -> dict[int, float]:
    """The λ-table pairs among ``ents`` (packed), at ``weights``, with
    learned overrides."""
    out = {}
    for _, r in table.iterrows():
        if r["e1"] in ents and r["e2"] in ents:
            k = _pk(r["e1"], r["e2"])
            out[k] = (over or {}).get(k, _table_value(r, weights))
    return out


@pytest.fixture(scope="module")
def parity(spark, assemble):
    cand, lam = _corpus(spark)
    asm = assemble(cand, lam).localCheckpoint()
    yield asm, cand.toPandas(), lam.toPandas()
    release(asm)


def _by_conv(df: pd.DataFrame) -> dict:
    return {c: g for c, g in df.groupby("conv_id")}


def test_assembly_rows(parity):
    """One row per conversation: its candidate rows with ngram and gold
    (−1: none), and the λ-table pairs among its candidate ∪ gold
    entities with all three λ columns."""
    asm, cand, lam = parity
    got = {c: (cr, lr) for c, cr, lr in resolve.conversations(asm.toPandas())}
    assert set(got) == set(cand["conv_id"])
    for conv, grp in _by_conv(cand).items():
        cr, lr = got[conv]
        key = ["mention_id", "entity"]
        want = grp.drop(columns="conv_id").assign(
            gold_entity=grp["gold_entity"].fillna(-1).astype(np.int64)
        ).sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(
            cr.sort_values(key).reset_index(drop=True)[want.columns], want,
            check_dtype=False,
        )
        ents = set(grp["entity"]) | set(grp["gold_entity"].dropna().astype(int))
        want_pairs = {
            (r["e1"], r["e2"]): (r["lambda_potential"], r["log_smoothed"], r["lp_sum"])
            for _, r in lam.iterrows() if r["e1"] in ents and r["e2"] in ents
        }
        assert {
            (r["e1"], r["e2"]): (r["lambda_potential"], r["log_smoothed"], r["lp_sum"])
            for _, r in lr.iterrows()
        } == want_pairs, conv
    nogold = got["nogold"][1]
    assert {(20, 77), (21, 77)} <= set(zip(nogold["e1"], nogold["e2"]))


@pytest.mark.parametrize("weights", [None, FIT], ids=["stored", "fitted"])
@pytest.mark.parametrize("max_product", [True, False])
def test_lbp_kernel_matches_solve_conv(parity, weights, max_product):
    """LBP over the assembly equals _solve_conv over every mention, with
    the candidate pairs' λ (stored, or at the fitted h), learned rho and
    λ overrides applied by key."""
    asm, cand, lam = parity
    rho_over = {("foo", 1): -0.05, ("ctx10", 10): -0.7}
    lam_over = {_pk(1, 10): 2.5, _pk(10, 43): -1.5}
    solve = resolve._lbp_kernel(weights, max_product, LAM_CONST, rho_over, lam_over)
    got = pd.concat(list(solve(iter([asm.toPandas()]))))
    w = weights or W
    n = 0
    for conv, grp in _by_conv(cand).items():
        served = grp.assign(rho=[
            rho_over.get((s, e), r)
            for s, e, r in zip(grp["ngram"], grp["entity"], grp["rho"])
        ])
        t = conv_tensors(served.drop(columns="gold_entity"))
        best, score, iters, ok = resolve._solve_conv(
            t.ents, t.rho, _probe(set(grp["entity"]), lam, weights, lam_over),
            w, max_product, logpop=t.logpop, lam_const=LAM_CONST,
        )
        g = got[got["conv_id"] == conv].sort_values("mention_id")
        assert g["mention_id"].tolist() == t.mids.tolist(), conv
        assert g["entity"].tolist() == t.ents[np.arange(len(t.mids)), best].tolist()
        assert g["score"].tolist() == score.tolist(), conv
        assert (g["n_iters"] == iters).all() and (g["converged"] == ok).all()
        n += len(g)
    assert n == len(got) == cand["mention_id"].nunique()


def test_weight_fit_kernel_matches_pl_conv(parity):
    """The weight fit's prepare pass and round over the assembly equal
    _pl_conv over the gold mentions and the pairs of two candidate
    entities: a stored pair with a gold-only entity backs off."""
    asm, cand, lam = parity
    prepared = asm.mapInPandas(
        learning._prepare_kernel(
            partial(learning._weight_prepare, lam_const=LAM_CONST)
        ),
        resolve.BLOB_SCHEMA,
    ).toPandas()
    ev = learning._round_kernel(partial(learning._pl_round, w=FIT))
    q = learning._quantize
    seen = set()
    for conv, grp in _by_conv(cand).items():
        t = conv_tensors(grp[grp["gold_entity"].notna()])
        ents = set(grp["entity"])
        both = lam[lam["e1"].isin(ents) & lam["e2"].isin(ents)]
        loss, g, n = learning._pl_conv(
            t.ents, t.rho, t.logpop, t.surfaces, t.gold_ent, t.gold_idx,
            resolve.pair_map(both, "log_smoothed"), resolve.pair_map(both, "lp_sum"),
            FIT, lam_const=LAM_CONST,
        )
        row = prepared[prepared["conv_id"] == conv]
        if row.empty:
            assert n == 0 and conv in ("one", "long"), conv
            continue
        seen.add(conv)
        out = next(ev(iter([row]))).iloc[0]
        assert out["n_convs"] == int(n > 0)
        assert out["ids"].tolist() == [0, 1, 2, 3]
        assert [out["loss"], *out["q"]] == [q(loss)] + [q(x) for x in g]
    assert {"nogold", "mixed", "untrained", "repeat", "c0"} <= seen


def test_param_fit_kernel_matches_ppl_conv_at_fitted_h(parity):
    """The parameter fit's prepare pass and round over the assembly, at
    fitted weights and moved parameters, equal _ppl_conv over the gold
    mentions and the candidate ∪ gold pairs with λ at the fitted h."""
    asm, cand, lam = parity
    lam_h = lam.assign(lambda_potential=lam["log_smoothed"] - FIT.h * lam["lp_sum"])
    gold = cand[cand["gold_entity"].notna()]
    rho_t = (
        gold.groupby(["ngram", "entity"], as_index=False)["rho"].min()
        .rename(columns={"rho": "w"})
    )
    lam_t = lam_h[lam_h["cocit"] >= 4][["e1", "e2", "lambda_potential"]].rename(
        columns={"lambda_potential": "w"}
    ).reset_index(drop=True)
    rho_w = rho_t["w"].to_numpy(np.float64).copy()
    lam_w = lam_t["w"].to_numpy(np.float64).copy()
    rho_keys = list(zip(rho_t["ngram"], rho_t["entity"]))
    lam_keys = [_pk(a, b) for a, b in zip(lam_t["e1"], lam_t["e2"])]
    rho_w[rho_keys.index(("foo", 1))] -= 0.4
    lam_w[lam_keys.index(_pk(1, 10))] += 3.0
    prepared = asm.mapInPandas(
        learning._prepare_kernel(
            param_learning._param_prepare(rho_t, lam_t, FIT, LAM_CONST)
        ),
        resolve.BLOB_SCHEMA,
    ).toPandas()
    n_rho = len(rho_w)
    ev = learning._round_kernel(
        param_learning._param_round(FIT, np.concatenate([rho_w, lam_w]), n_rho)
    )
    q = learning._quantize
    rho_eff = dict(zip(rho_keys, rho_w))
    train = dict(zip(lam_keys, lam_w))
    seen = set()
    for conv, grp in _by_conv(gold).items():
        t = conv_tensors(grp)
        rw = np.array([[rho_eff.get((s, e), NEG) for e in row]
                       for s, row in zip(t.surfaces, t.ents.tolist())])
        ents = set(grp["entity"]) | set(grp["gold_entity"].astype(int))
        loss, rho_g, lam_g, n = param_learning._ppl_conv(
            t.ents, rw, t.logpop, t.surfaces, t.gold_ent, t.gold_idx,
            _probe(ents, lam, FIT, train), np.array(sorted(train), np.int64),
            FIT, LAM_CONST,
        )
        row = prepared[prepared["conv_id"] == conv]
        if n == 0:
            assert row.empty, conv
            continue
        seen.add(conv)
        out = next(ev(iter([row]))).iloc[0]
        assert out["loss"] == q(loss), conv
        keys = rho_keys + lam_keys  # the λ ids follow the rho ids
        assert dict(zip((keys[i] for i in out["ids"]), out["q"])) == {
            k: q(v) for k, v in (*rho_g.items(), *lam_g.items())
        }, conv
    assert {"nogold", "mixed", "untrained", "repeat", "c0"} <= seen
