"""Per-parameter weight learning (param_learning.py) — L4's payload.

Oracles: central finite differences against the numpy kernel's sparse
gradients; a planted wrong-prior corpus where per-parameter capacity is
REQUIRED (no global {f,g,h,b} can fix one surface's preference) and the
fitted tables must flip it; exact determinism across partitionings.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pboh_spark import learning, param_learning, resolve
from pboh_spark.resolve import _pack
from pboh_spark.stats import ScorerWeights

W = ScorerWeights()


# ---------------------------------------------------------------------------
# finite-difference oracle for the sparse gradients
# ---------------------------------------------------------------------------

def _tiny_conv():
    ents = np.array([[1, 2], [10, -1]], dtype=np.int64)
    rho_w = np.array([[np.log(0.7), np.log(0.3)], [np.log(0.9), -1e30]])
    logpop = np.array([[0.5, 0.4], [0.3, 0.0]])
    surfaces = np.array(["foo", "bar"], dtype=object)
    gold_ent = np.array([2, 10], dtype=np.int64)
    gold_idx = np.array([1, 0], dtype=np.int64)
    lam_map = {
        int(_pack(np.array([1]), np.array([10]))[0]): 0.2,
        int(_pack(np.array([2]), np.array([10]))[0]): 0.1,
    }
    train_keys = np.array(sorted(lam_map), dtype=np.int64)
    return ents, rho_w, logpop, surfaces, gold_ent, gold_idx, lam_map, train_keys


def test_rho_gradient_matches_finite_differences():
    ents, rho_w, logpop, surfaces, gold_ent, gold_idx, lam_map, tk = _tiny_conv()
    loss, rho_g, lam_g, n = param_learning._ppl_conv(
        ents, rho_w, logpop, surfaces, gold_ent, gold_idx, lam_map, tk, W
    )
    assert n == 2
    eps = 1e-6
    for (i, a) in [(0, 0), (0, 1), (1, 0)]:
        key = (surfaces[i], int(ents[i, a]))
        up, dn = rho_w.copy(), rho_w.copy()
        up[i, a] += eps
        dn[i, a] -= eps
        lu, *_ = param_learning._ppl_conv(
            ents, up, logpop, surfaces, gold_ent, gold_idx, lam_map, tk, W
        )
        ld, *_ = param_learning._ppl_conv(
            ents, dn, logpop, surfaces, gold_ent, gold_idx, lam_map, tk, W
        )
        fd = (lu - ld) / (2 * eps)
        assert abs(rho_g.get(key, 0.0) - fd) < 1e-6, (key, rho_g.get(key), fd)


def test_lambda_gradient_matches_finite_differences():
    ents, rho_w, logpop, surfaces, gold_ent, gold_idx, lam_map, tk = _tiny_conv()
    _, _, lam_g, _ = param_learning._ppl_conv(
        ents, rho_w, logpop, surfaces, gold_ent, gold_idx, lam_map, tk, W
    )
    eps = 1e-6
    for key in tk:
        up = dict(lam_map)
        dn = dict(lam_map)
        up[key] += eps
        dn[key] -= eps
        lu, *_ = param_learning._ppl_conv(
            ents, rho_w, logpop, surfaces, gold_ent, gold_idx, up, tk, W
        )
        ld, *_ = param_learning._ppl_conv(
            ents, rho_w, logpop, surfaces, gold_ent, gold_idx, dn, tk, W
        )
        fd = (lu - ld) / (2 * eps)
        assert abs(lam_g.get(key, 0.0) - fd) < 1e-6, (key, lam_g.get(key), fd)


# ---------------------------------------------------------------------------
# planted wrong-prior corpus: per-param capacity is the only fix
# ---------------------------------------------------------------------------

A, B = 1, 2  # "foo" candidates: prior favors A, gold is always B


def _planted_corpus(spark, convs):
    """Each conv: mention "foo" (cands A at p=.75 / B at .25, gold B) +
    one context mention with a single unambiguous candidate 10+i. All
    (cand, ctx) entity pairs are in the λ table at potential 0 so the
    ONLY signal separating A from B is the (wrong) prior."""
    cand_rows, lam_rows, mention_rows = [], set(), []
    for c in convs:
        i = int(c[1:])
        ctx = 10 + (i % 4)
        mid_foo, mid_ctx = 1000 + i * 10, 1000 + i * 10 + 1
        cand_rows += [
            (c, mid_foo, A, float(np.log(0.75)), 0.0),
            (c, mid_foo, B, float(np.log(0.25)), 0.0),
            (c, mid_ctx, ctx, float(np.log(0.9)), 0.0),
        ]
        mention_rows += [(mid_foo, "foo"), (mid_ctx, f"ctx{ctx}")]
        for e in (A, B):
            lam_rows.add((min(e, ctx), max(e, ctx)))
    cand = spark.createDataFrame(
        cand_rows, "conv_id string, mention_id long, entity long, "
        "rho double, log_pop double",
    )
    mentions = spark.createDataFrame(mention_rows, "mention_id long, ngram string")
    lam = spark.createDataFrame(
        [(e1, e2, 5, 0.0) for e1, e2 in sorted(lam_rows)],
        "e1 long, e2 long, cocit long, lambda_potential double",
    )
    return cand, mentions, lam


def _accuracy(assign, gold):
    j = assign.join(gold, "mention_id")
    n = j.count()
    ok = j.where(j.entity == j.gold_entity).count()
    return ok / max(n, 1)


def test_param_fit_flips_planted_surface_and_beats_fewparams(spark):
    from pyspark.sql import functions as F

    train = _planted_corpus(spark, [f"c{i}" for i in range(8)])
    hold = _planted_corpus(spark, [f"h{i}" for i in range(100, 104)])
    gold_of = lambda mentions: mentions.select(  # noqa: E731
        "mention_id",
        F.when(F.col("ngram") == "foo", F.lit(B))
        .otherwise(F.expr("cast(substring(ngram, 4, 10) as long)"))
        .alias("gold_entity"),
    )
    cand, mentions, lam = train
    cg = cand.join(mentions, "mention_id").join(
        gold_of(mentions), "mention_id"
    ).select(
        "conv_id", "mention_id", "entity", "rho", "log_pop", "ngram",
        "gold_entity",
    )
    rho_p, lam_p, hist = param_learning.learn_param_tables(
        cg, lam, n_rounds=8, eta=5.0, reg=0.01
    )
    assert len(hist) == 8
    assert hist[-1]["loss"] > hist[0]["loss"]  # ascent
    # all 8 convs have the SAME contributing-mention count, so their loss
    # rows collapse into one merge group — n_convs must sum the group's
    # row count, not count groups (regression: the group-count bug made
    # this 1 and over-scaled every gradient 8×)
    assert hist[0]["n_convs"] == 8
    # the planted surface's parameters must have crossed: w(foo,B) > w(foo,A)
    wmap = {
        (r["ngram"], r["entity"]): r["w"]
        for r in rho_p.collect()
    }
    assert wmap[("foo", B)] > wmap[("foo", A)], wmap

    # holdout serving: per-param tables flip "foo" to gold
    hcand, hmentions, hlam = hold
    hgold = gold_of(hmentions)
    base = resolve.resolve_entities(
        hcand, resolve.conv_lambda_pairs(hcand, hlam)
    )
    served_cand = param_learning.serve_candidates(hcand, hmentions, rho_p)
    served = resolve.resolve_entities(
        served_cand,
        resolve.conv_lambda_pairs(
            served_cand, param_learning.serve_lambda_table(hlam, lam_p)
        ),
    )
    base_acc = _accuracy(base, hgold)
    fit_acc = _accuracy(served, hgold)
    assert base_acc < 1.0  # the prior really is wrong on "foo"
    assert fit_acc == 1.0, (base_acc, fit_acc)

    # few-params {f,g,h,b} fit on the SAME data cannot flip a per-surface
    # preference — holdout accuracy of the per-param fit must be >= it
    # (VERDICT r3 #2 acceptance bar; strictly greater here by design)
    conv_aff = spark.createDataFrame(
        [(e1, e2, 0.0, 0.0) for e1, e2 in
         [(r["e1"], r["e2"]) for r in lam.select("e1", "e2").collect()]],
        "e1 long, e2 long, log_smoothed double, lp_sum double",
    )
    w_fit, _ = learning.learn_weights(
        cg, resolve.conv_lambda_pairs(cand, conv_aff, ("log_smoothed", "lp_sum")),
        n_rounds=8, eta=5.0, reg=0.01,
    )
    few = resolve.resolve_entities(
        hcand, resolve.conv_lambda_pairs(hcand, hlam), weights=w_fit
    )
    few_acc = _accuracy(few, hgold)
    assert fit_acc >= few_acc
    assert few_acc == base_acc  # global weights can't fix a per-surface prior


def test_conv_pair_skeleton_and_probe_semantics(spark):
    """r6 internals pin: the fit hoists the parameter-independent
    conv-pair skeleton (`_conv_entity_pairs`) out of the round loop and
    leaves only the keyed probe (`_conv_lambda_eff`) per round. The
    skeleton must enumerate exactly the ordered pairs of each
    conversation's candidate∪gold entity set (brute-force oracle), and
    the probe must override the table potential with the parameter value
    exactly where a parameter row exists (trainable flag matching)."""
    from pyspark.sql import functions as F

    cand, mentions, lam = _planted_corpus(spark, ["c0", "c1"])
    gold = mentions.select(
        "mention_id",
        F.when(F.col("ngram") == "foo", F.lit(B))
        .otherwise(F.expr("cast(substring(ngram, 4, 10) as long)"))
        .alias("gold_entity"),
    )
    cg = cand.join(mentions, "mention_id").join(gold, "mention_id").select(
        "conv_id", "mention_id", "entity", "rho", "log_pop", "ngram",
        "gold_entity",
    )

    pairs = param_learning._conv_entity_pairs(cg)
    got = {(r["conv_id"], r["e1"], r["e2"]) for r in pairs.collect()}
    pdf = cg.select("conv_id", "entity", "gold_entity").toPandas()
    expect = set()
    for conv, grp in pdf.groupby("conv_id"):
        ents = set(grp["entity"]) | set(grp["gold_entity"])
        expect |= {
            (conv, a, b) for a in ents for b in ents if a <= b
        }
    assert got == expect

    # probe: only e1 == A gets a parameter row, moved off its init value
    lam_p = (
        param_learning.init_lambda_params(lam, min_cocit=4)
        .where(F.col("e1") == A)
        .withColumn("w", F.col("w") + 7.5)
    )
    eff = param_learning._conv_lambda_eff(pairs, lam, lam_p).collect()
    assert eff, "probe produced no rows"
    table_pot = {
        (r["e1"], r["e2"]): r["lambda_potential"]
        for r in lam.collect()
    }
    for r in eff:
        key = (r["e1"], r["e2"])
        assert key in table_pot  # inner probe: only table pairs survive
        if r["e1"] == A:
            assert r["trainable"] and r["lam_eff"] == table_pot[key] + 7.5
        else:
            assert not r["trainable"] and r["lam_eff"] == table_pot[key]
    assert any(r["trainable"] for r in eff)
    assert any(not r["trainable"] for r in eff)


def _planted_cand_gold(spark, convs):
    """_planted_corpus as the fit's (candidates ⋈ gold, λ table) input."""
    from pyspark.sql import functions as F

    cand, mentions, lam = _planted_corpus(spark, convs)
    gold = mentions.select(
        "mention_id",
        F.when(F.col("ngram") == "foo", F.lit(B))
        .otherwise(F.expr("cast(substring(ngram, 4, 10) as long)"))
        .alias("gold_entity"),
    )
    cg = cand.join(mentions, "mention_id").join(gold, "mention_id").select(
        "conv_id", "mention_id", "entity", "rho", "log_pop", "ngram",
        "gold_entity",
    )
    return cg, lam


def test_param_fit_deterministic_across_partitionings(spark):
    cg, lam = _planted_cand_gold(spark, [f"c{i}" for i in range(6)])

    def run(parts):
        rho_p, lam_p, _ = param_learning.learn_param_tables(
            cg.repartition(parts), lam.repartition(max(parts // 2, 1)),
            n_rounds=3, eta=2.0, reg=0.05,
        )
        r = sorted(
            (x["ngram"], x["entity"], x["w"], x["sq"]) for x in rho_p.collect()
        )
        l = sorted(
            (x["e1"], x["e2"], x["w"], x["sq"]) for x in lam_p.collect()
        )
        return r, l

    assert run(1) == run(7)


def test_param_fit_pins_only_its_two_tables(spark):
    """Four rounds leave exactly the two returned parameter tables
    pinned; every superseded table and round slice is released."""
    from pboh_spark.util import release

    cg, lam = _planted_cand_gold(spark, [f"c{i}" for i in range(6)])
    pinned = lambda: set(  # noqa: E731
        spark.sparkContext._jsc.getPersistentRDDs().keys()
    )
    before = pinned()
    rho_p, lam_p, hist = param_learning.learn_param_tables(cg, lam, n_rounds=4)
    assert len(hist) == 4
    assert len(pinned() - before) == 2
    release(rho_p, lam_p)
    assert pinned() - before == set()
