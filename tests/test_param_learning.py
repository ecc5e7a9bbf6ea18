"""Per-parameter weight learning (param_learning.py) — L4's payload.

Oracles: central finite differences against the numpy kernel's sparse
gradients; a planted wrong-prior corpus where per-parameter capacity is
REQUIRED (no global {f,g,h,b} can fix one surface's preference) and the
fitted tables must flip it; exact determinism across partitionings;
the fit's round kernel against _ppl_conv and a brute-force loss.
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
from pboh_spark.util import release

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
LAM_SCHEMA = (
    "e1 long, e2 long, cocit long, lambda_potential double, "
    "log_smoothed double, lp_sum double"
)


def _planted_corpus(spark, convs):
    """Each conv: mention "foo" (cands A at p=.75 / B at .25, gold B) +
    one context mention with a single unambiguous candidate 10+i. All
    (cand, ctx) entity pairs are in the λ table at potential 0 (λ(h) = 0
    at every h) so the ONLY signal separating A from B is the (wrong)
    prior. Returns (candidates, mentions, λ table)."""
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
        [(e1, e2, 5, 0.0, 0.0, 0.0) for e1, e2 in sorted(lam_rows)],
        LAM_SCHEMA,
    )
    return cand, mentions, lam


def _accuracy(assign, gold):
    j = assign.join(gold, "mention_id")
    n = j.count()
    ok = j.where(j.entity == j.gold_entity).count()
    return ok / max(n, 1)


def _gold_of(mentions):
    """(mention_id, gold_entity) of the planted corpus."""
    from pyspark.sql import functions as F

    return mentions.select(
        "mention_id",
        F.when(F.col("ngram") == "foo", F.lit(B))
        .otherwise(F.expr("cast(substring(ngram, 4, 10) as long)"))
        .alias("gold_entity"),
    )


def test_param_fit_flips_planted_surface_and_beats_fewparams(spark, assemble):
    train = _planted_cand_gold(spark, [f"c{i}" for i in range(8)])
    asm = assemble(*train)
    rho_p, lam_p, hist = param_learning.learn_param_tables(
        asm, train[1], n_rounds=8, eta=5.0, reg=0.01
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
    hcand, hmentions, hlam = _planted_corpus(
        spark, [f"h{i}" for i in range(100, 104)]
    )
    hgold = _gold_of(hmentions)
    held = resolve.assemble_conversations(hcand, hmentions, hlam)
    base = resolve.resolve_entities(held)
    served = resolve.resolve_entities(held, params=(rho_p, lam_p))
    base_acc = _accuracy(base, hgold)
    fit_acc = _accuracy(served, hgold)
    assert base_acc < 1.0  # the prior really is wrong on "foo"
    assert fit_acc == 1.0, (base_acc, fit_acc)

    # few-params {f,g,h,b} fit on the SAME data cannot flip a per-surface
    # preference — holdout accuracy of the per-param fit must be >= it
    # (VERDICT r3 #2 acceptance bar; strictly greater here by design)
    w_fit, _ = learning.learn_weights(asm, n_rounds=8, eta=5.0, reg=0.01)
    few = resolve.resolve_entities(held, weights=w_fit)
    few_acc = _accuracy(few, hgold)
    assert fit_acc >= few_acc
    assert few_acc == base_acc  # global weights can't fix a per-surface prior


def _planted_cand_gold(spark, convs):
    """_planted_corpus as (candidates with ngram and gold, λ table), the
    ``assemble`` fixture's input."""
    cand, mentions, lam = _planted_corpus(spark, convs)
    cg = cand.join(mentions, "mention_id").join(
        _gold_of(mentions), "mention_id"
    ).select(
        "conv_id", "mention_id", "entity", "rho", "log_pop", "ngram",
        "gold_entity",
    )
    return cg, lam


def test_param_fit_deterministic_across_partitionings(spark, assemble):
    cg, lam = _planted_cand_gold(spark, [f"c{i}" for i in range(6)])
    asm = assemble(cg, lam)

    def run(parts):
        rho_p, lam_p, _ = param_learning.learn_param_tables(
            asm.repartition(parts), lam.repartition(max(parts // 2, 1)),
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


def test_param_fit_pins_only_its_two_tables(spark, assemble):
    """Four rounds leave nothing pinned: the prepared conversations are
    released, and the two returned tables are local relations."""
    cg, lam = _planted_cand_gold(spark, [f"c{i}" for i in range(6)])
    asm = assemble(cg, lam)
    pinned = lambda: set(  # noqa: E731
        spark.sparkContext._jsc.getPersistentRDDs().keys()
    )
    before = pinned()
    rho_p, lam_p, hist = param_learning.learn_param_tables(asm, lam, n_rounds=4)
    assert len(hist) == 4
    assert pinned() - before == set()


def test_param_fit_job_count(spark, jobs_in_group, assemble):
    """A one-round fit on a materialized assembly costs 7 Spark jobs:
    the two initial-table collects (the rho table's aggregation over the
    assembly is two), the prepare pass's count and the round."""
    cg, lam = _planted_cand_gold(spark, [f"c{i}" for i in range(6)])
    # count the fit's jobs, not its inputs'
    asm, lam = assemble(cg, lam).localCheckpoint(), lam.localCheckpoint()
    with jobs_in_group("param_fit") as jobs:
        param_learning.learn_param_tables(asm, lam, n_rounds=1)
    release(asm, lam)
    assert len(jobs) == 7


def test_weight_fit_job_count(spark, jobs_in_group, assemble):
    """A one-round weight fit on the same materialized assembly costs 5
    Spark jobs: the prepare pass's count (three) and two evaluations,
    the init one and the one after the update."""
    cg, lam = _planted_cand_gold(spark, [f"c{i}" for i in range(6)])
    asm = assemble(cg, lam).localCheckpoint()
    with jobs_in_group("weight_fit") as jobs:
        learning.learn_weights(asm, n_rounds=1)
    release(asm)
    assert len(jobs) == 5


# ---------------------------------------------------------------------------
# the fit's per-round kernel against _ppl_conv and a brute-force loss
# ---------------------------------------------------------------------------

LAM_CONST = -3.0  # a moderate backoff, so every term stays finite


def _edge_cand_gold(spark):
    """The planted corpus plus five edge conversations: one mention
    ("one"), MAX_DOC + 1 mentions ("long"), a gold entity without a
    candidate row ("nogold"), no trainable λ key ("untrained") and a
    recurring surface ("repeat"). Popularities differ, so the backoff
    separates candidates."""
    cg, lam = _planted_cand_gold(spark, ["c0", "c1"])
    lp = lambda e: 0.1 * (e % 7)  # noqa: E731
    rows = [("one", 5000, 50, float(np.log(0.5)), lp(50), "solo", 50)]
    for k in range(learning.MAX_DOC + 1):
        m, e = 6000 + k, 60 + k
        rows += [("long", m, e, float(np.log(0.6)), lp(e), f"w{k}", e),
                 ("long", m, 99, float(np.log(0.4)), lp(99), f"w{k}", e)]
    rows += [
        ("nogold", 7000, A, float(np.log(0.75)), lp(A), "foo", 77),
        ("nogold", 7000, B, float(np.log(0.25)), lp(B), "foo", 77),
        ("nogold", 7001, 20, float(np.log(0.5)), lp(20), "bar", 21),
        ("nogold", 7001, 21, float(np.log(0.5)), lp(21), "bar", 21),
        ("untrained", 8000, 30, float(np.log(0.6)), lp(30), "baz", 31),
        ("untrained", 8000, 31, float(np.log(0.4)), lp(31), "baz", 31),
        ("untrained", 8001, 32, float(np.log(0.7)), lp(32), "qux", 32),
        ("untrained", 8001, 33, float(np.log(0.3)), lp(33), "qux", 32),
    ]
    for m in (9000, 9001):
        rows += [("repeat", m, A, float(np.log(0.75)), lp(A), "foo", B),
                 ("repeat", m, B, float(np.log(0.25)), lp(B), "foo", B)]
    rows += [("repeat", 9002, 10, float(np.log(0.9)), lp(10), "ctx10", 10)]
    cg = cg.unionByName(spark.createDataFrame(rows, cg.schema))
    lam = lam.unionByName(spark.createDataFrame(
        [(e1, e2, c, v, v, 0.0) for e1, e2, c, v in (
            (20, 77, 5, 0.3), (21, 77, 5, -0.2), (A, 21, 5, 0.2),
            (B, 21, 1, 0.1), (30, 32, 1, 0.4), (31, 32, 2, -0.3),
            (31, 33, 0, 0.5), (60, 99, 5, 0.1))],
        lam.schema,
    ))
    return cg, lam


def _brute_loss(conv: pd.DataFrame, rho_w: dict, lam_eff: dict) -> float:
    """One conversation's pseudolikelihood loss by explicit loops over
    mentions, candidates and differently-named neighbors."""
    ms = {
        m: (g["ngram"].iloc[0], int(g["gold_entity"].iloc[0]),
            dict(zip(g["entity"].astype(int), g["log_pop"])))
        for m, g in conv.groupby("mention_id")
    }
    L = len(ms)
    if not 1 < L <= learning.MAX_DOC:
        return 0.0
    loss = 0.0
    for s, gold, cands in ms.values():
        if gold not in cands:
            continue
        phi = {}
        for e, lp in cands.items():
            tot = 0.0
            for sj, gj, cj in ms.values():
                if sj == s:
                    continue
                tot += lam_eff.get(
                    (min(e, gj), max(e, gj)),
                    LAM_CONST + (1 - W.h) * (lp + cj.get(gj, 0.0)),
                )
            v = W.f * rho_w[(s, e)] + W.g * 2.0 / (L - 1) * tot
            phi[e] = 0.0 if v > learning.CLAMP else v
        loss += (phi[gold] - np.log(sum(np.exp(v) for v in phi.values()))) / L
    return loss


def test_round_kernel_matches_ppl_conv(spark, assemble):
    """The fit's per-round kernel, run on each prepared conversation at
    parameters moved off their init values, returns _ppl_conv's
    quantized loss and gradients key by key, and the brute-force loss.
    The assembly's λ rows are exactly the λ-table pairs among each
    conversation's candidate ∪ gold entities, with the table
    potential."""
    from pboh_spark.resolve import NEG, conv_tensors

    q = learning._quantize
    cg, lam = _edge_cand_gold(spark)
    asm = assemble(cg, lam).localCheckpoint()
    rho_t = param_learning.init_rho_params(asm).toPandas()
    lam_t = param_learning.init_lambda_params(lam, min_cocit=4).toPandas()
    rho_keys = list(zip(rho_t["ngram"], rho_t["entity"]))
    lam_ids = {k: i for i, k in enumerate(zip(lam_t["e1"], lam_t["e2"]))}
    rho_w = rho_t["w"].to_numpy(np.float64)
    lam_w = lam_t["w"].to_numpy(np.float64)
    rho_w[rho_keys.index(("foo", A))] -= 0.4
    lam_w[lam_ids[(A, 10)]] += 7.5

    blobs = dict(asm.mapInPandas(
        learning._prepare_kernel(
            param_learning._param_prepare(rho_t, lam_t, None, LAM_CONST)
        ),
        resolve.BLOB_SCHEMA,
    ).collect())
    got = {
        (conv, e1, e2): v
        for conv, _, pairs in resolve.conversations(asm.toPandas())
        for e1, e2, v in zip(pairs["e1"], pairs["e2"], pairs["lambda_potential"])
    }
    release(asm)

    table = {(r["e1"], r["e2"]): r["lambda_potential"] for r in lam.collect()}
    pdf = cg.toPandas()
    expect = {}
    for conv, grp in pdf.groupby("conv_id"):
        ents = set(grp["entity"]) | set(grp["gold_entity"])
        expect.update({
            (conv, a, b): table[(a, b)]
            for a in ents for b in ents if a <= b and (a, b) in table
        })
    assert got == expect
    assert any(k[0] == "nogold" and 77 in k[1:] for k in got)

    n_rho = len(rho_w)
    ev = learning._round_kernel(
        param_learning._param_round(W, np.concatenate([rho_w, lam_w]), n_rho)
    )
    rho_eff = dict(zip(rho_keys, rho_w))
    lam_eff = {**table, **{k: lam_w[i] for k, i in lam_ids.items()}}
    pk = lambda a, b: int(_pack(np.array([a]), np.array([b]))[0])  # noqa: E731
    lam_map = {pk(a, b): v for (a, b), v in lam_eff.items()}
    lam_id = {pk(a, b): i for (a, b), i in lam_ids.items()}
    train_keys = np.array(sorted(lam_id), dtype=np.int64)
    moved = False
    for conv, grp in pdf.groupby("conv_id"):
        t = conv_tensors(grp)
        rw = np.array(
            [[rho_eff.get((s, e), NEG) for e in row]
             for s, row in zip(t.surfaces, t.ents.tolist())]
        )
        loss, rho_g, lam_g, n = param_learning._ppl_conv(
            t.ents, rw, t.logpop, t.surfaces, t.gold_ent, t.gold_idx,
            lam_map, train_keys, W, LAM_CONST,
        )
        brute = _brute_loss(grp, rho_eff, lam_eff)
        assert abs(loss - brute) < 1e-9, (conv, loss, brute)
        if n == 0:
            assert conv in ("one", "long") and conv not in blobs
            continue
        row = next(ev(iter([pd.DataFrame({"blob": [blobs[conv]]})]))).iloc[0]
        assert row["n_convs"] == 1
        assert row["loss"] == q(loss)
        got = dict(zip(row["ids"].tolist(), row["q"].tolist()))
        assert {rho_keys[i]: v for i, v in got.items() if i < n_rho} == {
            k: q(g) for k, g in rho_g.items()
        }, conv
        assert {i - n_rho: v for i, v in got.items() if i >= n_rho} == {
            lam_id[k]: q(g) for k, g in lam_g.items()
        }, conv
        assert rho_g and (lam_g or conv == "untrained"), conv
        moved |= n_rho + lam_ids[(A, 10)] in got
    assert moved
