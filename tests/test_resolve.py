"""Stage 5: LBP kernel vs brute-force enumeration (FIXTURES.md §8)."""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from pboh_spark import resolve
from pboh_spark.resolve import LAMBDA_FLOOR, _pack, _solve_conv
from pboh_spark.stats import ScorerWeights

W = ScorerWeights()


def brute_force(ents, rho, lam_map, w):
    L, K = ents.shape
    valid = ents >= 0
    pair_w = w.g * 2.0 / (L - 1) if L > 1 else 0.0
    best, bestv = None, -np.inf
    for assign in itertools.product(
        *[range(int(valid[i].sum())) for i in range(L)]
    ):
        v = sum(w.f * rho[i, assign[i]] for i in range(L))
        for i in range(L):
            for j in range(i + 1, L):
                key = int(
                    _pack(
                        np.array([ents[i, assign[i]]]),
                        np.array([ents[j, assign[j]]]),
                    )[0]
                )
                v += pair_w * lam_map.get(key, LAMBDA_FLOOR)
        if v > bestv + 1e-12:
            bestv, best = v, assign
    return np.array(best)


def _rand_instance(rng, L, K):
    ents = np.sort(rng.choice(30, size=(L, K)), axis=1).astype(np.int64)
    for i in range(L):
        u = np.unique(ents[i])
        row = np.full(K, -1, np.int64)
        row[: len(u)] = u
        ents[i] = row
    valid = ents >= 0
    rho = np.where(valid, rng.normal(0, 1, (L, K)), -1e30)
    lam_map = {}
    for a, b in itertools.combinations(np.unique(ents[ents >= 0]), 2):
        if rng.random() < 0.7:
            lam_map[int(_pack(np.array([a]), np.array([b]))[0])] = float(
                rng.normal(-3, 2)
            )
    return ents, rho, lam_map


def test_exact_on_trees():
    """L=2 graphs are trees ⇒ max-product BP is exact."""
    rng = np.random.default_rng(7)
    for _ in range(40):
        ents, rho, lam_map = _rand_instance(rng, 2, int(rng.integers(2, 4)))
        best, _, _, _ = _solve_conv(ents, rho, lam_map, W, True)
        assert tuple(best) == tuple(brute_force(ents, rho, lam_map, W))


def test_loopy_agreement_high():
    """On small loopy graphs max-product matches MAP ≥90% (it is an
    approximation — the reference has the same property)."""
    rng = np.random.default_rng(11)
    agree = total = 0
    for _ in range(40):
        L = int(rng.integers(3, 5))
        ents, rho, lam_map = _rand_instance(rng, L, int(rng.integers(1, 4)))
        best, _, _, _ = _solve_conv(ents, rho, lam_map, W, True)
        bb = brute_force(ents, rho, lam_map, W)
        total += L
        agree += int((best == bb).sum())
    assert agree / total >= 0.9


def test_iteration_bound_and_eps():
    """≤15 iterations (VerifyEDLBPForListOfWords.scala:35); converged flag
    honest."""
    rng = np.random.default_rng(3)
    ents, rho, lam_map = _rand_instance(rng, 4, 3)
    _, _, iters, _ = _solve_conv(ents, rho, lam_map, W, True)
    assert 1 <= iters <= 15


def test_sum_product_probabilities():
    rng = np.random.default_rng(5)
    ents, rho, lam_map = _rand_instance(rng, 3, 3)
    _, score, _, _ = _solve_conv(ents, rho, lam_map, W, False)
    assert ((score >= 0) & (score <= 1)).all()


def test_pairwise_term_flips_decision():
    """The LBP pairwise term must be able to override the prior — a
    mention with a weak-prior candidate strongly co-cited with a
    neighbor's certain entity flips to it (the PBOH value proposition)."""
    # mention 0: certain entity 1. mention 1: prior prefers 3, but 2 is
    # strongly co-cited with 1 while 3 is anti-correlated.
    ents = np.array([[1, -1], [2, 3]], dtype=np.int64)
    rho = np.array([[0.0, -1e30], [np.log(0.4), np.log(0.6)]])
    lam_map = {
        int(_pack(np.array([1]), np.array([2]))[0]): 5.0,
        int(_pack(np.array([1]), np.array([3]))[0]): -5.0,
    }
    best, _, _, _ = _solve_conv(ents, rho, lam_map, W, True)
    assert ents[1, best[1]] == 2
    # ARGMAX (prior-only) would pick 3 — LBP beats the baseline here


def test_resolve_dataframe_roundtrip(spark):
    """End-to-end resolve_entities over DataFrames, incl. tie-break
    determinism (lowest entity id on equal beliefs)."""
    import pandas as pd
    cand = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c0"] * 4,
                "mention_id": [1, 1, 2, 2],
                "entity": [7, 9, 7, 9],
                "rho": [np.log(0.5)] * 4,
                "log_pop": [1.0] * 4,
            }
        )
    )
    mentions = spark.createDataFrame(
        pd.DataFrame({"mention_id": [1, 2], "ngram": ["a", "b"]})
    )
    lam = spark.createDataFrame(
        pd.DataFrame({"e1": [7], "e2": [9], "lambda_potential": [0.0],
                      "log_smoothed": [0.0], "lp_sum": [0.0]})
    )
    asm = resolve.assemble_conversations(cand, mentions, lam)
    scalars = {"num_total_pairs": 100, "num_distinct_pairs": 10}
    out = resolve.resolve_entities(asm, scalars=scalars)
    rows = {r["mention_id"]: r for r in out.collect()}
    assert rows[1]["entity"] == rows[2]["entity"]  # agreement
    # deterministic: re-run gives identical assignment
    out2 = resolve.resolve_entities(asm, scalars=scalars)
    assert {(r["mention_id"], r["entity"]) for r in out2.collect()} == {
        (r["mention_id"], r["entity"]) for r in out.collect()
    }


def test_argmax_baseline(spark):
    import pandas as pd
    cand = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c0"] * 3,
                "mention_id": [1, 1, 1],
                "entity": [5, 6, 7],
                "rho": [np.log(0.2), np.log(0.5), np.log(0.3)],
                "log_pop": [1.0] * 3,
            }
        )
    )
    rows = resolve.resolve_argmax(cand).collect()
    assert rows[0]["entity"] == 6


def test_single_mention_sum_product_returns_probability():
    """L==1 regression: sum-product score must be on the same [0,1]
    marginal scale as multi-mention conversations, not a raw log-prob."""
    import numpy as np
    from pboh_spark.resolve import _solve_conv
    from pboh_spark.stats import ScorerWeights

    ents = np.array([[1, 2, -1]])
    rho = np.log(np.array([[0.7, 0.3, 1e-300]]))
    best, score, _, conv = _solve_conv(
        ents, rho, {}, ScorerWeights(), max_product=False
    )
    assert conv and best[0] == 0
    assert abs(score[0] - 0.7) < 1e-9


def test_pack_rejects_ids_over_32_bits():
    import numpy as np
    import pytest
    from pboh_spark.resolve import _solve_conv
    from pboh_spark.stats import ScorerWeights

    ents = np.array([[1 << 33, -1], [5, -1]])
    rho = np.zeros((2, 2))
    with pytest.raises(ValueError, match="32 bits"):
        _solve_conv(ents, rho, {}, ScorerWeights(), max_product=True)


def _loop_tensors(cand):
    """Per-mention loop reference for resolve.conv_tensors."""
    cand = cand.sort_values(["mention_id", "entity"])
    groups = [g for _, g in cand.groupby("mention_id", sort=True)]
    L, K = len(groups), max(len(g) for g in groups)
    ents = np.full((L, K), -1, dtype=np.int64)
    rho = np.full((L, K), resolve.NEG)
    logpop, ctx = np.zeros((L, K)), np.zeros((L, K))
    surfaces = np.empty(L, dtype=object)
    gold_ent = np.zeros(L, dtype=np.int64)
    gold_idx = np.full(L, -1, dtype=np.int64)
    for i, g in enumerate(groups):
        k = len(g)
        ents[i, :k] = g["entity"].to_numpy()
        rho[i, :k] = g["rho"].to_numpy()
        logpop[i, :k] = g["log_pop"].fillna(0.0).to_numpy()
        ctx[i, :k] = g["ctx_evidence"].fillna(0.0).to_numpy()
        surfaces[i] = g["ngram"].iloc[0]
        gold_ent[i] = g["gold_entity"].iloc[0]
        hit = np.nonzero(ents[i, :k] == gold_ent[i])[0]
        if len(hit):
            gold_idx[i] = hit[0]
    mids = np.array([g["mention_id"].iloc[0] for g in groups])
    return resolve.ConvTensors(
        mids, ents, rho, logpop, ctx, surfaces, gold_ent, gold_idx
    )


def test_conv_tensors_matches_loop_reference():
    """The one builder behind every kernel equals the per-mention loop
    (mention_id asc rows, entity asc slots, -1 / NEG / 0.0 pads, nulls
    as 0.0, gold slot -1 when gold is no candidate), and fills a field
    only when its column is present."""
    import pandas as pd

    rng = np.random.default_rng(3)
    for _ in range(50):
        rows = []
        for _ in range(int(rng.integers(1, 7))):
            mid, ng = int(rng.integers(0, 1 << 40)), f"s{rng.integers(3)}"
            es = rng.choice(100, size=int(rng.integers(1, 5)), replace=False)
            gold = int(rng.choice(es)) if rng.random() < 0.7 else 999
            for e in es:
                lp, cx = np.where(rng.random(2) < 0.2, np.nan, rng.normal(size=2))
                rows.append((mid, int(e), rng.normal(), lp, cx, ng, gold))
        cand = pd.DataFrame(rows, columns=[
            "mention_id", "entity", "rho", "log_pop", "ctx_evidence",
            "ngram", "gold_entity",
        ]).sample(frac=1, random_state=int(rng.integers(1 << 30)))
        got, want = resolve.conv_tensors(cand), _loop_tensors(cand)
        for name, a, b in zip(want._fields, got, want):
            assert a.dtype == b.dtype, name
            assert np.array_equal(a, b, equal_nan=a.dtype.kind == "f"), name
    lbp = resolve.conv_tensors(cand[["mention_id", "entity", "rho"]])
    assert np.array_equal(lbp.ents, got.ents)
    assert lbp[3:] == (None,) * 5


def test_containment_candidate_augmentation(spark):
    """MentEntsFreqIndexWrapper.scala:30-40: a mention strictly contained
    in a co-document mention inherits the container's candidates with
    prior 1/(total_freq+1); OOV mentions get nothing (the null path)."""
    import math

    mentions = spark.createDataFrame(
        [
            ("c1", 0, 1, "quantum analytics"),
            ("c1", 1, 2, "quantum analytics corp"),
            ("c1", 2, 3, "quantum"),          # OOV — must stay empty
            ("c2", 0, 4, "quantum analytics"),  # other conv: no container
        ],
        "conv_id string, turn_idx int, mention_id bigint, ngram string",
    )
    name_stats = spark.createDataFrame(
        [
            ("quantum analytics", 7, 4, 4, 1.0, 1),
            ("quantum analytics corp", 5, 10, 10, 1.0, 1),
        ],
        "name string, entity bigint, freq bigint, total_freq bigint, "
        "prob double, rank int",
    )
    out = resolve.mention_candidates(mentions, name_stats)
    rows = {(r["mention_id"], r["entity"]): r for r in out.collect()}
    # contained mention inherited entity 5 from the container
    assert (1, 7) in rows and (1, 5) in rows
    assert rows[(1, 5)]["rho"] == pytest.approx(-math.log(5))  # 1/(4+1)
    assert rows[(1, 7)]["rho"] == pytest.approx(0.0)           # log 1.0
    # container itself gains nothing; OOV and cross-conv stay untouched
    assert [k for k in rows if k[0] == 2] == [(2, 5)]
    assert [k for k in rows if k[0] == 3] == []
    assert [k for k in rows if k[0] == 4] == [(4, 7)]
    # default-off path unchanged
    base = resolve.mention_candidates(
        mentions, name_stats, containment=False
    )
    assert {(r["mention_id"], r["entity"]) for r in base.collect()} == {
        (1, 7), (2, 5), (4, 7)
    }


def test_containment_accuracy_not_regressed(spark, universe):
    """LBP micro accuracy on the seeded corpus with augmentation on must
    match or beat augmentation off (it adds low-prior candidates only)."""
    from pboh_spark import evaluate, stats, synth
    from pboh_spark.normalize import extract_mentions

    transcripts, gold = synth.generate_transcripts(spark, 60, universe=universe)
    anchors = synth.generate_anchors(spark, 1500, universe=universe)
    mentions = extract_mentions(transcripts).cache()
    ns = stats.name_stats(anchors).cache()
    es = stats.entity_stats(anchors)
    scalars = stats.corpus_scalars(anchors)
    lam = stats.with_lambda_potential(stats.cooccurrence(anchors), es, scalars)

    def acc(containment):
        cand = resolve.mention_candidates(
            mentions, ns, es, containment=containment
        )
        out = resolve.resolve_entities(
            resolve.assemble_conversations(cand, mentions, lam), scalars=scalars
        )
        return evaluate.linking_accuracy(out, gold, mentions)["micro_accuracy"]

    a_off, a_on = acc(False), acc(True)
    mentions.unpersist()
    ns.unpersist()
    assert a_on >= a_off - 1e-9, (a_off, a_on)
