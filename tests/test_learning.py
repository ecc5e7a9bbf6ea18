"""Weight learning (L2/L3, FewParamsLearning.scala:289-507,802-852):
finite-difference gradient check, Spark/numpy kernel agreement,
partitioning determinism of the fixed-point merge, and fitted-beats-
shipped on a corpus engineered so the validated constants misrank."""

from __future__ import annotations

import math
from dataclasses import replace
from functools import partial

import numpy as np
import pytest
from pyspark.sql import functions as F

from pboh_spark import learning, resolve
from pboh_spark.learning import _pl_conv, learn_weights
from pboh_spark.stats import ScorerWeights

W = ScorerWeights()


def _rand_instance(rng, L=3, K=3):
    ents = np.sort(rng.choice(20, size=(L, K), replace=False), axis=1).astype(
        np.int64
    )
    valid = np.ones((L, K), bool)
    rho = rng.uniform(-3, -0.1, (L, K))
    logpop = rng.uniform(0, 2, (L, K))
    surfaces = np.array([f"s{i}" for i in range(L)], dtype=object)
    gold_idx = rng.integers(0, K, size=L)
    gold_ent = ents[np.arange(L), gold_idx]
    # one mention's gold outside its candidate set (neighbor-only role)
    gold_idx[L - 1] = -1
    gold_ent[L - 1] = 99
    c0_map, c1_map = {}, {}
    all_e = np.unique(np.append(ents.ravel(), 99))
    for a in all_e:
        for b in all_e:
            if a <= b and rng.random() < 0.6:
                k = int(resolve._pack(np.array([a]), np.array([b]))[0])
                c0_map[k] = float(rng.uniform(-4, -1))
                c1_map[k] = float(rng.uniform(0, 3))
    return ents, rho, logpop, surfaces, gold_ent, gold_idx, c0_map, c1_map


def test_finite_difference_gradients():
    """Analytic ∂/∂(f,g,h) vs central differences — the check the
    reference only manages for s/b (FewParamsLearning.scala:426-431)."""
    rng = np.random.default_rng(5)
    eps = 1e-6
    for _ in range(15):
        inst = _rand_instance(rng, L=int(rng.integers(2, 5)))
        loss, grads, n = _pl_conv(*inst, ScorerWeights(), lam_const=-8.0)
        assert n >= 1
        for gi, field in enumerate(("f", "g", "h")):
            wp = replace(ScorerWeights(), **{field: getattr(W, field) + eps})
            wm = replace(ScorerWeights(), **{field: getattr(W, field) - eps})
            lp, _, _ = _pl_conv(*inst, wp, lam_const=-8.0)
            lm, _, _ = _pl_conv(*inst, wm, lam_const=-8.0)
            fd = (lp - lm) / (2 * eps)
            assert grads[gi] == pytest.approx(fd, rel=1e-4, abs=1e-7), field


def test_finite_difference_gradient_b_with_context():
    """∂/∂b (the context-evidence weight) is analytic here — the
    reference falls back to finite differences (FewParamsLearning.scala
    :426-436); verify ours against central differences with a ctx
    tensor attached, plus f/g/h in the same full-rho regime."""
    rng = np.random.default_rng(17)
    eps = 1e-6
    for _ in range(10):
        L = int(rng.integers(2, 5))
        inst = _rand_instance(rng, L=L)
        ctx = rng.uniform(0, 2.5, inst[0].shape)
        loss, grads, n = _pl_conv(*inst, W, lam_const=-8.0, ctx=ctx)
        assert n >= 1
        for gi, field in enumerate(("f", "g", "h", "b")):
            wp = replace(ScorerWeights(), **{field: getattr(W, field) + eps})
            wm = replace(ScorerWeights(), **{field: getattr(W, field) - eps})
            lp, _, _ = _pl_conv(*inst, wp, lam_const=-8.0, ctx=ctx)
            lm, _, _ = _pl_conv(*inst, wm, lam_const=-8.0, ctx=ctx)
            fd = (lp - lm) / (2 * eps)
            assert grads[gi] == pytest.approx(fd, rel=1e-4, abs=1e-7), field


def test_context_weight_b_is_learned(spark, assemble):
    """Corpus where only context evidence disambiguates (two same-surface
    mentions ⇒ no pair terms by the xj != x guard): fitted b must rise
    and flip the held-out argmax to the gold entity."""
    rows, lam_rows = [], []
    for i in range(16):
        c = f"b{i}"
        # mention 1: gold A2 (prior 0.3) but ctx evidence 2.0; A1 none
        rows += [
            (c, 10 * i + 1, 1, math.log(0.7), 0.0, 0.0, "amb", 2),
            (c, 10 * i + 1, 2, math.log(0.3), 0.0, 2.0, "amb", 2),
            (c, 10 * i + 2, 1, math.log(0.7), 0.0, 0.0, "amb", 2),
            (c, 10 * i + 2, 2, math.log(0.3), 0.0, 2.0, "amb", 2),
        ]
    cand = spark.createDataFrame(
        rows,
        "conv_id string, mention_id bigint, entity bigint, rho double, "
        "log_pop double, ctx_evidence double, ngram string, "
        "gold_entity bigint",
    )
    lam = spark.createDataFrame([], LAM_SCHEMA)
    w_fit, hist = learn_weights(assemble(cand, lam), n_rounds=30, eta=1.0)
    assert hist[-1]["loss"] > hist[0]["loss"]
    assert w_fit.b > W.b  # context weight strengthened
    # held-out flip: b·ctx must now beat the prior gap log(0.7/0.3)
    assert w_fit.f * (w_fit.a * math.log(0.3) + w_fit.b * 2.0) > \
        w_fit.f * (w_fit.a * math.log(0.7))


def test_doc_size_guard():
    """l ∈ (1, 25] — FewParamsLearning.scala:364: singleton convs and
    oversized docs contribute nothing."""
    rng = np.random.default_rng(9)
    inst = _rand_instance(rng, L=3)
    one = (inst[0][:1], inst[1][:1], inst[2][:1], inst[3][:1],
           inst[4][:1], inst[5][:1], inst[6], inst[7])
    loss, g, n = _pl_conv(*one, W)
    assert (loss, n) == (0.0, 0) and not g.any()


LAM_SCHEMA = (
    "e1 bigint, e2 bigint, lambda_potential double, log_smoothed double, "
    "lp_sum double"
)


def _crafted_corpus(spark, conv_ids):
    """Per conv: ambiguous mention 'amb' (A1=1 prior 0.7 vs gold A2=2
    prior 0.3) + unambiguous 'ctx' (B=3); λ(A2,B) − λ(A1,B) = 0.5 < the
    0.847 prior log-gap, so shipped g=0.5 (pair weight g·2/(L−1) = 1.0)
    picks A1 — only a larger learned g flips it. Returns the candidate
    table (with ngram and gold) and the λ table."""
    cand_rows = []
    for i, c in enumerate(conv_ids):
        cand_rows += [
            (c, 10 * i + 1, 1, math.log(0.7), 0.0, "amb", 2),
            (c, 10 * i + 1, 2, math.log(0.3), 0.0, "amb", 2),
            (c, 10 * i + 2, 3, 0.0, 0.0, "ctx", 3),
        ]
    cand = spark.createDataFrame(
        cand_rows,
        "conv_id string, mention_id bigint, entity bigint, rho double, "
        "log_pop double, ngram string, gold_entity bigint",
    )
    lam = spark.createDataFrame(
        [(1, 3, -1.5, -1.5, 0.0), (2, 3, -1.0, -1.0, 0.0)], LAM_SCHEMA
    )
    return cand, lam


def test_spark_kernel_matches_numpy(spark, assemble):
    """The live fit path — the conversation assembly, the fit's prepare
    pass (resolve.conv_tensors on the Spark side) then one fused round —
    equals the quantized loss and gradients of ``_pl_conv`` on
    hand-built tensors."""
    rows = (
        assemble(*_crafted_corpus(spark, ["c0"]))
        .mapInPandas(
            learning._prepare_kernel(
                partial(learning._weight_prepare, lam_const=resolve.LAMBDA_FLOOR)
            ),
            resolve.BLOB_SCHEMA,
        )
        .mapInPandas(
            learning._round_kernel(partial(learning._pl_round, w=W)),
            learning.PART_SCHEMA,
        )
        .collect()
    )
    tot = [0] * 4
    for r in rows:
        for i, v in zip(r["ids"], r["q"]):
            tot[i] += v
    ents = np.array([[1, 2], [3, -1]], dtype=np.int64)
    rho = np.array([[math.log(0.7), math.log(0.3)], [0.0, -1e30]])
    logpop = np.zeros((2, 2))
    surfaces = np.array(["amb", "ctx"], dtype=object)
    gold_ent = np.array([2, 3])
    gold_idx = np.array([1, 0])
    c0 = {
        int(resolve._pack(np.array([1]), np.array([3]))[0]): -1.5,
        int(resolve._pack(np.array([2]), np.array([3]))[0]): -1.0,
    }
    c1 = {k: 0.0 for k in c0}
    loss, g, n = _pl_conv(
        ents, rho, logpop, surfaces, gold_ent, gold_idx, c0, c1, W
    )
    assert n == 2 and sum(r["n_convs"] for r in rows) == 1
    q = learning._quantize
    assert sum(r["loss"] for r in rows) == q(loss)
    assert tot[:3] == [q(x) for x in g[:3]]
    assert tot[3] == q(g[3]) == 0  # no ctx column


def test_learn_weights_leaves_session_conf_alone(spark, monkeypatch, assemble):
    """The fit sets no session-global conf: a concurrent query on the
    same session must keep planning with AQE."""
    from pyspark.sql.conf import RuntimeConfig

    keys = []
    orig = RuntimeConfig.set

    def spy(self, key, value):
        keys.append(key)
        return orig(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    learn_weights(assemble(*_crafted_corpus(spark, ["a0", "a1"])), n_rounds=2)
    assert [k for k in keys if k.startswith("spark.sql.adaptive.")] == []


def test_learning_is_partitioning_deterministic(spark, assemble):
    """The fixed-point long-sum merge makes every round's fitted weights
    bit-identical regardless of how the corpus is partitioned."""
    asm = assemble(*_crafted_corpus(spark, [f"t{i}" for i in range(12)]))
    runs = []
    for parts in (1, 7):
        w, hist = learn_weights(asm.repartition(parts), n_rounds=5)
        runs.append((w, [(h["loss"], h["f"], h["g"], h["h"]) for h in hist]))
    assert runs[0][1] == runs[1][1]  # exact float equality, no approx
    assert runs[0][0] == runs[1][0]


def test_learn_weights_leaves_nothing_pinned(spark, assemble):
    """The fit's persisted and checkpointed intermediates are all
    released: it returns plain Python values, so nothing stays pinned."""
    asm = assemble(*_crafted_corpus(spark, [f"p{i}" for i in range(6)]))
    pinned = lambda: set(  # noqa: E731
        spark.sparkContext._jsc.getPersistentRDDs().keys()
    )
    before = pinned()
    learn_weights(asm, n_rounds=3)
    assert pinned() - before == set()


def test_loss_increases_and_fitted_beats_shipped(spark, assemble):
    """Train on 20 crafted convs, hold out 8: the pseudolikelihood rises
    monotonically-ish, the fitted g grows past the flip point, and LBP
    micro accuracy on held-out gold beats the shipped constants."""
    w_fit, hist = learn_weights(
        assemble(*_crafted_corpus(spark, [f"t{i}" for i in range(20)])),
        n_rounds=25, eta=1.0,
    )
    assert hist[-1]["loss"] > hist[0]["loss"]
    assert w_fit.g > W.g  # pair weight strengthened
    assert 0.001 <= w_fit.f <= 15 and 0.001 <= w_fit.g <= 15  # box

    held_cand, held_lam = _crafted_corpus(spark, [f"h{i}" for i in range(8)])
    held = assemble(held_cand, held_lam)
    gold = {
        (r["conv_id"], r["mention_id"]): r["gold_entity"]
        for r in held_cand.select(
            "conv_id", "mention_id", "gold_entity"
        ).distinct().collect()
    }

    def accuracy(w):
        out = resolve.resolve_entities(held, weights=w).collect()
        hits = sum(
            1 for r in out if gold[(r["conv_id"], r["mention_id"])] == r["entity"]
        )
        return hits / len(out)

    acc_shipped = accuracy(W)
    acc_fit = accuracy(w_fit)
    assert acc_shipped == pytest.approx(0.5)   # every 'amb' misranked
    assert acc_fit == 1.0                       # learned g flips them


def test_pipeline_learn_weights_stage(spark, universe, tmp_path):
    """--learn-weights integration: the weight-fit runs as a checkpointed
    stage, fitted weights land in metrics and drive LBP, and linking
    accuracy stays at the gate."""
    from pboh_spark import evaluate, synth
    from pboh_spark.pipeline import run_pipeline

    transcripts, gold = synth.generate_transcripts(spark, 80, universe=universe)
    anchors = synth.generate_anchors(spark, 2000, universe=universe)
    out = str(tmp_path / "ck")
    metrics = run_pipeline(
        spark, transcripts, anchors, out, learn_gold=gold, learn_rounds=5
    )
    lw = metrics["learned_weights"]
    assert lw["rounds"] == 5
    assert 0.001 <= lw["f"] <= 15 and 0.001 <= lw["g"] <= 15
    from pathlib import Path

    assert (Path(out) / "s5_weights" / "metrics.json").exists()
    m = spark.read.parquet(f"{out}/s1_mentions/data")
    # fitted-mode assignments live under their own stage name so a
    # --learn-weights toggle on an existing out_dir can't silently reuse
    # the default-weight LBP output
    assert not (Path(out) / "s5_assignments").exists()
    assign = spark.read.parquet(f"{out}/s5_assignments_fit/data")
    acc = evaluate.linking_accuracy(assign, gold, m)
    assert acc["micro_accuracy"] >= 0.99, (acc, lw)

    # the stage equals LBP under the fitted weights over an assembly of
    # the checkpointed stages, its scalars taken by stats.corpus_scalars
    from pboh_spark import stats

    stage = lambda name: spark.read.parquet(f"{out}/{name}/data")  # noqa: E731
    w = ScorerWeights(f=lw["f"], g=lw["g"], h=lw["h"], b=lw["b"])
    want = resolve.resolve_entities(
        resolve.assemble_conversations(
            stage("s5_candidates"), m, stage("s2_lambda")
        ),
        weights=w,
        scalars=stats.corpus_scalars(anchors, cooc=stage("s2_cooc")),
    )
    rows = lambda df: sorted(  # noqa: E731
        tuple(r) for r in df.select(*want.columns).collect()
    )
    assert rows(assign) == rows(want)


def test_pair_values_match_lambda_at_h(spark, anchors):
    """The kernels' λ(h) (resolve.pair_values) equals the column rule
    resolve.lambda_at_h bit for bit on a real λ table, and with no
    weights it is the stored potential."""
    from pboh_spark import stats

    es = stats.entity_stats(anchors)
    lam = stats.with_lambda_potential(
        stats.cooccurrence(anchors), es, stats.corpus_scalars(anchors)
    )
    w = ScorerWeights(h=0.3719)
    pdf = resolve.lambda_at_h(
        lam.withColumn("stored", F.col("lambda_potential")), w.h
    ).toPandas()
    assert len(pdf) > 100
    assert (resolve.pair_values(pdf, w) == pdf["lambda_potential"]).all()
    stored = pdf.assign(lambda_potential=pdf["stored"])
    assert (resolve.pair_values(stored, None) == pdf["stored"]).all()


def test_b_fit_end_to_end_on_synth_context(spark, universe):
    """Full-corpus b-fit path: context stats built from the synth
    transcripts (word_freq / word_entity_freq / context_windows), rho
    kept unfused (rho_with_context(fused=False)), and learn_weights
    moving all four coordinates — the b gradient flows from real
    conversational context, not a hand-built tensor."""
    from pboh_spark import context as ctxmod
    from pboh_spark import stats, synth
    from pboh_spark.normalize import extract_mentions, normalize_turns

    transcripts, gold = synth.generate_transcripts(spark, 40, universe=universe)
    anchors = synth.generate_anchors(spark, 800, universe=universe)
    mentions = extract_mentions(transcripts).cache()
    norm = normalize_turns(transcripts)
    ns = stats.name_stats(anchors)
    es = stats.entity_stats(anchors)
    scalars = stats.corpus_scalars(anchors)
    lam = stats.with_lambda_potential(stats.cooccurrence(anchors), es, scalars)
    cand = resolve.mention_candidates(mentions, ns, es)
    # context stats trained from the gold conversations themselves
    mention_ctx = ctxmod.context_windows(norm, mentions)
    gm = gold.select(
        "conv_id", "turn_idx",
        F.lower(F.col("surface")).alias("ngram"),
        F.col("entity").alias("gold_entity"),
    )
    m_gold = mentions.join(gm, ["conv_id", "turn_idx", "ngram"]).select(
        "mention_id", "gold_entity"
    )
    anchors_ctx = mention_ctx.join(m_gold, "mention_id").select(
        F.col("gold_entity").alias("entity"), "word"
    )
    wef = ctxmod.word_entity_freq(anchors_ctx, min_freq=3)
    wfreq = ctxmod.word_freq(norm, min_freq=5)
    full = ctxmod.rho_with_context(cand, mention_ctx, wef, wfreq, fused=False)
    cand_learn = full.select(
        "conv_id", "mention_id", "entity",
        F.col("rho_prior").alias("rho"), "log_pop", "ctx_evidence",
    )
    w_fit, hist = learning.learn_weights(
        resolve.assemble_conversations(cand_learn, mentions, lam, gold),
        n_rounds=8,
        lam_const=resolve.backoff_lam_const(scalars),  # production backoff
    )
    mentions.unpersist()
    assert hist[-1]["loss"] > hist[0]["loss"]
    # the b coordinate actually moved off its prior (gradient flowed)
    assert w_fit.b != ScorerWeights().b
    assert 1e-8 <= w_fit.b <= 10.0


def test_fused_round_quantizer_matches_spark(spark):
    """The r6 one-stage round merge quantizes per-conv doubles in the
    Python kernel (learning._quantize) instead of a Spark-side
    ``round(x·1e9).cast('long')`` projection. Pin exact parity against
    the literal Spark expression over fuzz + HALF_UP boundary values —
    one ulp of divergence here would flip the golden fit history."""
    rng = np.random.default_rng(123)
    vals = np.concatenate([
        rng.normal(0, 1, 4000), rng.normal(0, 1e-6, 4000),
        rng.normal(0, 1e3, 2000),
        np.array([0.0, -0.0, 0.5e-9, -0.5e-9, 1.5e-9, -1.5e-9, 2.5e-9,
                  -2.5e-9, 0.49999999999999994e-9]),
    ]).astype(np.float64)
    sdf = spark.createDataFrame([(float(v),) for v in vals], "x double")
    want = [
        r[0]
        for r in sdf.select(
            F.round(F.col("x") * F.lit(learning._FIXED)).cast("long")
        ).collect()
    ]
    got = [learning._quantize(v) for v in vals]
    assert got == want
