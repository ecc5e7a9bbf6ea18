"""Stage-isolation benchmarks for the optimization round (guide §1.4).

``bench.py`` is FROZEN for the driver's measurement; this file holds the
finer-grained timings the optimization work is steered by: per-stage
noop-sink timings of the heavy queries so each change targets the stage
that actually costs, not the query total. Numbers from here are cited in
OPTIMIZATION_r06.md; the official round numbers stay bench.py's.

Usage: python bench_extra.py [section ...]
Sections: learn, resolve, linkage, cc, emblsh, lshpairs, lambda
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, label: str, fn, n: int = 1):
    best = None
    for _ in range(n):
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    print(f"  {label:<46s} {best:7.3f} s")
    return out


def sec_learn(spark) -> None:
    """pboh_learn_weights: input build vs per-round cost."""
    import __spark_entry__ as entrymod
    from pboh_spark import learning, resolve

    print("[learn] pboh_learn_weights breakdown")
    gold, mentions, cand, lam, scalars = entrymod._seeded_resolve_inputs(spark)
    _timed(spark, "inputs: cand_gold materialize", lambda: _force(
        learning.learning_candidates(cand, mentions, gold)))
    gold, mentions, cand, lam, scalars = entrymod._seeded_resolve_inputs(spark)
    conv_aff = resolve.conv_lambda_pairs(
        cand, lam, value_cols=("log_smoothed", "lp_sum")
    )
    _timed(spark, "inputs: conv_aff materialize", lambda: _force(conv_aff))

    # full fit, timed end to end with per-round instrumentation
    gold, mentions, cand, lam, scalars = entrymod._seeded_resolve_inputs(spark)
    cand_gold = learning.learning_candidates(cand, mentions, gold)
    conv_aff = resolve.conv_lambda_pairs(
        cand, lam, value_cols=("log_smoothed", "lp_sum")
    )
    t0 = time.time()
    w, hist = learning.learn_weights(
        cand_gold, conv_aff,
        lam_const=resolve.backoff_lam_const(scalars), **entrymod._FIT_KW,
    )
    print(f"  full fit ({len(hist)} history rows)             "
          f"{time.time() - t0:7.3f} s")


def sec_resolve(spark) -> None:
    """pboh_resolve_lbp: input pipeline vs kernel."""
    import __spark_entry__ as entrymod
    from pboh_spark import resolve

    print("[resolve] pboh_resolve_lbp breakdown")
    _, gold2, anchors, mentions, ns = entrymod._seeded_corpus(spark)
    _timed(spark, "corpus: mentions", lambda: _force(mentions))
    _timed(spark, "corpus: name_stats", lambda: _force(ns))

    def inputs():
        g, m, cand, lam, scalars = entrymod._seeded_resolve_inputs(spark)
        _force(cand)
        return None
    _timed(spark, "inputs: candidates (incl containment)", inputs)

    def lam_build():
        g, m, cand, lam, scalars = entrymod._seeded_resolve_inputs(spark)
        _force(resolve.conv_lambda_pairs(cand, lam))
    _timed(spark, "inputs: conv_lambda_pairs", lam_build)

    def full():
        _force(entrymod.queries()["pboh_resolve_lbp"](spark, SF_DIR))
    _timed(spark, "full query", full, n=2)


def sec_linkage(spark) -> None:
    """linkage_pairs: blocking / pair-gen / scoring stage split."""
    from pyspark.sql import functions as F

    from pboh_spark import blocking, stats, synth
    from pboh_spark import pairs as pairs_mod
    from pboh_spark.normalize import extract_mentions
    from pboh_spark.util import release
    import re

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1)) if m else 0.1
    n_conv = max(200, int(sf * 20000))

    print(f"[linkage] n_conversations={n_conv}")
    uni = synth.EntityUniverse()
    transcripts, _ = synth.generate_transcripts(
        spark, n_conv, universe=uni, partitions=128
    )
    anchors = synth.generate_anchors(spark, 4000, universe=uni)
    ns = stats.name_stats(anchors).cache()
    ns.count()
    mentions = extract_mentions(transcripts).cache()
    mentions.count()

    cb = blocking.candidate_blocks(mentions, ns, top_k=10)
    mh = blocking.minhash_blocks(mentions, ns, oov_only=True)
    _timed(spark, "blocking: candidate_blocks", lambda: _force(cb))
    _timed(spark, "blocking: minhash_blocks", lambda: _force(mh))
    salted, _ = blocking.salt_and_cap(cb.unionByName(mh), cap=64)
    _timed(spark, "blocking: salt_and_cap materialize", lambda: _force(salted))
    cp = pairs_mod.candidate_pairs(salted)
    _timed(spark, "pairs: candidate_pairs", lambda: _force(cp))
    scored = pairs_mod.score_pairs(cp)
    _timed(
        spark, "pairs: score_pairs agg", lambda: scored.agg(
            F.count("*"), F.sum("score")).collect(), n=2,
    )
    release(salted, mentions, ns)


def sec_cc(spark) -> None:
    """cc_components: edge build vs CC loop."""
    import __spark_entry__ as entrymod
    from pboh_spark.cluster import connected_components
    from pboh_spark.ops.dedup import minhash_lsh_pairs

    print("[cc] cc_components breakdown")
    d = entrymod._t(spark, SF_DIR, "documents")
    edges = minhash_lsh_pairs(
        d, "text", k=3, n_hashes=entrymod._MH_N, n_bands=entrymod._MH_BANDS
    )
    _timed(spark, "edges: minhash_lsh_pairs", lambda: _force(edges), n=2)

    def loop():
        comp = connected_components(edges, "doc_id_a", "doc_id_b")
        _force(comp)
    _timed(spark, "cc loop (incl edge recompute)", loop, n=2)

    def full():
        _force(entrymod.queries()["cc_components"](spark, SF_DIR))
    _timed(spark, "full query", full, n=2)


def sec_emblsh(spark) -> None:
    """dedup_embedding_lsh_pairs: signatures vs bucket join vs cosine."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from pboh_spark.ops.simsearch import hyperplane_signatures

    print("[emblsh] dedup_embedding_lsh_pairs breakdown")
    emb = entrymod._t(spark, SF_DIR, "embeddings")
    v = F.col("embedding").cast("array<double>")
    pert = F.transform(
        v, lambda x, i: x + 0.05 * F.element_at(v, (i + 1) % 64 + 1)
    )
    dups = emb.where(F.col("vec_id") < 25).select(
        (-F.col("vec_id") - 1).alias("vec_id"), pert.alias("embedding")
    )
    allv = emb.select("vec_id", v.alias("embedding")).unionByName(dups)
    sigs = hyperplane_signatures(
        allv, 64, n_bits=8, n_tables=6, seed=42,
        id_col="vec_id", vec_col="embedding",
    )
    _timed(spark, "signatures only", lambda: _force(sigs), n=2)

    def full():
        _force(entrymod.queries()["dedup_embedding_lsh_pairs"](spark, SF_DIR))
    _timed(spark, "full query", full, n=2)


def sec_lshpairs(spark) -> None:
    """dedup_lsh_pairs: shingle/signature agg vs band join."""
    import __spark_entry__ as entrymod
    from pboh_spark.ops.dedup import minhash_signatures_wide, word_shingles

    print("[lshpairs] dedup_lsh_pairs breakdown")
    d = entrymod._t(spark, SF_DIR, "documents")
    _timed(spark, "word_shingles", lambda: _force(
        word_shingles(d, "text", 3)), n=2)
    _timed(spark, "minhash_signatures_wide", lambda: _force(
        minhash_signatures_wide(d, "text", 3, entrymod._MH_N)), n=2)

    def full():
        _force(entrymod.queries()["dedup_lsh_pairs"](spark, SF_DIR))
    _timed(spark, "full query", full, n=2)


def sec_lambda(spark) -> None:
    """stat_lambda_potential: anchors vs cooc vs lambda."""
    import __spark_entry__ as entrymod
    from pboh_spark import stats

    print("[lambda] stat_lambda_potential breakdown")
    anchors = entrymod._anchors(spark, SF_DIR)
    _timed(spark, "anchors", lambda: _force(anchors), n=2)
    _timed(spark, "entity_stats", lambda: _force(
        stats.entity_stats(anchors)), n=2)
    _timed(spark, "cooccurrence", lambda: _force(
        stats.cooccurrence(anchors, min_cocit=1)), n=2)

    def full():
        _force(entrymod.queries()["stat_lambda_potential"](spark, SF_DIR))
    _timed(spark, "full query", full, n=2)


SECTIONS = {
    "learn": sec_learn,
    "resolve": sec_resolve,
    "linkage": sec_linkage,
    "cc": sec_cc,
    "emblsh": sec_emblsh,
    "lshpairs": sec_lshpairs,
    "lambda": sec_lambda,
}


def main() -> None:
    names = sys.argv[1:] or list(SECTIONS)
    from pboh_spark.session import get_spark

    spark = get_spark(cores=CPUS, app_name="bench_extra")
    # warmup (same as bench.py)
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(1000).groupBy(
        "l_returnflag"
    ).count().collect()
    import __spark_entry__ as entrymod

    for name in names:
        entrymod._FIT_CACHE.clear()
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        SECTIONS[name](spark)
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
