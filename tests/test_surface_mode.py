"""Surface-mode linkage: score each distinct surface pair once, expand
cluster labels to instances. Must (a) keep pairwise F1 ≥ 0.99 on labeled
pairs at the instance-level reference blocking key, (b) shrink the scored
pair space by orders of magnitude (the pair count is bounded by the
surface dictionary, not the corpus)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pboh_spark import blocking, evaluate, stats, synth
from pboh_spark.pipeline import run_pipeline


def test_surface_mode_f1_and_pair_collapse(spark, universe, tmp_path):
    out = str(tmp_path / "surf")
    transcripts, gold = synth.generate_transcripts(spark, 300, universe=universe)
    anchors = synth.generate_anchors(spark, 4000, universe=universe)
    metrics = run_pipeline(
        spark, transcripts, anchors, out, with_lbp=False, surface_mode=True
    )

    mentions = spark.read.parquet(f"{out}/s1_mentions/data")
    clusters = spark.read.parquet(f"{out}/s6_clusters_surf/data")
    n_mentions = mentions.count()

    # (a) F1 on labeled pairs at the instance-level candidate blocking key
    ns = stats.name_stats(anchors)
    cb = blocking.candidate_blocks(mentions, ns)
    lp = evaluate.build_labeled_pairs(gold, cb)
    comp = clusters.select(
        F.col("mention_id").alias("id"), F.col("cluster_id")
    )
    res = evaluate.pairwise_f1(lp, comp)
    assert res["n_pairs"] > 10_000
    assert res["f1"] >= 0.99, res

    # (b) pair-space collapse: scored pairs bounded by distinct surfaces,
    # far below the instance pair space the same corpus produces
    n_surfaces = mentions.select("ngram").distinct().count()
    assert metrics["n_pairs_scored"] < n_surfaces * 40
    assert metrics["n_pairs_scored"] < n_mentions * 2

    # the cluster count the stage writes give is the distinct count
    assert metrics["n_clusters"] == (
        clusters.select("cluster_id").distinct().count()
    )

    # identical surfaces always share a cluster
    multi = (
        clusters.groupBy("ngram")
        .agg(F.count_distinct("cluster_id").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    assert multi == 0
