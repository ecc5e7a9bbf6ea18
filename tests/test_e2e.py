"""End-to-end: pipeline F1 ≥ 0.99 gate + checkpoint resume + LBP accuracy."""

import json
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pboh_spark import (
    blocking, cluster, evaluate, normalize, resolve, stats, synth,
)
from pboh_spark import pairs as pairs_mod
from pboh_spark.checkpoint import StageCheckpointer
from pboh_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def e2e(spark, universe, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ck"))
    transcripts, gold = synth.generate_transcripts(spark, 300, universe=universe)
    anchors = synth.generate_anchors(spark, 4000, universe=universe)
    metrics = run_pipeline(spark, transcripts, anchors, out)
    return out, transcripts, gold, anchors, metrics


def test_pairwise_f1_gate(spark, e2e):
    """THE gate: pairwise F1 ≥ 0.99 on labeled pairs at the reference
    blocking key (BASELINE.json)."""
    out, transcripts, gold, anchors, metrics = e2e
    blocked = spark.read.parquet(f"{out}/s3_blocked/data")
    comp = spark.read.parquet(f"{out}/s6_components/data")
    lp = evaluate.build_labeled_pairs(gold, blocked)
    res = evaluate.pairwise_f1(lp, comp)
    assert res["n_pairs"] > 10_000
    assert res["f1"] >= 0.99, res


def test_text_equality_through_pipeline(e2e):
    _, _, _, _, metrics = e2e
    assert metrics["text_equality_violations"] == 0


def test_lbp_linking_accuracy(spark, e2e):
    out, transcripts, gold, anchors, _ = e2e
    m = spark.read.parquet(f"{out}/s1_mentions/data")
    assign = spark.read.parquet(f"{out}/s5_assignments/data")
    acc = evaluate.linking_accuracy(assign, gold, m)
    assert acc["micro_accuracy"] >= 0.99, acc


def test_resume_skips_completed_stages(spark, e2e, universe):
    """Second run with same out_dir must not recompute (wall time and
    metrics files untouched)."""
    out, transcripts, gold, anchors, _ = e2e
    before = {
        p.name: json.loads((p / "metrics.json").read_text())["completed_at"]
        for p in Path(out).iterdir()
        if (p / "metrics.json").exists()
    }
    run_pipeline(spark, transcripts, anchors, out)
    after = {
        p.name: json.loads((p / "metrics.json").read_text())["completed_at"]
        for p in Path(out).iterdir()
        if (p / "metrics.json").exists()
    }
    assert before == after


def test_learn_params_stage_checkpoints_and_serves(spark, universe, tmp_path_factory):
    """--learn-params: the per-parameter tables checkpoint as a
    kind-tagged stage, the LBP stage serves them under its own stage
    name, and linking accuracy stays at the gate (the planted-corpus
    usefulness proof lives in test_param_learning; here we prove the
    PIPELINE plumbing: fit → checkpoint → join into scoring → resume)."""
    out = str(tmp_path_factory.mktemp("ckp"))
    transcripts, gold = synth.generate_transcripts(spark, 120, universe=universe)
    anchors = synth.generate_anchors(spark, 2000, universe=universe)
    metrics = run_pipeline(
        spark, transcripts, anchors, out,
        learn_gold=gold, learn_params=True, fit_weights=False,
        param_rounds=2,
    )
    pt = metrics["param_tables"]
    assert pt["n_rho"] > 0 and pt["n_lambda"] > 0
    assert len(pt["loss_history"]) == 2
    assert Path(out, "s5_param_tables", "data").exists()
    assert Path(out, "s5_assignments_params", "data").exists()
    m = spark.read.parquet(f"{out}/s1_mentions/data")
    assign = spark.read.parquet(f"{out}/s5_assignments_params/data")
    acc = evaluate.linking_accuracy(assign, gold, m)
    assert acc["micro_accuracy"] >= 0.99, acc
    # resume restores the tables without re-fitting (loss history equal)
    m2 = run_pipeline(
        spark, transcripts, anchors, out,
        learn_gold=gold, learn_params=True, fit_weights=False,
        param_rounds=2,
    )
    assert m2["param_tables"]["loss_history"] == pt["loss_history"]


def test_per_partition_lineage_recorded(spark, e2e):
    """Every stage's lineage is the row count per written part file, its
    row count that of a scan, and the frame it serves has the schema a
    scan infers."""
    out, *_ = e2e
    m = json.loads(Path(out, "s4_pairs", "metrics.json").read_text())
    assert "s3_blocked" in m["upstream"]
    ck = StageCheckpointer(spark, out)
    stages = sorted(p.name for p in Path(out).iterdir() if (p / "data").is_dir())
    assert len(stages) >= 10
    for stage in stages:
        m = ck.load_metrics(stage)
        d = f"{out}/{stage}/data"
        scan = spark.read.parquet(d)
        per_file = {
            int(r["f"].rsplit("/part-", 1)[1].split("-")[0]): r["rows"]
            for r in scan.groupBy(F.input_file_name().alias("f"))
            .agg(F.count("*").alias("rows"))
            .collect()
        }
        recorded = {p["partition"]: p["rows"] for p in m["per_partition"]}
        assert {k: v for k, v in recorded.items() if v} == per_file, stage
        assert m["n_partitions"] == len(m["per_partition"]) >= 1, stage
        assert m["rows"] == sum(recorded.values()) == scan.count(), stage
        assert ck.read(stage).schema == scan.schema, stage


def test_size_bucketed_stats(spark, e2e):
    out, transcripts, gold, anchors, _ = e2e
    blocked = spark.read.parquet(f"{out}/s3_blocked/data")
    comp = spark.read.parquet(f"{out}/s6_components/data")
    lp = evaluate.build_labeled_pairs(gold, blocked)
    rows = evaluate.size_bucketed_f1(lp, comp, gold).collect()
    assert len(rows) >= 2
    for r in rows:
        assert r["f1"] >= 0.95


def test_threshold_calibration_grid(spark, e2e):
    """L5 grid-search analogue: one-pass P/R/F1 over the threshold grid;
    the production threshold (0.65) must sit in the F1-optimal plateau."""
    out, transcripts, gold, anchors, _ = e2e
    blocked = spark.read.parquet(f"{out}/s3_blocked/data")
    scored = spark.read.parquet(f"{out}/s4_pairs/data")
    lp = evaluate.build_labeled_pairs(gold, blocked)
    cal = {r["threshold"]: r["f1"] for r in
           evaluate.calibrate_threshold(scored, lp).collect()}
    best = max(cal.values())
    assert cal[0.65] >= best - 1e-9
    assert best >= 0.99


def test_resolve_chain_job_count(spark, e2e, jobs_in_group, tmp_path):
    """``run_pipeline(learn_gold=…, learn_params=True)`` on a copy of the
    e2e fixture's stages: the linkage stages and the candidates resume,
    the weight fit, the parameter fit and LBP are built over one
    conversation assembly in 44 Spark jobs, and
    nothing stays pinned — the assembly is released."""
    out, transcripts, gold, anchors, _ = e2e
    work = tmp_path / "ck"
    shutil.copytree(out, work)
    pinned = lambda: len(spark.sparkContext._jsc.getPersistentRDDs())  # noqa: E731
    before = pinned()
    with jobs_in_group("resolve_chain") as jobs:
        m = run_pipeline(
            spark, transcripts, anchors, str(work),
            learn_gold=gold, learn_params=True,
        )
    assert pinned() == before
    assert m["param_tables"]["n_rho"] > 0 and m["lbp"]["pct_converged"] == 1.0
    assert len(jobs) == 44


def test_scalars_and_cluster_count_from_stage_writes(spark, e2e, tmp_path):
    """The corpus scalars the s2 writes observe equal
    stats.corpus_scalars, on the e2e fixture's stages (resumed: read
    from metrics.json) and on the seeded corpus (fresh writes); the
    cluster count equals the distinct cluster ids of the clusters
    stage."""
    from __spark_entry__ import _seeded_corpus
    from pboh_spark.pipeline import corpus_stages

    out, _, _, anchors, metrics = e2e
    *_, scalars = corpus_stages(StageCheckpointer(spark, out), anchors)
    assert scalars == stats.corpus_scalars(anchors)
    seeded = _seeded_corpus(spark)[2]
    *_, scalars = corpus_stages(StageCheckpointer(spark, str(tmp_path)), seeded)
    assert scalars == stats.corpus_scalars(seeded)
    clusters = spark.read.parquet(f"{out}/s6_clusters/data")
    assert metrics["n_clusters"] == clusters.select("cluster_id").distinct().count()
