"""End-to-end pipeline orchestration + spark-submit CLI.

Stage graph (each stage checkpointed, resumable — checkpoint.py):

    transcripts ──► s1_mentions ──► s3_blocked ──► s4_pairs ──► s6_components
    anchors ─► s2_name_stats/entity_stats/cooccurrence ─┐
                                    └─► s5_assignments ◄┘  (LBP linking)

The resolution chain — s5_weights, s5_param_tables, s5_assignments* —
reads one conversation assembly (resolve.assemble_conversations), built
once per call when one of those stages has to be built and released
before the call returns. Corpus scalars, fit summaries and the cluster
count come from what the stage writes observed (``df.observe``) and
from their footer row counts: run_pipeline runs no job of its own for
them.

Run: spark-submit --py-files pboh_spark.zip -m pboh_spark.pipeline
     --input <transcripts> --anchors <anchors> --out <dir> [--cores N]
"""

from __future__ import annotations

import argparse
import sys
import json
import time

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pboh_spark import blocking, cluster, evaluate, normalize, resolve, stats, synth
from pboh_spark import pairs as pairs_mod
from pboh_spark.checkpoint import StageCheckpointer
from pboh_spark.session import get_spark
from pboh_spark.util import release


def _total(col: Column) -> Column:
    """SUM that observes 0, not NULL, over an empty stage."""
    return F.coalesce(F.sum(col), F.lit(0))


def corpus_stages(
    ck: StageCheckpointer, anchors: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame, dict[str, int]]:
    """The s2 statistics stages — name stats, entity stats and the
    unpruned co-occurrence table — and stats.corpus_scalars' three
    values, taken from those writes with no job of their own: Σ
    total_freq over each name's rank-1 row counts every anchor link
    once, Σ popularity = Σ_d n_d(n_d − 1) counts the ordered link pairs,
    and the co-occurrence stage's footer row count is the distinct-pair
    count."""
    name_stats = ck.run_stage(
        "s2_name_stats", lambda: stats.name_stats(anchors),
        observe={"num_total_links": _total(
            F.when(F.col("rank") == 1, F.col("total_freq"))
        )},
    )
    ent_stats = ck.run_stage(
        "s2_entity_stats", lambda: stats.entity_stats(anchors),
        observe={"num_total_pairs": _total(F.col("popularity"))},
    )
    cooc = ck.run_stage("s2_cooc", lambda: stats.cooccurrence(anchors))
    scalars = {
        "num_total_links": ck.observed("s2_name_stats")["num_total_links"],
        "num_total_pairs": ck.observed("s2_entity_stats")["num_total_pairs"],
        "num_distinct_pairs": ck.stage_metrics("s2_cooc")["rows"],
    }
    return name_stats, ent_stats, cooc, scalars


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    anchors: DataFrame,
    out_dir: str,
    threshold: float = 0.65,
    with_lbp: bool = True,
    surface_mode: bool = False,
    learn_gold: DataFrame | None = None,
    learn_rounds: int = 12,
    learn_params: bool = False,
    param_rounds: int = 3,
    fit_weights: bool = True,
) -> dict:
    """Full run; returns metrics dict. All stages via StageCheckpointer —
    re-invoking with the same out_dir resumes after the last complete
    stage.

    ``surface_mode`` switches stages 3-6 to the distinct-surface graph
    (pairs.surface_nodes): pair features depend only on the surface
    strings, so each distinct pair is scored once and cluster labels are
    joined back to instances — the pair space is bounded by the surface
    dictionary, not the corpus (the 10^12-turn path).

    ``learn_gold`` (a gold-mention table) turns on the L2/L3 weight-fit
    stage: {f, g, h} are re-fit on the gold corpus by pseudolikelihood
    AdaGrad (learning.learn_weights — the reference's validated
    constants were fit on Wikipedia; a transcript deployment re-fits on
    its own annotations) and the fitted weights drive the LBP stage. The
    fit history checkpoints like any stage, so resume skips it.

    ``learn_params`` additionally fits the PER-PARAMETER tables (L4's
    payload — param_learning.py): per-(surface, entity) rho and
    per-frequent-pair lambda corrections, checkpointed as one stage
    (``s5_param_tables``, kind-tagged rows) and applied by key in the
    LBP kernel exactly like the reference's OptimizedRhos/LambdasMap
    (ScorerFullLearnedParams.scala:38-54). Resume reloads the tables
    from parquet — no re-fit."""
    ck = StageCheckpointer(spark, out_dir)
    t0 = time.time()
    # surface-mode stages get distinct names — a mode switch on an
    # existing out_dir must rebuild, not silently reuse the other mode's
    # checkpoints (stage fingerprints cover upstream data, not builders)
    sfx = "_surf" if surface_mode else ""

    mentions = ck.run_stage(
        "s1_mentions", lambda: normalize.extract_mentions(transcripts)
    )
    link_nodes = (
        ck.run_stage(
            "s1_surfaces",
            lambda: pairs_mod.surface_nodes(mentions),
            upstream=["s1_mentions"],
        )
        if surface_mode
        else mentions
    )
    name_stats, ent_stats, cooc, scalars = corpus_stages(ck, anchors)
    lam = ck.run_stage(
        "s2_lambda",
        lambda: stats.with_lambda_potential(cooc, ent_stats, scalars),
        upstream=["s2_entity_stats", "s2_cooc"],
    )

    def build_blocked() -> DataFrame:
        # persist=False: the stage write below is what makes it durable
        return blocking.salt_and_cap(
            blocking.blocks(link_nodes, name_stats), persist=False
        )

    blocked = ck.run_stage(
        f"s3_blocked{sfx}",
        build_blocked,
        upstream=["s1_mentions", "s2_name_stats"],
        repartition_by="block_key",
    )

    scored = ck.run_stage(
        f"s4_pairs{sfx}",
        lambda: pairs_mod.score_pairs(
            pairs_mod.candidate_pairs(blocked), lam, threshold=threshold
        ),
        upstream=[f"s3_blocked{sfx}", "s2_lambda"],
        # match count rides the stage-write job (df.observe — A4), no
        # separate scan of the scored table afterwards
        observe={"n_matches": _total(F.col("is_match_pred").cast("bigint"))},
    )

    # the component roots (each component's cluster_id is its min member
    # id) ride the components write: every link node outside a component
    # is its own cluster, so n_clusters = nodes − component nodes + roots
    components = ck.run_stage(
        f"s6_components{sfx}",
        lambda: cluster.connected_components(scored.where("is_match_pred")),
        upstream=[f"s4_pairs{sfx}"],
        observe={"n_roots": _total(
            (F.col("id") == F.col("cluster_id")).cast("bigint")
        )},
    )
    ck.run_stage(
        f"s6_clusters{sfx}",
        lambda: (
            pairs_mod.surface_clusters_to_mentions(mentions, components)
            if surface_mode
            else cluster.clusters_table(mentions, components)
        ),
        upstream=[f"s6_components{sfx}", "s1_mentions"],
    )

    metrics: dict = {"stages": ck.summary(), "wall_sec": round(time.time() - t0, 2)}

    # LBP and both fits read one conversation assembly: built on first
    # use — only when one of their stages has to be built — pinned for
    # the call, released before it returns. persist, not
    # localCheckpoint(eager=False): under AQE the latter runs every
    # shuffle stage below it at call time (3 to 10 jobs for a λ probe of
    # this shape); persist runs none until the first consumer's action
    asm: list[DataFrame] = []

    def assembly() -> DataFrame:
        if not asm:
            if "log_smoothed" not in lam.columns:
                raise ValueError(
                    "the conversation assembly needs the lambda table's "
                    "affine columns (log_smoothed, lp_sum); the resumed "
                    "s2_lambda checkpoint predates them — delete s2_lambda/ "
                    "under the out_dir so the stage rebuilds with the "
                    "current schema"
                )
            asm.append(resolve.assemble_conversations(
                cand, mentions, lam, learn_gold
            ).persist())
        return asm[0]

    try:
        if with_lbp:
            cand = ck.run_stage(
                "s5_candidates",
                lambda: resolve.mention_candidates(
                    mentions, name_stats, ent_stats
                ),
                upstream=["s1_mentions", "s2_name_stats", "s2_entity_stats"],
            )
            lam_const = resolve.backoff_lam_const(scalars)
            weights = None
            if learn_gold is not None and fit_weights:
                from pboh_spark import learning
                from pboh_spark.stats import ScorerWeights

                def build_weight_history() -> DataFrame:
                    _, hist = learning.learn_weights(
                        assembly(), n_rounds=learn_rounds, lam_const=lam_const
                    )
                    return spark.createDataFrame(
                        pd.DataFrame(hist)[
                            ["round", "n_convs", "loss", "f", "g", "h", "b"]
                        ],
                        "round int, n_convs int, loss double, f double, "
                        "g double, h double, b double",
                    )

                ck.run_stage(
                    "s5_weights",
                    build_weight_history,
                    upstream=["s5_candidates", "s2_lambda"],
                    # the last round's row rides the write
                    observe={
                        "rounds": F.max("round"),
                        **{k: F.max_by(k, "round")
                           for k in ("loss", "f", "g", "h", "b")},
                    },
                )
                last = ck.observed("s5_weights")
                weights = ScorerWeights(
                    f=float(last["f"]), g=float(last["g"]),
                    h=float(last["h"]), b=float(last["b"]),
                )
                metrics["learned_weights"] = {
                    "f": weights.f, "g": weights.g, "h": weights.h,
                    "b": weights.b,
                    "rounds": int(last["rounds"]),
                    "final_loss": float(last["loss"]),
                }

            param_tables = None
            if learn_params:
                if learn_gold is None:
                    raise ValueError("learn_params requires learn_gold")
                from pboh_spark import param_learning

                def build_param_tables() -> DataFrame:
                    rho_p, lam_p, hist = param_learning.learn_param_tables(
                        assembly(), lam, weights=weights,
                        n_rounds=param_rounds, lam_const=lam_const,
                    )
                    # one kind-tagged table per stage: rho + lambda params
                    # AND the per-round loss history, so resume restores
                    # all three
                    r = rho_p.select(
                        F.lit("rho").alias("kind"), "ngram",
                        F.col("entity").alias("e1"),
                        F.lit(None).cast("long").alias("e2"), "w0", "w", "sq",
                    )
                    l = lam_p.select(
                        F.lit("lam").alias("kind"),
                        F.lit(None).cast("string").alias("ngram"),
                        "e1", "e2", "w0", "w", "sq",
                    )
                    h = spark.createDataFrame(
                        pd.DataFrame({
                            "e1": np.array([x["round"] for x in hist], np.int64),
                            "w": np.array([x["loss"] for x in hist], np.float64),
                        }),
                        "e1 long, w double",
                    ).select(
                        F.lit("hist").alias("kind"),
                        F.lit(None).cast("string").alias("ngram"),
                        "e1", F.lit(None).cast("long").alias("e2"),
                        F.lit(None).cast("double").alias("w0"), "w",
                        F.lit(None).cast("double").alias("sq"),
                    )
                    return r.unionByName(l).unionByName(h)

                kind = F.col("kind")
                pt = ck.run_stage(
                    "s5_param_tables",
                    build_param_tables,
                    upstream=["s5_candidates", "s2_lambda"]
                    + (["s5_weights"] if weights is not None else []),
                    # per-kind counts and the loss history ride the write
                    observe={
                        "n_rho": _total((kind == "rho").cast("bigint")),
                        "n_lambda": _total((kind == "lam").cast("bigint")),
                        "loss_history": F.transform(
                            F.sort_array(F.collect_list(
                                F.when(kind == "hist", F.struct("e1", "w"))
                            )),
                            lambda x: x["w"],
                        ),
                    },
                )
                param_tables = (
                    pt.where(kind == "rho").select(
                        "ngram", F.col("e1").alias("entity"), "w"
                    ),
                    pt.where(kind == "lam").select("e1", "e2", "w"),
                )
                o = ck.observed("s5_param_tables")
                metrics["param_tables"] = {
                    "n_rho": o["n_rho"],
                    "n_lambda": o["n_lambda"],
                    "rounds": len(o["loss_history"]),
                    "loss_history": [round(x, 8) for x in o["loss_history"]],
                }

            # fitted-weights assignments checkpoint under their own stage
            # name (like the _surf suffix): toggling --learn-weights on an
            # existing out_dir must rebuild, never silently reuse the other
            # mode's LBP output — and the weight stage is an explicit
            # upstream
            assign_name = (
                "s5_assignments" if weights is None else "s5_assignments_fit"
            )
            if param_tables is not None:
                assign_name += "_params"
            assign_upstream = ["s5_candidates", "s2_lambda"] + (
                ["s5_weights"] if weights is not None else []
            ) + (["s5_param_tables"] if param_tables is not None else [])
            assignments = ck.run_stage(
                assign_name,
                lambda: resolve.resolve_entities(
                    assembly(), weights=weights, max_product=True,
                    scalars=scalars, params=param_tables,
                ),
                upstream=assign_upstream,
                observe={
                    "pct_converged": F.avg(F.col("converged").cast("int")),
                    "avg_iters": F.avg(F.col("n_iters")),
                },
            )
            # bucketed convergence rollup ≙ GlobalStats.scala:200-209 —
            # two tiny aggs over the checkpointed assignments parquet
            # (column-pruned scan of a small table; the stage write itself
            # already carried the global observes above)
            conv_rows = resolve.convergence_report(assignments).collect()
            o = ck.observed(assign_name)
            metrics["lbp"] = {
                "n_assignments": ck.stage_metrics(assign_name).get("rows"),
                "pct_converged": o["pct_converged"],
                "avg_iters": o["avg_iters"],
                "convergence_by_size": [r.asDict() for r in conv_rows],
            }
    finally:
        release(*asm)

    # row counts come from the stage metrics (footer counts of each
    # stage write) and the rest from what the writes observed
    metrics["n_pairs_scored"] = ck.stage_metrics(f"s4_pairs{sfx}").get("rows")
    metrics["n_matches"] = ck.observed(f"s4_pairs{sfx}")["n_matches"]
    metrics["n_clusters"] = (
        ck.stage_metrics("s1_surfaces" if surface_mode else "s1_mentions")["rows"]
        - ck.stage_metrics(f"s6_components{sfx}")["rows"]
        + ck.observed(f"s6_components{sfx}")["n_roots"]
    )
    metrics["text_equality_violations"] = normalize.verify_text_equality(
        transcripts, normalize.normalize_turns(transcripts)
    )
    return metrics


def main() -> None:
    ap = argparse.ArgumentParser(description="pboh_spark record-linkage pipeline")
    ap.add_argument("--input", help="transcripts parquet/iceberg path (default: synth)")
    ap.add_argument("--anchors", help="anchor corpus path (default: synth)")
    ap.add_argument("--out", required=True, help="checkpoint/output dir")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--n-conversations", type=int, default=2000)
    ap.add_argument("--threshold", type=float, default=0.65)
    ap.add_argument("--evaluate", action="store_true", help="pairwise F1 vs synth gold")
    ap.add_argument(
        "--learn-weights", action="store_true",
        help="re-fit {f,g,h} on gold annotations before LBP (synth gold "
             "when --input is omitted; requires gold for custom inputs)",
    )
    ap.add_argument(
        "--learn-params", action="store_true",
        help="additionally fit per-(surface,entity) rho and per-pair "
             "lambda parameter tables (L4 payload) and serve them in LBP",
    )
    ap.add_argument(
        "--surface-mode", action="store_true",
        help="link distinct surfaces, expand labels to instances (the "
             "web-scale path; see SCALE.md)",
    )
    args = ap.parse_args()

    spark = get_spark(cores=args.cores, app_name="pboh_pipeline")
    # under spark-submit the JVM is already up when this code runs, so
    # session.py's spark.driver.memory conf is a no-op — a default 1g
    # heap OOMs the 32-thread local pipeline past ~1000 conversations.
    # Surface it loudly instead of dying mid-stage.
    heap = int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
    n_threads = spark.sparkContext.defaultParallelism
    if heap < 4 << 30 and n_threads >= 16:
        print(
            f"WARNING: driver heap is only {heap / (1 << 30):.1f} GiB for "
            f"{n_threads} local task threads — pass --driver-memory 8g to "
            "spark-submit (in-code spark.driver.memory cannot resize a "
            "running JVM)",
            file=sys.stderr,
        )
    uni = synth.EntityUniverse()
    if args.input:
        transcripts = spark.read.parquet(args.input)
        gold = None
    else:
        transcripts, gold = synth.generate_transcripts(
            spark, args.n_conversations, universe=uni
        )
    anchors = (
        spark.read.parquet(args.anchors)
        if args.anchors
        else synth.generate_anchors(spark, max(args.n_conversations * 2, 4000), universe=uni)
    )
    if (args.learn_weights or args.learn_params) and gold is None:
        ap.error("--learn-weights/--learn-params need gold annotations "
                 "(omit --input to use the synthetic gold corpus)")
    metrics = run_pipeline(
        spark, transcripts, anchors, args.out, args.threshold,
        surface_mode=args.surface_mode,
        learn_gold=gold if (args.learn_weights or args.learn_params) else None,
        learn_params=args.learn_params,
        fit_weights=args.learn_weights,
    )

    if args.evaluate and gold is not None:
        ck = StageCheckpointer(spark, args.out)
        if args.surface_mode:
            # blocked rows are surface-level (null conv/turn): rebuild the
            # labeled-pair universe at the INSTANCE level with the same
            # block sources as instance mode (candidate + LSH), reading
            # the checkpointed name_stats rather than recomputing it
            mentions = ck.read("s1_mentions")
            ns = ck.read("s2_name_stats")
            lp = evaluate.build_labeled_pairs(gold, blocking.blocks(mentions, ns))
            clusters = ck.read("s6_clusters_surf")
            comp = clusters.select(
                F.col("mention_id").alias("id"), F.col("cluster_id")
            )
        else:
            blocked = ck.read("s3_blocked")
            comp = ck.read("s6_components")
            lp = evaluate.build_labeled_pairs(gold, blocked)
        metrics["pairwise"] = evaluate.pairwise_f1(lp, comp)
        metrics["pairwise_macro"] = evaluate.macro_pairwise_f1(lp, comp)
    print(json.dumps(metrics, indent=1, default=str))


if __name__ == "__main__":
    main()
