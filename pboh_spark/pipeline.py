"""End-to-end pipeline orchestration + spark-submit CLI.

Stage graph (each stage checkpointed, resumable — checkpoint.py):

    transcripts ──► s1_mentions ──► s3_blocked ──► s4_pairs ──► s6_components
    anchors ─► s2_name_stats/entity_stats/cooccurrence ─┐
                                    └─► s5_assignments ◄┘  (LBP linking)

Run: spark-submit --py-files pboh_spark.zip -m pboh_spark.pipeline
     --input <transcripts> --anchors <anchors> --out <dir> [--cores N]
"""

from __future__ import annotations

import argparse
import sys
import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pboh_spark import blocking, cluster, evaluate, normalize, resolve, stats, synth
from pboh_spark import pairs as pairs_mod
from pboh_spark.checkpoint import StageCheckpointer
from pboh_spark.session import get_spark


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    anchors: DataFrame,
    out_dir: str,
    threshold: float = 0.65,
    block_cap: int = 512,
    top_k: int = 10,
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
    (``s5_param_tables``, kind-tagged rows) and joined into the LBP
    scoring exactly like the reference's OptimizedRhos/LambdasMap
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
    name_stats = ck.run_stage("s2_name_stats", lambda: stats.name_stats(anchors))
    ent_stats = ck.run_stage("s2_entity_stats", lambda: stats.entity_stats(anchors))
    # the checkpointed co-occurrence table doubles as the distinct-pair
    # count for the lambda backoff scalar — no second (doc,entity)
    # self-join, and on resume the count is a parquet metadata read
    cooc = ck.run_stage("s2_cooc", lambda: stats.cooccurrence(anchors))
    scalars = stats.corpus_scalars(anchors, cooc=cooc)
    lam = ck.run_stage(
        "s2_lambda",
        lambda: stats.with_lambda_potential(cooc, ent_stats, scalars),
        upstream=["s2_entity_stats", "s2_cooc"],
    )

    def build_blocked() -> DataFrame:
        # persist=False: the stage write below is what makes it durable
        salted, _ = blocking.salt_and_cap(
            blocking.blocks(link_nodes, name_stats, top_k=top_k),
            cap=block_cap, persist=False,
        )
        return salted

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
        # separate scan of the scored table afterwards; coalesce because
        # SUM over an empty stage observes NULL, not 0
        observe={
            "n_matches": F.coalesce(
                F.sum(F.col("is_match_pred").cast("bigint")), F.lit(0)
            )
        },
    )

    components = ck.run_stage(
        f"s6_components{sfx}",
        lambda: cluster.connected_components(scored.where("is_match_pred")),
        upstream=[f"s4_pairs{sfx}"],
    )
    clusters = ck.run_stage(
        f"s6_clusters{sfx}",
        lambda: (
            pairs_mod.surface_clusters_to_mentions(mentions, components)
            if surface_mode
            else cluster.clusters_table(mentions, components)
        ),
        upstream=[f"s6_components{sfx}", "s1_mentions"],
    )

    metrics: dict = {"stages": ck.summary(), "wall_sec": round(time.time() - t0, 2)}

    if with_lbp:
        cand = ck.run_stage(
            "s5_candidates",
            lambda: resolve.mention_candidates(mentions, name_stats, ent_stats, top_k),
            upstream=["s1_mentions", "s2_name_stats", "s2_entity_stats"],
        )
        weights = None
        if learn_gold is not None and fit_weights:
            from pboh_spark import learning
            from pboh_spark.stats import ScorerWeights

            if "log_smoothed" not in lam.columns:
                raise ValueError(
                    "--learn-weights needs the lambda table's affine "
                    "columns (log_smoothed, lp_sum); the resumed s2_lambda "
                    "checkpoint predates them — delete s2_lambda/ under the "
                    "out_dir so the stage rebuilds with the current schema"
                )

            def build_weight_history() -> DataFrame:
                cg = learning.learning_candidates(cand, mentions, learn_gold)
                cl = resolve.conv_lambda_pairs(
                    cand, lam, value_cols=("log_smoothed", "lp_sum")
                )
                _, hist = learning.learn_weights(
                    cg, cl, n_rounds=learn_rounds,
                    lam_const=resolve.backoff_lam_const(scalars),
                )
                return spark.createDataFrame(
                    [(h["round"], h["n_convs"], h["loss"],
                      h["f"], h["g"], h["h"], h["b"]) for h in hist],
                    "round int, n_convs int, loss double, f double, "
                    "g double, h double, b double",
                )

            hist_df = ck.run_stage(
                "s5_weights",
                build_weight_history,
                upstream=["s5_candidates", "s2_lambda"],
            )
            last = hist_df.orderBy(F.desc("round")).first()
            weights = ScorerWeights(
                f=float(last["f"]), g=float(last["g"]),
                h=float(last["h"]), b=float(last["b"]),
            )
            metrics["learned_weights"] = {
                "f": weights.f, "g": weights.g, "h": weights.h,
                "b": weights.b,
                "rounds": int(last["round"]),
                "final_loss": float(last["loss"]),
            }

        # with fitted weights, stored potentials are re-evaluated at the
        # fitted h (the checkpointed lambda_potential was baked at the
        # prior h); the param fit's round 0 and serving both read this
        lam_tbl = (
            lam if weights is None else resolve.lambda_at_h(lam, weights.h)
        )

        param_tables = None
        if learn_params:
            if learn_gold is None:
                raise ValueError("learn_params requires learn_gold")
            from pboh_spark import learning, param_learning
            from pboh_spark.stats import ScorerWeights

            def build_param_tables() -> DataFrame:
                cg = learning.learning_candidates(cand, mentions, learn_gold)
                w_fit = weights or ScorerWeights()
                rho_p, lam_p, hist = param_learning.learn_param_tables(
                    cg, lam_tbl, weights=w_fit,
                    n_rounds=param_rounds,
                    lam_const=resolve.backoff_lam_const(scalars),
                )
                # one kind-tagged table per stage: rho + lambda params AND
                # the per-round loss history, so resume restores all three
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
                    [(x["round"], x["loss"]) for x in hist],
                    "e1 long, w double",
                ).select(
                    F.lit("hist").alias("kind"),
                    F.lit(None).cast("string").alias("ngram"),
                    "e1", F.lit(None).cast("long").alias("e2"),
                    F.lit(None).cast("double").alias("w0"), "w",
                    F.lit(None).cast("double").alias("sq"),
                )
                return r.unionByName(l).unionByName(h)

            pt = ck.run_stage(
                "s5_param_tables",
                build_param_tables,
                upstream=["s5_candidates", "s2_lambda"]
                + (["s5_weights"] if weights is not None else []),
            )
            param_tables = (
                pt.where(F.col("kind") == "rho").select(
                    "ngram", F.col("e1").alias("entity"), "w"
                ),
                pt.where(F.col("kind") == "lam").select("e1", "e2", "w"),
            )
            hist_rows = (
                pt.where(F.col("kind") == "hist").orderBy("e1").collect()
            )
            n_kind = dict(pt.groupBy("kind").count().collect())
            metrics["param_tables"] = {
                "n_rho": n_kind.get("rho", 0),
                "n_lambda": n_kind.get("lam", 0),
                "rounds": len(hist_rows),
                "loss_history": [round(r["w"], 8) for r in hist_rows],
            }

        def build_assignments() -> DataFrame:
            c, tbl = cand, lam_tbl
            if param_tables is not None:
                from pboh_spark import param_learning

                # learned pair parameters override the λ table, learned
                # rho parameters the candidate priors
                c = param_learning.serve_candidates(
                    cand, mentions, param_tables[0]
                )
                tbl = param_learning.serve_lambda_table(
                    lam_tbl, param_tables[1]
                )
            return resolve.resolve_entities(
                c, resolve.conv_lambda_pairs(c, tbl), weights=weights,
                max_product=True, scalars=scalars,
            )

        # fitted-weights assignments checkpoint under their own stage name
        # (like the _surf suffix): toggling --learn-weights on an existing
        # out_dir must rebuild, never silently reuse the other mode's LBP
        # output — and the weight stage is an explicit upstream
        assign_name = "s5_assignments" if weights is None else "s5_assignments_fit"
        if param_tables is not None:
            assign_name += "_params"
        assign_upstream = ["s5_candidates", "s2_lambda"] + (
            ["s5_weights"] if weights is not None else []
        ) + (["s5_param_tables"] if param_tables is not None else [])
        assignments = ck.run_stage(
            assign_name,
            build_assignments,
            upstream=assign_upstream,
            observe={
                "pct_converged": F.avg(F.col("converged").cast("int")),
                "avg_iters": F.avg(F.col("n_iters")),
            },
        )
        sm = ck.stage_metrics(assign_name)
        pct = sm.get("observed", {}).get("pct_converged")
        avg_iters = sm.get("observed", {}).get("avg_iters")
        # bucketed convergence rollup ≙ GlobalStats.scala:200-209 — two
        # tiny aggs over the checkpointed assignments parquet (column-
        # pruned scan of a small table; the stage write itself already
        # carried the global observes above)
        if pct is None or avg_iters is None:
            # stage resumed from a checkpoint written before the observe()
            # change (its metrics.json has no 'observed') — compute once
            row = assignments.agg(
                F.avg(F.col("converged").cast("int")).alias("p"),
                F.avg(F.col("n_iters")).alias("a"),
            ).collect()[0]
            pct = row["p"] if pct is None else pct
            avg_iters = row["a"] if avg_iters is None else avg_iters
        conv_rows = resolve.convergence_report(assignments).collect()
        metrics["lbp"] = {
            "n_assignments": sm.get("rows"),
            "pct_converged": pct,
            "avg_iters": avg_iters,
            "convergence_by_size": [r.asDict() for r in conv_rows],
        }

    # row counts come from the stage metrics (counted once during the
    # checkpoint write); n_matches from the observed aggregate — the only
    # post-hoc action left is the distinct cluster count
    metrics["n_pairs_scored"] = ck.stage_metrics(f"s4_pairs{sfx}").get("rows")
    n_matches = ck.stage_metrics(f"s4_pairs{sfx}").get("observed", {}).get(
        "n_matches"
    )
    if n_matches is None:  # pre-observe checkpoint resumed — count once
        n_matches = scored.where("is_match_pred").count()
    metrics["n_matches"] = n_matches
    metrics["n_clusters"] = clusters.select("cluster_id").distinct().count()
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
