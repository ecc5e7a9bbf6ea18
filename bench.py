#!/usr/bin/env python
"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the linkage
pipeline's candidate-pairs-scored/sec (the BASELINE.json throughput
metric) on the seeded synthetic transcript corpus sized to the same sf.

Prints ONE JSON line:
  {"metric": "headline_suite_sec", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>,
   "pairs_scored": N, "pairs_per_sec": X}

--scaling runs the linkage job at local[N] and local[4N] on the SAME
input and reports both throughputs + efficiency (the sandbox stand-in
for the N vs 4N executor criterion) and appends the result to BENCH.md.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# the headline suite: one per operator family (relational agg/join chain,
# PBOH potentials, pair scoring, dedup LSH, clustering, text, ANN)
BENCH_QUERIES = [
    "rel_q1_pricing_summary",
    "rel_q3_top_orders",
    "rel_q5_nation_revenue",
    "rel_window_running",
    "stat_name_stats",
    "stat_name_stats_redirected",
    "stat_lambda_potential",
    "link_pair_scoring",
    "dedup_lsh_pairs",
    "dedup_embedding_lsh_pairs",
    "dedup_simhash",
    "cc_components",
    "text_quality",
    "text_fingerprint",
    "ann_cosine_topk",
    # the PBOH compute core (r4): bounded max-product LBP resolution and
    # the 12-round pseudolikelihood weight fit on the seeded corpus —
    # timed every round so kernel regressions show up in BENCH deltas,
    # not only in correctness
    "pboh_resolve_lbp",
    "pboh_learn_weights",
]


def _force(df) -> None:
    """Fully materialize (noop sink: computes every column, writes nothing)."""
    df.write.format("noop").mode("overwrite").save()


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.0


def run_headline(
    spark, sf_dir: str, trials: int = 3
) -> tuple[dict[str, float], dict[str, list[float]]]:
    """Best-of-``trials`` per query (min is the reproducible number on a
    shared box; the per-query spread is emitted so round-over-round
    deltas can be read against the noise floor instead of guessed)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    times: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    for name in BENCH_QUERIES:
        runs = []
        for _ in range(trials):
            # the seeded fits memoize per session (conformance runs each
            # fit's TWO consumer queries); a timed trial must re-run the
            # fit or pboh_learn_weights would measure a cache hit
            entrymod._FIT_CACHE.clear()
            t0 = time.time()
            _force(qs[name](spark, sf_dir))
            runs.append(round(time.time() - t0, 3))
        times[name] = min(runs)
        spreads[name] = runs
    return times, spreads


def linkage_pairs_throughput(
    spark, n_conversations: int, block_cap: int = 64, surface_mode: bool = False
) -> tuple[int, float]:
    """Blocking → within-block self-join → vectorized pair scoring on the
    seeded synthetic corpus; returns (pairs_scored, seconds). The corpus is
    deterministic and identical at any parallelism (synth seeds per conv).
    ``surface_mode`` runs the same stages over the distinct-surface node
    table (the 10^12-turn path) — same clock, far smaller pair space."""
    from pyspark.sql import functions as F

    from pboh_spark import blocking, stats, synth
    from pboh_spark import pairs as pairs_mod
    from pboh_spark.normalize import extract_mentions
    from pboh_spark.util import release

    uni = synth.EntityUniverse()
    transcripts, _ = synth.generate_transcripts(
        spark, n_conversations, universe=uni, partitions=128
    )
    anchors = synth.generate_anchors(spark, 4000, universe=uni)
    ns = stats.name_stats(anchors).cache()
    ns.count()
    # materialize the input corpus before the clock starts — the metric is
    # pairs-scored/sec of the blocking+scoring stages, not synth generation
    mentions = extract_mentions(transcripts).cache()
    mentions.count()

    t0 = time.time()
    nodes = pairs_mod.surface_nodes(mentions) if surface_mode else mentions
    # the final action aggregates over the fused score — a bare count()
    # would let Catalyst prune the scoring columns and the similarity
    # UDF would never run
    salted, _ = blocking.salt_and_cap(
        blocking.blocks(nodes, ns), cap=block_cap
    )
    scored = pairs_mod.score_pairs(pairs_mod.candidate_pairs(salted))
    row = scored.agg(
        F.count("*").alias("n"), F.sum("score").alias("chk")
    ).collect()[0]
    dt = time.time() - t0
    release(salted, mentions, ns)
    return int(row["n"]), dt


def _prep_pairs(n_conv: int, out_path: str, partitions: int) -> None:
    """Materialize the candidate-pair table once (full parallelism) so
    both scaling phases score the IDENTICAL input. Repartitioned so the
    scan yields many waves of tasks at 4N cores — a handful of large
    files makes the last-task tail dominate and masks real scaling."""
    from pboh_spark import blocking, stats, synth
    from pboh_spark import pairs as pairs_mod
    from pboh_spark.normalize import extract_mentions
    from pboh_spark.session import get_spark

    spark = get_spark(cores=CPUS, shuffle_partitions=128)
    uni = synth.EntityUniverse()
    transcripts, _ = synth.generate_transcripts(
        spark, n_conv, universe=uni, partitions=128
    )
    anchors = synth.generate_anchors(spark, 4000, universe=uni)
    ns = stats.name_stats(anchors)
    mentions = extract_mentions(transcripts)
    salted, _ = blocking.salt_and_cap(blocking.blocks(mentions, ns), cap=64)
    pairs_mod.candidate_pairs(salted).repartition(partitions).write.mode(
        "overwrite"
    ).parquet(out_path)
    spark.stop()


def _one_shot(cores: int, pairs_path: str, shuffle_partitions: int) -> None:
    """One pinned scaling phase: score the pre-materialized pair table —
    the 'candidate-pairs-scored/sec' job itself. Full warm-up pass
    (workers, page cache, codegen), then best-of-3. Invoked as a
    taskset-pinned subprocess by --scaling so the process really has only
    N cores (JVM GC/shuffle threads included) — local[N] on a bigger box
    otherwise overstates N-core throughput."""
    from pyspark.sql import functions as F

    from pboh_spark import pairs as pairs_mod
    from pboh_spark.session import get_spark

    spark = get_spark(
        cores=cores,
        app_name=f"bench_scaling_{cores}",
        shuffle_partitions=shuffle_partitions,
    )
    df = spark.read.parquet(pairs_path)

    def run() -> tuple[int, float]:
        t0 = time.time()
        row = (
            pairs_mod.score_pairs(df)
            .agg(F.count("*").alias("n"), F.sum("score").alias("chk"))
            .collect()[0]
        )
        return int(row["n"]), time.time() - t0

    run()  # warm-up
    trials = [run() for _ in range(3)]
    n_pairs = trials[0][0]
    secs = min(t for _, t in trials)
    print(json.dumps(
        {"pairs_scored": n_pairs, "sec": round(secs, 2),
         "trials_sec": [round(t, 2) for _, t in trials],
         "pairs_per_sec": round(n_pairs / secs, 1)}
    ))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true",
                    help="run linkage at local[N] and local[4N], report efficiency")
    ap.add_argument("--n", type=int, default=8, help="N for the scaling run")
    ap.add_argument("--n-conversations", type=int, default=None)
    ap.add_argument("--one-shot-cores", type=int, default=None,
                    help=argparse.SUPPRESS)
    ap.add_argument("--pairs-path", type=str, default=None,
                    help=argparse.SUPPRESS)
    ap.add_argument("--prep-pairs", action="store_true",
                    help=argparse.SUPPRESS)
    ap.add_argument("--shuffle-partitions", type=int, default=None,
                    help=argparse.SUPPRESS)
    args = ap.parse_args()

    from pboh_spark.session import get_spark

    sf = _sf_of(SF_DIR)
    n_conv = args.n_conversations or max(200, int(sf * 20000))

    if args.prep_pairs:
        _prep_pairs(n_conv, args.pairs_path, args.shuffle_partitions or 256)
        print("prepared")
        return

    if args.one_shot_cores:
        _one_shot(args.one_shot_cores, args.pairs_path,
                  args.shuffle_partitions or 128)
        return

    if args.scaling:
        import shutil
        import subprocess
        import tempfile

        # the measured job is pair SCORING over a pre-materialized pair
        # table (the BASELINE metric: candidate-pairs-scored/sec) — the
        # same input and plan at both parallelism levels. Corpus is large
        # enough that per-task work dominates fixed stage latency AND the
        # per-worker JW memo fill amortizes (4N cores spread the distinct
        # pairs over 4× more python workers, so a too-small corpus
        # charges the big configuration 4× the cache misses and
        # understates its scaling); each phase is a subprocess pinned to
        # its core budget with taskset.
        n_conv_scaling = args.n_conversations or max(10000, int(sf * 2000000))
        sp = 16 * args.n
        scan_parts = 16 * 4 * args.n
        have_taskset = shutil.which("taskset") is not None
        tmpdir = tempfile.mkdtemp(prefix="bench_pairs_")
        pairs_path = f"{tmpdir}/pairs"
        try:
            subprocess.run(
                [sys.executable, __file__, "--prep-pairs",
                 "--pairs-path", pairs_path,
                 "--n-conversations", str(n_conv_scaling),
                 "--shuffle-partitions", str(scan_parts)],
                capture_output=True, text=True, check=True,
            )
            results = {}
            for cores in (args.n, 4 * args.n):
                cmd = []
                if have_taskset:
                    cmd = ["taskset", "-c", f"0-{cores - 1}"]
                cmd += [
                    sys.executable, __file__,
                    "--one-shot-cores", str(cores),
                    "--pairs-path", pairs_path,
                    "--shuffle-partitions", str(sp),
                ]
                proc = subprocess.run(
                    cmd, capture_output=True, text=True, check=True
                )
                results[cores] = json.loads(proc.stdout.strip().splitlines()[-1])
        finally:
            shutil.rmtree(tmpdir, ignore_errors=True)
        lo, hi = args.n, 4 * args.n
        eff = results[hi]["pairs_per_sec"] / (4 * results[lo]["pairs_per_sec"])
        out = {
            "metric": "scaling_efficiency",
            "value": round(eff, 3),
            "unit": "ratio",
            "n_cores": lo,
            "n4_cores": hi,
            "pinned": have_taskset,
            "results": results,
            "n_conversations": n_conv_scaling,
        }
        print(json.dumps(out))
        return

    spark = get_spark(cores=CPUS, app_name="bench")
    # JVM/codegen warmup so the first timed query isn't charged for init
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(1000).groupBy(
        "l_returnflag"
    ).count().collect()
    times, spreads = run_headline(spark, SF_DIR)
    # recall@10 of the approximate ANN paths vs exact brute force — the
    # coverage diagnostic the reference prints for its candidate index
    # (VerifyEDAbstract.scala:104-108); asserted ≥ floor in tests/test_ops
    import __spark_entry__ as entrymod

    from pboh_spark.ops.simsearch import recall_at_k
    from pboh_spark.util import release

    qs = entrymod.queries()
    bf = qs["ann_cosine_topk"](spark, SF_DIR).cache()
    bf.count()
    ann_recall = {
        name: round(recall_at_k(qs[name](spark, SF_DIR), bf), 3)
        for name in ("ann_lsh_topk", "ann_ivf_topk")
    }
    release(bf)
    # the same diagnostic on planted-CLUSTER embeddings — the realistic
    # regime for an IVF index (uniform vectors are its worst case); the
    # Lloyd-refined defaults must clear 0.7 here (asserted in test_ops)
    from pyspark.sql import functions as F

    from pboh_spark import synth
    from pboh_spark.ops.simsearch import cosine_topk_bruteforce, ivf_topk, lsh_topk

    cemb = synth.generate_clustered_embeddings(spark, 2000, n_clusters=20).cache()
    cq = cemb.where(F.col("vec_id") < 20)
    cbf = cosine_topk_bruteforce(cemb, cq, k=10).cache()
    cbf.count()
    ann_recall_clustered = {
        "ann_ivf_topk": round(
            recall_at_k(ivf_topk(cemb, cq, k=10, n_cells=16, n_probe=8), cbf), 3
        ),
        "ann_lsh_topk": round(
            recall_at_k(lsh_topk(cemb, cq, dim=64, k=10), cbf), 3
        ),
    }
    release(cemb, cbf)
    # linkage throughput: best of 3 (the join-heavy job shows ±30%
    # run-to-run variance on this box; the min is the reproducible number)
    runs = [linkage_pairs_throughput(spark, n_conv) for _ in range(3)]
    n_pairs, secs = min(runs, key=lambda r: r[1])
    times["linkage_pairs"] = round(secs, 3)
    # the 10^12-turn path: identical stages over distinct surfaces —
    # reported every round so the flagship design is always measured
    surf_pairs, surf_secs = linkage_pairs_throughput(
        spark, n_conv, surface_mode=True
    )
    times["linkage_surface"] = round(surf_secs, 3)
    spreads["linkage_pairs"] = sorted(round(s, 3) for _, s in runs)
    total = round(sum(times.values()), 3)
    out = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "query_trials": spreads,
        "trials_per_query": 3,
        "sf": sf,
        "pairs_scored": n_pairs,
        "pairs_per_sec": round(n_pairs / secs, 1),
        "surface_pairs_scored": surf_pairs,
        "surface_pair_reduction": round(n_pairs / max(surf_pairs, 1), 1),
        "ann_recall_at_10": ann_recall,
        "ann_recall_clustered": ann_recall_clustered,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
