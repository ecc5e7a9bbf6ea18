"""Hot-key skew stress: measure what ``blocking.salt_and_cap`` buys.

The engine's skew story (blocking.py docstring, SCALE.md) is that a
block larger than ``cap`` is salt-split into ⌈n/cap⌉ sub-blocks,
bounding any single block's pair work at ~cap² — the distributed
analogue of the reference's doc-size guards (EvalOnDatasets.scala:172).
Until round 5 that claim had analytical evidence only. This tool
measures it: a corpus with ONE pathologically hot block (n_hot mentions
sharing a block key — the "every transcript mentions the assistant"
shape) next to a constant small-block background, pushed through the
real ``salt_and_cap → pairs.candidate_pairs`` path twice per size:

* ``unsalted`` — cap = 2³¹ (no block splits): the hot block expands to
  C(n_hot, 2) pairs, and because the self-join hashes on ``block_key``,
  ALL of that expansion lands in ONE task. Wall time should grow
  ~quadratically in n_hot no matter how many cores exist.
* ``salted``  — cap = 512 (the pipeline default): ⌈n_hot/512⌉
  sub-blocks, each ≤ ~512 members, expanded in parallel. Pair count and
  wall time should grow ~linearly in n_hot.

The sweep over n_hot makes the TREND the evidence (a single point could
be box noise): doubling n_hot should ~4× the unsalted time and ~2× the
salted one. The two modes intentionally produce different pair counts —
bounding the pair space IS the operator's job; the lost cross-sub-block
pairs are the documented recall trade that ``link_blocking_metrics``
reports and surface-mode sidesteps.

Input is built with ``spark.range`` + column expressions only (no
Python row loop, no pandas UDF) so the measurement isolates the
salting/self-join behavior. Deterministic: ids and ngrams are pure
functions of the range index.

Usage::

    python tools/skew_bench.py                     # default sweep
    python tools/skew_bench.py --n-hot 5000 10000 20000 --cap 512
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

NO_CAP = 1 << 31


def _blocked_corpus(spark, n_hot: int, n_bg_blocks: int, bg_size: int):
    """(block_key, conv_id, turn_idx, mention_id, ngram, cand_entity,
    prob) — one hot block 'e1' of n_hot mentions plus n_bg_blocks
    background blocks of bg_size, shaped exactly like blocking output."""
    from pyspark.sql import functions as F

    hot = spark.range(n_hot).select(
        F.lit("e1").alias("block_key"),
        F.concat(F.lit("c"), (F.col("id") % 997).cast("string")).alias(
            "conv_id"
        ),
        (F.col("id") % 25).cast("int").alias("turn_idx"),
        F.col("id").alias("mention_id"),
        # varied surfaces so downstream stages see realistic strings
        F.concat(F.lit("hot surface "), (F.col("id") % 997).cast("string"))
        .alias("ngram"),
        F.lit(1).cast("bigint").alias("cand_entity"),
        F.lit(0.5).alias("prob"),
    )
    n_bg = n_bg_blocks * bg_size
    bg = spark.range(n_bg).select(
        F.concat(
            F.lit("b"), (F.col("id") % n_bg_blocks).cast("string")
        ).alias("block_key"),
        F.concat(F.lit("d"), (F.col("id") % 499).cast("string")).alias(
            "conv_id"
        ),
        (F.col("id") % 25).cast("int").alias("turn_idx"),
        (F.col("id") + n_hot).alias("mention_id"),
        F.concat(F.lit("bg surface "), F.col("id").cast("string")).alias(
            "ngram"
        ),
        (F.col("id") % n_bg_blocks + 2).cast("bigint").alias("cand_entity"),
        F.lit(0.5).alias("prob"),
    )
    return hot.unionByName(bg)


def _run_once(spark, blocked, cap: int) -> tuple[int, float, int]:
    """salt_and_cap(cap) → candidate_pairs → non-prunable agg; returns
    (pairs, secs, max_salted_block_size)."""
    from pyspark.sql import functions as F

    from pboh_spark import blocking
    from pboh_spark import pairs as pairs_mod

    t0 = time.time()
    # persist=False: one pass over the caller's persisted input, nothing
    # left pinned between trials
    salted, _ = blocking.salt_and_cap(blocked, cap=cap, persist=False)
    pairs = pairs_mod.candidate_pairs(salted)
    # aggregate over a computed column so Catalyst can't prune the work
    row = pairs.agg(
        F.count("*").alias("n"), F.sum("prior_agreement").alias("chk")
    ).collect()[0]
    dt = time.time() - t0
    # diagnostic, off the clock (input is persisted, so this is one cheap
    # re-scan + agg, identical in both modes anyway)
    max_blk = (
        salted.groupBy("block_key")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    return int(row["n"]), dt, int(max_blk)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--n-hot", type=int, nargs="+", default=[5000, 10000, 20000]
    )
    ap.add_argument("--cap", type=int, default=512)
    ap.add_argument("--n-bg-blocks", type=int, default=2000)
    ap.add_argument("--bg-size", type=int, default=8)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--trials", type=int, default=2,
                    help="per (size, mode); best is reported")
    args = ap.parse_args()

    from pboh_spark.session import DEFAULT_CPUS, get_spark
    from pboh_spark.util import release

    cores = args.cores or DEFAULT_CPUS
    spark = get_spark(cores=cores, shuffle_partitions=2 * cores)

    rows = []
    for n_hot in args.n_hot:
        blocked = _blocked_corpus(
            spark, n_hot, args.n_bg_blocks, args.bg_size
        ).persist()
        blocked.count()  # input off the clock
        for mode, cap in (("salted", args.cap), ("unsalted", NO_CAP)):
            trials = []
            for _ in range(args.trials):
                pairs, secs, max_blk = _run_once(spark, blocked, cap)
                trials.append(round(secs, 3))
            rows.append(
                {
                    "n_hot": n_hot,
                    "mode": mode,
                    "cap": cap if mode == "salted" else None,
                    "pairs": pairs,
                    "sec": min(trials),
                    "trials_sec": trials,
                    "max_block_size": max_blk,
                }
            )
            print(
                f"n_hot={n_hot:>6} {mode:>8}: {pairs:>12,} pairs "
                f"{min(trials):8.3f}s  max_block={max_blk}",
                file=sys.stderr,
            )
        release(blocked)

    # trend factors: time[i+1]/time[i] per mode across the sweep
    def factors(mode: str) -> list[float]:
        ts = [r["sec"] for r in rows if r["mode"] == mode]
        return [round(b / a, 2) for a, b in zip(ts, ts[1:])]

    print(
        json.dumps(
            {
                "metric": "skew_bench",
                "cores": cores,
                "cap": args.cap,
                "background": {
                    "blocks": args.n_bg_blocks, "size": args.bg_size
                },
                "rows": rows,
                "time_growth_per_doubling": {
                    "salted": factors("salted"),
                    "unsalted": factors("unsalted"),
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
