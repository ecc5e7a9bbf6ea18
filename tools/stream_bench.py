"""Streamed-linkage-chain throughput vs the batch path on the same input.

The four streamed stages (ingest → within-block pair generation →
stream-static scoring → incremental connected components,
``streaming.run_streaming_cc``) are each oracle-checked for
batch-equality in tests; this tool measures what the streamed shape
COSTS relative to one batch pass over the identical corpus — the
number a deployment needs to size its micro-batches.

Protocol: a seeded synthetic corpus is written once as ``n_files``
parquet files. Three timed runs over the same files:

* ``batch``        — static read → blocked_turns self-join →
  token-Jaccard scoring → hash-to-min connected components. The
  one-shot truth (and the equality reference).
* ``stream_whole`` — the full streamed chain draining ALL files in ONE
  micro-batch (``availableNow``, no maxFilesPerTrigger). Isolates the
  streaming machinery's fixed cost (state store, checkpoint, epoch
  snapshot write) from micro-batch count.
* ``stream_split`` — the same drain in ``n_files`` micro-batches
  (maxFilesPerTrigger=1). The difference against ``stream_whole``,
  divided by the extra batches, is the measured PER-MICRO-BATCH
  overhead — the fixed price each incremental fold pays regardless of
  batch size (state-store round trip + scoring join + contracted-graph
  CC merge + epoch snapshot).

The final component mapping is asserted identical across all three
runs (split-invariance is a test invariant; here it doubles as proof
the three timings measure the same job). Throughput is reported as
turns/sec and scored-pairs/sec per run.

Usage::

    python tools/stream_bench.py [--n-conversations 2000] [--n-files 16]
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _batch_components(spark, input_glob: str, min_jaccard_pct: int):
    """Batch truth: the same derivations the streamed chain runs,
    composed statically (mirrors tests/test_streaming.py batch_truth)."""
    from pyspark.sql import functions as F

    from pboh_spark import streaming
    from pboh_spark.cluster import connected_components

    t = spark.read.schema(streaming.TRANSCRIPT_SCHEMA).parquet(input_glob)
    m = streaming.blocked_turns(t)
    a, b = m.alias("a"), m.alias("b")
    cand = (
        a.join(b, "block_key")
        .where(F.col("a.mention_id") < F.col("b.mention_id"))
        .select(
            "block_key",
            F.col("a.mention_id").alias("mention_id_a"),
            F.col("b.mention_id").alias("mention_id_b"),
        )
    )
    scored = streaming.streaming_scored_pairs(
        cand, streaming.mention_token_dim(t), min_jaccard_pct=min_jaccard_pct
    )
    return connected_components(scored), scored


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--n-conversations", type=int, default=2000)
    ap.add_argument("--n-files", type=int, default=16)
    ap.add_argument("--min-jaccard-pct", type=int, default=20)
    ap.add_argument("--cap", type=int, default=4096)
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from pboh_spark import streaming, synth
    from pboh_spark.session import DEFAULT_CPUS, get_spark
    from pboh_spark.util import release

    cores = args.cores or DEFAULT_CPUS
    spark = get_spark(cores=cores, shuffle_partitions=2 * cores)
    work = Path(tempfile.mkdtemp(prefix="stream_bench_"))
    try:
        # corpus off the clock: n_files parquet files = the micro-batch
        # boundaries maxFilesPerTrigger=1 will use
        transcripts, _ = synth.generate_transcripts(
            spark, args.n_conversations, partitions=args.n_files
        )
        inp = work / "in"
        transcripts.write.parquet(str(inp))
        n_turns = spark.read.parquet(str(inp)).count()
        input_glob = str(inp)

        # --- batch pass (also the equality reference) ---
        t0 = time.time()
        comps, scored = _batch_components(
            spark, input_glob, args.min_jaccard_pct
        )
        # persist before the count so scoring runs ONCE: the count
        # materializes the cache and the CC pass reads it — without
        # this, batch_sec double-counts the scoring join (count once,
        # then again under connected_components' lineage)
        scored = scored.persist()
        n_pairs = scored.count()
        # comps' plan CONTAINS scored's subtree; it is planned at
        # collect time, after the cache materialized, so the cache
        # manager substitutes the in-memory relation
        batch_rows = comps.collect()
        batch_sec = time.time() - t0
        release(scored)
        batch_map = sorted(tuple(r) for r in batch_rows)

        # --- streamed chain, one micro-batch vs n_files micro-batches ---
        stream = {}
        for tag, mfpt in (("whole", None), ("split", 1)):
            state = work / f"state_{tag}"
            ckpt = work / f"ck_{tag}"
            t0 = time.time()
            q = streaming.run_streaming_cc(
                spark,
                input_glob,
                str(state),
                str(ckpt),
                cap=args.cap,
                min_jaccard_pct=args.min_jaccard_pct,
                max_files_per_trigger=mfpt,
            )
            q.awaitTermination()
            secs = time.time() - t0
            got = sorted(
                tuple(r)
                for r in streaming.latest_components(
                    spark, str(state)
                ).collect()
            )
            assert got == batch_map, f"stream_{tag} mapping != batch truth"
            n_batches = len(
                [p for p in (state).iterdir() if p.name.startswith("epoch=")]
            )
            stream[tag] = {"sec": round(secs, 3), "micro_batches": n_batches}
            print(
                f"stream_{tag}: {secs:7.3f}s over {n_batches} micro-batches "
                f"(mapping == batch truth)",
                file=sys.stderr,
            )

        extra = stream["split"]["micro_batches"] - stream["whole"]["micro_batches"]
        per_batch = (
            (stream["split"]["sec"] - stream["whole"]["sec"]) / extra
            if extra > 0
            else None
        )
        print(
            json.dumps(
                {
                    "metric": "stream_bench",
                    "cores": cores,
                    "n_conversations": args.n_conversations,
                    "n_turns": n_turns,
                    "n_files": args.n_files,
                    "scored_pairs": n_pairs,
                    "components_rows": len(batch_map),
                    "batch_sec": round(batch_sec, 3),
                    "stream_whole": stream["whole"],
                    "stream_split": stream["split"],
                    "per_micro_batch_overhead_sec": (
                        round(per_batch, 3) if per_batch is not None else None
                    ),
                    "turns_per_sec": {
                        "batch": round(n_turns / batch_sec, 1),
                        "stream_whole": round(
                            n_turns / stream["whole"]["sec"], 1
                        ),
                        "stream_split": round(
                            n_turns / stream["split"]["sec"], 1
                        ),
                    },
                    "mapping_equal": True,
                }
            )
        )
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
