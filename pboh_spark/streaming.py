"""Structured-Streaming ingest for transcript tables.

The reference is batch-only (SURVEY.md §2.11) — every corpus arrives as
static files. At 10^12-turn scale new conversations arrive continuously,
so the engine also exposes the same stage-1 logic as an incremental
pipeline:

* ``stream_transcripts``    — file-source readStream with the exact
  ``input_hint`` schema (new parquet files under a directory are the
  micro-batches; swap for Kafka/Iceberg-CDC source on a real cluster).
* ``streaming_mention_counts`` — watermarked tumbling-window aggregation
  of mention surface counts (the streaming analogue of the name-stats
  build; late turns beyond the watermark are dropped, counted by the
  sink's metrics).
* ``incremental_extract``   — foreachBatch ingest: per micro-batch run
  the stage-1 mention extraction (stateless column exprs — identical
  code path as batch) and append to the mentions table. Blocking/
  scoring/clustering then run as periodic batch jobs over the appended
  table — the standard lambda-architecture split for record linkage,
  because transitive clustering is a global fixpoint and does not
  stream.

Everything below is exercised with ``trigger(availableNow=True)`` in
tests — the bounded-drain mode that processes all pending files and
stops, which is also the right production shape for catch-up runs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pboh_spark.normalize import extract_mentions

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def _drain(
    stream: DataFrame, checkpoint_dir: str, process, mode: str = "append"
):
    """Start a bounded drain of ``stream`` through the foreachBatch
    ``process``: every pending file, then stop (``availableNow``).
    Returns the started StreamingQuery."""
    return (
        stream.writeStream.foreachBatch(process)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _batch_sink(
    out_dir: str, build: Callable[[DataFrame], DataFrame] = lambda df: df
):
    """foreachBatch sink writing ``build(batch)`` over its own
    ``out_dir/batch_id=N`` partition: a replayed micro-batch (failure
    between sink commit and streaming-checkpoint commit) rewrites the
    same files instead of appending duplicates — exactly-once."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        build(batch_df).write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    return process


def _turn_id() -> Column:
    """A turn's id: the first 15 hex digits of md5(conv_id '#' turn_idx)
    as a positive bigint — engine-portable (DuckDB spells it
    ``('0x' || substr(md5(..), 1, 15))::BIGINT``), deterministic, and
    collision-safe in practice (2^60 space; ~n²/2^61 expected
    collisions — negligible below ~10^8 turns)."""
    return F.conv(
        F.substring(F.md5(F.concat_ws("#", "conv_id", "turn_idx")), 1, 15),
        16,
        10,
    ).cast("bigint")


def stream_transcripts(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of transcript turns (one micro-batch per new
    parquet file set). Schema is fixed — no inference on the hot path."""
    reader = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def streaming_mention_counts(turns: DataFrame) -> DataFrame:
    """Watermarked 1-hour tumbling-window mention-surface counts —
    incremental name statistics. Rows later than the 2-hour watermark
    are dropped (state stays bounded: #windows × #surfaces, not
    #turns)."""
    from pboh_spark.normalize import MENTION_RE

    mentions = turns.withWatermark("ts", "2 hours").select(
        F.col("ts"),
        F.explode(
            F.expr(f"regexp_extract_all(text, '{MENTION_RE}', 0)")
        ).alias("surface"),
    )
    return (
        mentions.withColumn("ngram", F.lower(F.col("surface")))
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("ngram"))
        .agg(F.count("*").alias("freq"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "ngram",
            "freq",
        )
    )


def incremental_extract(
    turns_stream: DataFrame, mentions_out: str, checkpoint_dir: str
):
    """foreachBatch ingest: stage-1 mention extraction per micro-batch,
    drained with ``availableNow``. Exactly-once: each batch overwrites
    its own ``batch_id=N`` partition directory (``_batch_sink``).
    Returns the started StreamingQuery."""

    # layout guard: this sink writes batch_id=N partition dirs; a mentions
    # table from the old flat-append layout would make the root unreadable
    # (conflicting directory structures) — fail loudly with a migration
    # hint instead of corrupting it
    from pathlib import Path

    root = Path(mentions_out)
    if root.exists():
        stray = [
            p.name for p in root.iterdir()
            if not p.name.startswith(("batch_id=", "_", "."))
        ]
        if stray:
            raise ValueError(
                f"{mentions_out} contains non-partitioned files {stray[:3]}; "
                "this sink writes batch_id=N partitions — migrate the old "
                "flat layout (read + rewrite partitioned) first"
            )

    return _drain(
        turns_stream, checkpoint_dir,
        _batch_sink(mentions_out, extract_mentions),
    )


def streaming_surface_stats(turns_stream: DataFrame) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): incremental
    surface-form dictionary. Per distinct mention surface the state holds
    the running occurrence total across ALL micro-batches; each batch
    emits the updated rows only (update mode).

    This is the streaming maintenance path for the surface-node table
    (pairs.surface_nodes) — THE bounded state of the 10^12-turn design:
    state size is the distinct-surface dictionary (~10^7-10^8 keys,
    language-bound), never the corpus. State lives in the streaming
    checkpoint, so totals survive query restarts (resumability is
    asserted in tests by draining two batches in two separate runs).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from pboh_spark.normalize import MENTION_RE

    mentions = turns_stream.select(
        F.explode(
            F.expr(f"regexp_extract_all(text, '{MENTION_RE}', 0)")
        ).alias("surface")
    ).select(F.lower(F.col("surface")).alias("ngram"))

    def update(key, pdfs, state: GroupState):
        delta = 0
        for pdf in pdfs:
            delta += len(pdf)
        total = (state.get[0] if state.exists else 0) + delta
        state.update((total,))
        yield pd.DataFrame(
            {"ngram": [key[0]], "total": [total], "batch_delta": [delta]}
        )

    return mentions.groupBy("ngram").applyInPandasWithState(
        update,
        outputStructType="ngram string, total bigint, batch_delta bigint",
        stateStructType="total bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_surface_stats(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Drain pending files through the stateful surface-dictionary
    operator; each micro-batch's updated rows land in
    ``out_dir/batch_id=N`` (overwrite-per-batch = exactly-once, same
    layout as incremental_extract). Re-invoking with the same
    ``checkpoint_dir`` RESUMES the per-surface state — totals accumulate
    across runs (the memory sink can't recover a checkpoint; foreachBatch
    can). Current totals = latest batch row per surface."""
    stats = streaming_surface_stats(
        stream_transcripts(spark, input_path, max_files_per_trigger=1)
    )
    return _drain(stats, checkpoint_dir, _batch_sink(out_dir), "update")


def run_window_counts_to_memory(
    spark: SparkSession,
    input_path: str,
    checkpoint_dir: str,
    query_name: str = "mention_counts",
):
    """Drain all pending files through the windowed agg (1-hour windows,
    2-hour watermark) into an in-memory sink (complete mode) — the
    test/inspection harness for the streaming path. Returns the started
    query; read results from ``spark.table(query_name)`` after
    awaitTermination."""
    counts = streaming_mention_counts(stream_transcripts(spark, input_path))
    return (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_doc_dedup(turns_stream: DataFrame) -> DataFrame:
    """Streamed EXACT DEDUP over document/turn content — the streaming
    counterpart of the batch dedup ladder's first rung
    (ops/dedup.exact_dedup); the reference is batch-only, so this is an
    ours-beyond-reference operator like the rest of streaming.py.

    Content key = md5 of the lowercased text (case-insensitive content
    identity, engine-portable for the DuckDB oracle). State per key is
    MONOTONE: (best representative = global min (conv_id, turn_idx) seen
    so far, running occurrence count). Each micro-batch that touches a
    key emits the key's updated row; the LATEST row per key therefore
    carries the GLOBAL minimum representative and the TOTAL duplicate
    count — values that do not depend on how rows split into
    micro-batches or arrive out of order. That split-invariance is the
    design rule of every driver-gated streaming operator here: it is
    what makes a streamed path oracle-checkable (and what a production
    pipeline wants anyway — a canonical keep-list must not depend on
    ingest batching).

    State size: one small row per DISTINCT content — the dedup
    dictionary bound, not the corpus (same scaling argument as the
    surface dictionary in streaming_surface_stats)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed = turns_stream.select(
        F.md5(F.lower(F.col("text"))).alias("content_key"),
        "conv_id",
        "turn_idx",
    )

    def dedup(key, pdfs, state: GroupState):
        batch = pd.concat(list(pdfs), ignore_index=True)
        n = len(batch)
        batch = batch.sort_values(
            ["conv_id", "turn_idx"], kind="mergesort"
        )
        bc = batch.iloc[0]["conv_id"]
        bt = int(batch.iloc[0]["turn_idx"])
        if state.exists:
            pc, pt, pn = state.get
            if (pc, int(pt)) <= (bc, bt):
                bc, bt = pc, int(pt)
            n += int(pn)
        state.update((bc, bt, n))
        yield pd.DataFrame(
            {
                "content_key": [key[0]],
                "conv_id": [bc],
                "turn_idx": [bt],
                "n_dups": [n],
            }
        )

    return keyed.groupBy("content_key").applyInPandasWithState(
        dedup,
        outputStructType=(
            "content_key string, conv_id string, turn_idx int, n_dups bigint"
        ),
        stateStructType="best_conv string, best_turn int, n_seen bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_streaming_dedup(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Drain pending transcript files through the streamed exact-dedup
    operator; each micro-batch's updated keep-list rows land in
    ``out_dir/batch_id=N`` (overwrite-per-batch exactly-once, the same
    layout as the other foreachBatch sinks — resumable across restarts).
    The current keep-list = the LATEST batch row per content_key."""
    dedup = streaming_doc_dedup(
        stream_transcripts(spark, input_path, max_files_per_trigger=1)
    )
    return _drain(dedup, checkpoint_dir, _batch_sink(out_dir), "update")


def _admit_and_pair(members, n_dropped: int, ids, cap: int):
    """Pure per-block admission + pair-emission kernel of the streamed
    pair generator, extracted so its split-invariance contract is
    property-testable without a streaming query (tests/test_streaming.py
    replays random micro-batch splits through it directly).

    ``members``: sorted int64 array of previously admitted ids;
    ``ids``: sorted unique int64 array of this batch's ids. Returns
    ``(new_members, new_n_dropped, a, b)`` where (a, b) are the pairs
    to emit this batch (a < b elementwise): every admitted newcomer ×
    every prior member, plus the upper triangle among the newcomers —
    i.e. exactly the pairs whose SECOND member this batch admits, which
    is what makes the union over any split equal the batch self-join.
    Vectorized numpy (cross product + triu), never a Python pair loop.
    """
    import numpy as np

    new = ids[~np.isin(ids, members)]
    room = max(cap - len(members), 0)
    admitted = new[:room]
    n_dropped = int(n_dropped) + int(len(new) - len(admitted))
    a_parts, b_parts = [], []
    if len(members) and len(admitted):
        lhs = np.repeat(members, len(admitted))
        rhs = np.tile(admitted, len(members))
        a_parts.append(np.minimum(lhs, rhs))
        b_parts.append(np.maximum(lhs, rhs))
    if len(admitted) > 1:
        iu, ju = np.triu_indices(len(admitted), k=1)
        a_parts.append(admitted[iu])
        b_parts.append(admitted[ju])
    out_members = np.sort(np.concatenate([members, admitted]))
    if a_parts:
        a, b = np.concatenate(a_parts), np.concatenate(b_parts)
    else:
        a = b = np.empty(0, dtype=np.int64)
    return out_members, n_dropped, a, b


def streaming_candidate_pairs(
    keyed_stream: DataFrame, cap: int = 4096
) -> DataFrame:
    """Streamed WITHIN-BLOCK CANDIDATE-PAIR generation — the incremental
    counterpart of the batch blocking → pair-expansion stage
    (pairs.candidate_pairs over blocking's block keys; the reference's
    per-doc nested pair loops, CocitationMap.scala:24-39, are batch-only,
    so this is an ours-beyond-reference streaming operator).

    Input: a stream with columns ``(block_key string, mention_id
    bigint)``. State per block key is the SORTED array of member ids
    admitted so far. Each micro-batch the new member ids (within-batch
    duplicates and ids already in state are ignored — re-delivery safe)
    are paired against every admitted member and against each other, and
    each unordered pair ``(mention_id_a < mention_id_b)`` is emitted
    EXACTLY ONCE, in append mode.

    Split-invariance (the design rule of every driver-gated streaming
    operator here): the UNION of emitted pairs over any micro-batch
    split equals the batch self-join pair set
    ``{(a, b) : a < b, same block}`` — each pair is emitted by whichever
    batch admits its second member, so how rows split into batches moves
    pairs BETWEEN batches but never changes the overall set. That is
    what makes the streamed path oracle-checkable against a plain SQL
    self-join, and what an incremental linkage pipeline needs anyway
    (downstream scoring/clustering must not depend on ingest batching).

    ``cap`` is the streamed P4 size guard (P4, blocking.salt_and_cap's
    role in batch): once a block has ``cap`` admitted members it stops
    admitting, bounding state at ``cap`` ids and emitted pairs at
    C(cap, 2) per block. WHICH members a runaway block drops depends on
    arrival order (admission is first-come, sorted within a batch), so
    capped blocks are arrival-dependent — production runs bound block
    sizes upstream (salting, key design) and treat a tripped cap as a
    data-quality signal; the per-block ``n_dropped`` counter rides in
    state for exactly that. Pair emission per batch is vectorized numpy
    (cross product + upper triangle), never a Python pair loop.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def pairgen(key, pdfs, state: GroupState):
        import numpy as np

        batch = pd.concat(list(pdfs), ignore_index=True)
        ids = np.unique(batch["mention_id"].to_numpy(np.int64))
        if state.exists:
            members_raw, n_dropped = state.get
            members = np.asarray(members_raw, dtype=np.int64)
        else:
            members, n_dropped = np.empty(0, dtype=np.int64), 0
        members, n_dropped, a, b = _admit_and_pair(
            members, int(n_dropped), ids, cap
        )
        state.update((members.tolist(), n_dropped))
        if len(a):
            yield pd.DataFrame(
                {
                    "block_key": np.full(len(a), key[0], dtype=object),
                    "mention_id_a": a,
                    "mention_id_b": b,
                }
            )

    return keyed_stream.groupBy("block_key").applyInPandasWithState(
        pairgen,
        outputStructType=(
            "block_key string, mention_id_a bigint, mention_id_b bigint"
        ),
        stateStructType="members array<bigint>, n_dropped bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def blocked_turns(turns: DataFrame) -> DataFrame:
    """Column-side (block_key, mention_id) derivation from transcript
    turns — the stateless front of the streamed pair generator, usable on
    a stream or a static frame identically (which is how the tests and
    the DuckDB oracle reproduce it):

    * ``block_key`` = lowercased first non-empty whitespace token of the
      turn text (a real content-derived key; swap for candidate_blocks /
      minhash band keys upstream in a full deployment).
    * ``mention_id`` = the turn's md5 id (``_turn_id``); it doubles as
      a join key only within this operator's tests.
    """
    first_tok = F.element_at(
        F.filter(F.split(F.col("text"), " "), lambda x: x != ""), 1
    )
    return (
        turns.where(F.col("text").isNotNull())
        .select(
            F.lower(first_tok).alias("block_key"),
            _turn_id().alias("mention_id"),
        )
        .where(F.col("block_key").isNotNull() & (F.col("block_key") != ""))
    )


def run_streaming_pairs(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint_dir: str,
    cap: int = 4096,
    max_files_per_trigger: int | None = 1,
):
    """Drain pending transcript files through the streamed pair
    generator; each micro-batch's newly emitted pairs land in
    ``out_dir/batch_id=N`` (overwrite-per-batch exactly-once, same
    layout as the other foreachBatch sinks). The full candidate-pair
    table = the union of all batch partitions — append-mode emission
    means no cross-batch dedup is needed, and a duplicated/lost
    micro-batch shows up as duplicated/missing pairs (which is exactly
    what the gate oracle's value hash checks)."""
    pairs = streaming_candidate_pairs(
        blocked_turns(
            stream_transcripts(
                spark, input_path, max_files_per_trigger=max_files_per_trigger
            )
        ),
        cap=cap,
    )
    return _drain(pairs, checkpoint_dir, _batch_sink(out_dir))


def mention_token_dim(turns: DataFrame) -> DataFrame:
    """Static mention-attribute DIMENSION for the streamed scoring join:
    ``(mention_id, tokens)`` with the same engine-portable md5 id
    (``_turn_id``) as blocked_turns and ``tokens`` = the DISTINCT
    lowercased non-empty whitespace tokens of the turn text (set semantics — the score below
    is a set Jaccard, and DuckDB's list_distinct/list_intersect mirror
    Spark's array_distinct/array_intersect exactly). One row per
    (conv_id, turn_idx); built from the SAME files the stream drains,
    read statically."""
    toks = F.array_distinct(
        F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    )
    return (
        turns.where(F.col("text").isNotNull())
        .select(_turn_id().alias("mention_id"), toks.alias("tokens"))
        .dropDuplicates(["mention_id"])
    )


def streaming_scored_pairs(
    pairs: DataFrame,
    dim: DataFrame,
    min_jaccard_pct: int = 20,
) -> DataFrame:
    """STREAM-STATIC JOIN scoring stage over the streamed candidate
    pairs — the incremental counterpart of the batch blocking →
    pair-expansion → pairs.score_pairs chain, and the repo's canonical
    use of Spark's stream-static join surface (a streaming DataFrame
    joined to a plain batch DataFrame; append mode, no state).

    Each emitted pair is joined TWICE against the static mention
    dimension (a-side, b-side) and scored column-side with token-SET
    overlap: ``n_common = |tokens_a ∩ tokens_b|``, ``n_union =
    |tokens_a ∪ tokens_b|`` — all JVM ``array_intersect``/
    ``array_union``, no Python in the hot path. The threshold keeps a
    pair iff ``100 * n_common >= min_jaccard_pct * n_union`` — INTEGER
    arithmetic, so the landed values hash identically across engines
    (no float rounding surface at all; the Jaccard ratio itself is
    reconstructable downstream as n_common/n_union).

    Split-invariance is inherited: the scoring stage is STATELESS, so
    the scored pair set is a per-row function of the (split-invariant)
    candidate-pair set — any micro-batch split lands the same rows.

    No broadcast hint (repo policy — the dim grows with the corpus):
    the STATIC side of a stream-static join carries file-level size
    statistics, so the planner auto-broadcasts it whenever it fits
    ``autoBroadcastJoinThreshold`` (AQE never runs inside a streaming
    micro-batch, but static size-based planning does). With a dimension
    too big to broadcast, each micro-batch shuffles only ITS pairs
    against the dim — the right 100-TB fallback."""
    da = dim.select(
        F.col("mention_id").alias("mention_id_a"),
        F.col("tokens").alias("__toks_a"),
    )
    db = dim.select(
        F.col("mention_id").alias("mention_id_b"),
        F.col("tokens").alias("__toks_b"),
    )
    return (
        pairs.join(da, "mention_id_a")
        .join(db, "mention_id_b")
        .withColumn(
            "n_common",
            F.size(F.array_intersect("__toks_a", "__toks_b")).cast("bigint"),
        )
        .withColumn(
            "n_union",
            F.size(F.array_union("__toks_a", "__toks_b")).cast("bigint"),
        )
        .where(
            F.col("n_common") * 100 >= F.col("n_union") * int(min_jaccard_pct)
        )
        .select(
            "block_key",
            "mention_id_a",
            "mention_id_b",
            "n_common",
            "n_union",
        )
    )


def _scored_pair_stream(
    spark: SparkSession,
    input_path: str,
    cap: int,
    min_jaccard_pct: int,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """The streamed chain up to scoring: pending transcript files →
    stateful candidate-pair emission → stream-static scored filter. The
    static dimension is read from the SAME input glob — in production
    it would be the curated mention-attribute table the stream's blocks
    reference."""
    static_turns = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(input_path)
    return streaming_scored_pairs(
        streaming_candidate_pairs(
            blocked_turns(
                stream_transcripts(
                    spark,
                    input_path,
                    max_files_per_trigger=max_files_per_trigger,
                )
            ),
            cap=cap,
        ),
        mention_token_dim(static_turns),
        min_jaccard_pct=min_jaccard_pct,
    )


def run_streaming_scored_pairs(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint_dir: str,
    cap: int = 4096,
    min_jaccard_pct: int = 20,
    max_files_per_trigger: int | None = 1,
):
    """Drain pending transcript files through candidate-pair generation
    AND stream-static scoring in one streaming query: stateful pair
    emission (exactly-once per unordered pair), then the stateless
    scored filter (``_scored_pair_stream``), landing each micro-batch's
    surviving pairs in ``out_dir/batch_id=N`` exactly-once."""
    scored = _scored_pair_stream(
        spark, input_path, cap, min_jaccard_pct, max_files_per_trigger
    )
    return _drain(scored, checkpoint_dir, _batch_sink(out_dir))


_CC_STATE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("cluster_id", T.LongType()),
    ]
)


def latest_components(
    spark: SparkSession, state_dir: str, before: int | None = None
) -> DataFrame:
    """Current component mapping from the epoch-snapshot state dir:
    the ``epoch=N`` subdirectory with the highest N (``before`` bounds
    it to epochs < N — used on re-delivery so a retried micro-batch
    reads the SAME input state as its failed attempt, making the
    overwrite of its own epoch deterministic). Empty mapping if no
    epoch exists yet. Driver-side directory listing — at 100 TB the
    epoch pointer lives in a manifest/table-format commit log instead,
    but the snapshot-per-epoch protocol is unchanged."""
    import os

    epochs = []
    if os.path.isdir(state_dir):
        for name in os.listdir(state_dir):
            if name.startswith("epoch="):
                n = int(name.split("=", 1)[1])
                if before is None or n < before:
                    epochs.append(n)
    if not epochs:
        return spark.createDataFrame([], _CC_STATE_SCHEMA)
    return spark.read.schema(_CC_STATE_SCHEMA).parquet(
        f"{state_dir}/epoch={max(epochs)}"
    )


def run_streaming_cc(
    spark: SparkSession,
    input_path: str,
    state_dir: str,
    checkpoint_dir: str,
    cap: int = 4096,
    min_jaccard_pct: int = 20,
    max_files_per_trigger: int | None = 1,
):
    """INCREMENTAL CONNECTED COMPONENTS — the streamed counterpart of
    the batch CC pass, completing the streamed chain blocking →
    candidate pairs → stream-static scoring → clustering. Each
    micro-batch's surviving scored pairs are folded into the persisted
    component mapping with ``cluster.merge_edges_into_components``
    (work ∝ the contracted label graph the batch touches, never the
    corpus) inside ``foreachBatch``, and the updated mapping lands as
    the ``epoch=<batch_id>`` snapshot — exactly-once by construction:
    a re-delivered batch re-reads the pre-batch epoch and
    deterministically overwrites its own.

    The final mapping equals batch ``connected_components`` over ALL
    scored pairs regardless of micro-batch splits (the merge preserves
    the min-label invariant per fold), which is what makes the
    streamed path oracle-checkable against the batch recursive-CTE
    transitive closure."""
    from pboh_spark.cluster import merge_edges_into_components

    scored = _scored_pair_stream(
        spark, input_path, cap, min_jaccard_pct, max_files_per_trigger
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        mapping = latest_components(spark, state_dir, before=batch_id)
        updated = merge_edges_into_components(
            mapping, batch_df.select("mention_id_a", "mention_id_b")
        )
        updated.write.mode("overwrite").parquet(
            f"{state_dir}/epoch={batch_id}"
        )

    return _drain(scored, checkpoint_dir, process)
