"""Streaming ingest: incremental mention extraction (foreachBatch) and
watermarked windowed mention counts, drained with availableNow triggers.
Oracle = the batch path over the same files (streaming/batch parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pboh_spark import streaming, synth
from pboh_spark.normalize import extract_mentions


def _write_two_chunks(spark, universe, base):
    t, _ = synth.generate_transcripts(spark, 60, universe=universe)
    t = t.cache()
    c1 = t.where(F.col("conv_id") < "c00000030")
    c2 = t.where(F.col("conv_id") >= "c00000030")
    c1.write.mode("overwrite").parquet(f"{base}/in/chunk1")
    # file-source streams watch ONE directory tree; two subdirs = two
    # independent file sets the availableNow drain picks up together
    c2.write.mode("overwrite").parquet(f"{base}/in/chunk2")
    return t


def test_incremental_extract_matches_batch(spark, universe, tmp_path):
    base = str(tmp_path)
    t = _write_two_chunks(spark, universe, base)
    stream = streaming.stream_transcripts(spark, f"{base}/in/*")
    assert stream.isStreaming
    q = streaming.incremental_extract(
        stream, f"{base}/mentions", f"{base}/ck1"
    )
    q.awaitTermination(120)
    got = spark.read.parquet(f"{base}/mentions")
    want = extract_mentions(t)
    assert got.count() == want.count()
    # identical mention sets (mention_id is a content hash)
    assert (
        got.select("mention_id")
        .exceptAll(want.select("mention_id"))
        .count()
        == 0
    )
    # second drain with same checkpoint: no new files ⇒ no new rows
    q2 = streaming.incremental_extract(
        streaming.stream_transcripts(spark, f"{base}/in/*"),
        f"{base}/mentions",
        f"{base}/ck1",
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{base}/mentions").count() == want.count()


def test_windowed_counts_match_batch(spark, universe, tmp_path):
    base = str(tmp_path)
    t = _write_two_chunks(spark, universe, base)
    q = streaming.run_window_counts_to_memory(
        spark, f"{base}/in/*", f"{base}/ck2", query_name="mc_test"
    )
    q.awaitTermination(120)
    got = spark.table("mc_test")
    want = (
        extract_mentions(t)
        .join(t.select("conv_id", "turn_idx", "ts"), ["conv_id", "turn_idx"])
        .groupBy(F.window("ts", "1 hour").alias("w"), "ngram")
        .agg(F.count("*").alias("freq"))
        .select(F.col("w.start").alias("window_start"), "ngram", "freq")
    )
    j = got.select("window_start", "ngram", "freq").exceptAll(want)
    assert j.count() == 0
    assert got.count() == want.count()


def test_stateful_surface_stats_accumulates_across_restarts(
    spark, universe, tmp_path
):
    """applyInPandasWithState surface dictionary: totals must equal the
    batch count of each surface AND survive a query restart (state lives
    in the streaming checkpoint — the resumability contract)."""
    base = str(tmp_path)
    t, _ = synth.generate_transcripts(spark, 40, universe=universe)
    t = t.cache()
    c1 = t.where(F.col("conv_id") < "c00000020")
    c2 = t.where(F.col("conv_id") >= "c00000020")
    c1.write.mode("overwrite").parquet(f"{base}/in/chunk1")

    def latest_totals():
        out = spark.read.parquet(f"{base}/ss_out")
        return {
            r["ngram"]: r["total"]
            for r in out.groupBy("ngram")
            .agg(F.max_by("total", "batch_id").alias("total"))
            .collect()
        }

    q = streaming.run_surface_stats(
        spark, f"{base}/in/*", f"{base}/ss_out", f"{base}/ck3"
    )
    q.awaitTermination(120)
    want1 = {
        r["ngram"]: r["cnt"]
        for r in extract_mentions(c1).groupBy("ngram").agg(
            F.count("*").alias("cnt")
        ).collect()
    }
    assert latest_totals() == want1

    # restart with new files + SAME checkpoint: per-surface state resumes
    # from the streaming checkpoint and totals accumulate
    c2.write.mode("overwrite").parquet(f"{base}/in/chunk2")
    q2 = streaming.run_surface_stats(
        spark, f"{base}/in/*", f"{base}/ss_out", f"{base}/ck3"
    )
    q2.awaitTermination(120)
    want_all = {
        r["ngram"]: r["cnt"]
        for r in extract_mentions(t).groupBy("ngram").agg(
            F.count("*").alias("cnt")
        ).collect()
    }
    assert latest_totals() == want_all


def test_streamed_ingest_then_batch_linkage_matches_batch(
    spark, universe, anchors, tmp_path
):
    """The lambda-architecture split end-to-end: mentions land via the
    streaming foreachBatch sink (two drains), then the BATCH linkage
    stages (blocking → pairs → CC) run over the appended table — the
    resulting clusters must be identical to running everything batch.
    (Transitive clustering is a global fixpoint, so linkage re-runs as a
    periodic batch job; only stage 1 streams.)"""
    from pboh_spark import blocking, cluster, stats
    from pboh_spark import pairs as pairs_mod
    from pboh_spark.util import release

    base = str(tmp_path)
    t = _write_two_chunks(spark, universe, base)

    q = streaming.incremental_extract(
        streaming.stream_transcripts(spark, f"{base}/in/*"),
        f"{base}/mentions", f"{base}/ck_lm",
    )
    q.awaitTermination(120)
    streamed_mentions = spark.read.parquet(f"{base}/mentions").drop("batch_id")

    ns = stats.name_stats(anchors)

    def clusters_from(mentions):
        salted = blocking.salt_and_cap(blocking.blocks(mentions, ns), cap=512)
        scored = pairs_mod.score_pairs(pairs_mod.candidate_pairs(salted))
        comp = cluster.connected_components(scored.where("is_match_pred"))
        release(salted)
        return {
            r["mention_id"]: r["cluster_id"]
            for r in cluster.clusters_table(mentions, comp).collect()
        }

    got = clusters_from(streamed_mentions)
    want = clusters_from(extract_mentions(t))
    assert got == want


def test_streaming_dedup_state_and_resume(spark, tmp_path):
    """Streamed exact dedup: cross-batch state picks the GLOBAL min
    representative and total count regardless of which batch a
    duplicate arrives in; re-running with the same checkpoint RESUMES
    the seen-state (counts keep accumulating, representative can only
    improve)."""

    def turns(rows):
        return spark.createDataFrame(
            [(c, t, "user", x, None, None) for c, t, x in rows],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )

    inp, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ck"
    # batch 1: two texts; 'zz' carries the worse representative first
    turns([("zz", 5, "Alpha Doc"), ("aa", 1, "Beta Doc")]).coalesce(
        1
    ).write.parquet(str(inp / "f1"))
    # batch 2: duplicate of 'Alpha Doc' with a BETTER (smaller) conv —
    # the monotone state must downgrade the representative to it
    turns([("ab", 2, "alpha doc"), ("cc", 0, "Gamma Doc")]).coalesce(
        1
    ).write.parquet(str(inp / "f2"))
    q = streaming.run_streaming_dedup(
        spark, f"{inp}/*", str(out), str(ckpt)
    )
    q.awaitTermination()

    def keeplist():
        landed = spark.read.parquet(str(out))
        best = {}
        for r in landed.collect():
            cur = best.get(r["content_key"])
            if cur is None or r["batch_id"] > cur["batch_id"]:
                best[r["content_key"]] = r
        return {
            (r["conv_id"], r["turn_idx"]): r["n_dups"]
            for r in best.values()
        }

    k1 = keeplist()
    # alpha: min(('zz',5), ('ab',2)) = ('ab',2), 2 occurrences
    assert k1[("ab", 2)] == 2
    assert k1[("aa", 1)] == 1 and k1[("cc", 0)] == 1
    # RESTART with a third file: another alpha dup, again worse rep
    turns([("zx", 9, "ALPHA DOC")]).coalesce(1).write.parquet(
        str(inp / "f3")
    )
    q2 = streaming.run_streaming_dedup(
        spark, f"{inp}/*", str(out), str(ckpt)
    )
    q2.awaitTermination()
    k2 = keeplist()
    assert k2[("ab", 2)] == 3  # state resumed: count accumulated
    assert ("zx", 9) not in k2  # representative did not regress


def _pair_turns(spark, rows):
    return spark.createDataFrame(
        [(c, t, "user", x, None, None) for c, t, x in rows],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


def _landed_pairs(spark, out):
    return {
        (r["block_key"], r["mention_id_a"], r["mention_id_b"])
        for r in spark.read.parquet(str(out)).collect()
    }


def test_streaming_pairs_split_invariant_and_match_batch(spark, tmp_path):
    """The emitted pair SET equals the batch within-block self-join and
    does not depend on how rows split into micro-batches (1 file per
    trigger vs one big batch)."""
    rows = [
        (f"c{i:02d}", j, f"blk{(i * 3 + j) % 4} tail words {i}")
        for i in range(8)
        for j in range(3)
    ]
    t = _pair_turns(spark, rows)
    inp = tmp_path / "in"
    # three files so maxFilesPerTrigger=1 gives three micro-batches
    for k in range(3):
        t.where(F.col("turn_idx") == k).coalesce(1).write.parquet(
            str(inp / f"f{k}")
        )
    # batch truth: self-join over the same derived keys
    m = streaming.blocked_turns(t)
    a, b = m.alias("a"), m.alias("b")
    want = {
        (r["block_key"], r["mention_id_a"], r["mention_id_b"])
        for r in (
            a.join(b, "block_key")
            .where(F.col("a.mention_id") < F.col("b.mention_id"))
            .select(
                "block_key",
                F.col("a.mention_id").alias("mention_id_a"),
                F.col("b.mention_id").alias("mention_id_b"),
            )
        ).collect()
    }
    got = {}
    for tag, mfpt in (("split", 1), ("whole", None)):
        out, ckpt = tmp_path / f"out_{tag}", tmp_path / f"ck_{tag}"
        q = streaming.run_streaming_pairs(
            spark, f"{inp}/*", str(out), str(ckpt),
            max_files_per_trigger=mfpt,
        )
        q.awaitTermination()
        landed = spark.read.parquet(str(out))
        # append mode: each pair lands exactly once (no dedup needed)
        assert landed.count() == landed.distinct().count()
        got[tag] = _landed_pairs(spark, out)
    assert got["split"] == want
    assert got["whole"] == want
    # the split drain really produced >1 micro-batch with emissions
    n_batches = (
        spark.read.parquet(str(tmp_path / "out_split"))
        .select("batch_id").distinct().count()
    )
    assert n_batches > 1


def test_streaming_pairs_cap_and_redelivery(spark, tmp_path):
    """cap: a block stops admitting at cap members → exactly C(cap,2)
    pairs; re-delivered mention ids (same conv/turn arriving again in a
    later batch) never duplicate pairs."""
    rows = [(f"c{i}", 0, "same block text") for i in range(5)]
    inp, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ck"
    _pair_turns(spark, rows).coalesce(1).write.parquet(str(inp / "f1"))
    q = streaming.run_streaming_pairs(
        spark, f"{inp}/*", str(out), str(ckpt), cap=3
    )
    q.awaitTermination()
    first = _landed_pairs(spark, out)
    assert len(first) == 3  # C(3,2), two members dropped by the guard
    # second drain: re-deliver one existing id + one new one — the new
    # id is ALSO rejected (block already at cap), the old one ignored
    _pair_turns(
        spark, [("c0", 0, "same block text"), ("c9", 0, "same block text")]
    ).coalesce(1).write.parquet(str(inp / "f2"))
    q2 = streaming.run_streaming_pairs(
        spark, f"{inp}/*", str(out), str(ckpt), cap=3
    )
    q2.awaitTermination()
    assert _landed_pairs(spark, out) == first


# -- pure-kernel property: split invariance of _admit_and_pair ------------

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st


def _replay(batches, cap):
    """Drive the extracted kernel over a list of id-batches the way the
    stateful operator does, returning (emitted pair list, final members,
    n_dropped)."""
    members = np.empty(0, dtype=np.int64)
    dropped, pairs = 0, []
    for batch in batches:
        ids = np.unique(np.asarray(batch, dtype=np.int64))
        if not len(ids):
            continue
        members, dropped, a, b = streaming._admit_and_pair(
            members, dropped, ids, cap
        )
        pairs.extend(zip(a.tolist(), b.tolist()))
    return pairs, members, dropped


@settings(max_examples=200, deadline=None)
@given(
    ids=st.lists(st.integers(0, 40), min_size=0, max_size=60),
    cuts=st.lists(st.integers(0, 60), max_size=6),
    cap=st.integers(1, 50),
)
def test_admit_and_pair_split_invariant(ids, cuts, cap):
    """For ANY sequence of ids (duplicates included), ANY micro-batch
    split of it, and ANY cap: each emitted pair appears exactly once;
    the admitted set is the first-cap unique ids in arrival order of the
    SPLIT run; pairs == all C(admitted, 2) pairs over the admitted set;
    n_dropped counts the rejected unique ids. With cap ≥ n_unique this
    makes the pair set split-INVARIANT (equal to the batch self-join)."""
    bounds = sorted(set(c for c in cuts if c < len(ids)))
    batches = [
        ids[lo:hi]
        for lo, hi in zip([0] + bounds, bounds + [len(ids)])
    ]
    pairs, members, dropped = _replay(batches, cap)
    # exactly-once emission, a < b
    assert len(pairs) == len(set(pairs))
    assert all(a < b for a, b in pairs)
    # admission: first-come by (batch order, id order within batch)
    want_members: list[int] = []
    want_dropped = 0
    for batch in batches:
        for i in sorted(set(batch)):
            if i in want_members:
                continue
            if len(want_members) < cap:
                want_members.append(i)
            else:
                want_dropped += 1
    assert members.tolist() == sorted(want_members)
    assert dropped == want_dropped
    # emitted pairs == ALL pairs over the admitted set, regardless of split
    ms = sorted(want_members)
    want_pairs = {
        (ms[i], ms[j])
        for i in range(len(ms))
        for j in range(i + 1, len(ms))
    }
    assert set(pairs) == want_pairs
    # and with no cap pressure the set equals the batch self-join of ALL ids
    if cap >= len(set(ids)):
        u = sorted(set(ids))
        assert set(pairs) == {
            (u[i], u[j]) for i in range(len(u)) for j in range(i + 1, len(u))
        }


def test_streaming_scored_pairs_match_batch_and_split_invariant(
    spark, tmp_path
):
    """The stream-static scored pair set equals the batch truth
    (self-join + token-set Jaccard filter) for both micro-batch splits;
    integer score columns land exactly."""
    rows = [
        ("c0", 0, "alpha beta gamma delta"),
        ("c1", 0, "alpha beta gamma"),        # high overlap with c0
        ("c2", 0, "alpha zz yy xx ww vv"),    # same block, low overlap
        ("c3", 0, "alpha beta zz"),
        ("c4", 0, "bravo solo"),              # different block, no pair
    ]
    t = _pair_turns(spark, rows)
    inp = tmp_path / "in"
    for k, cid in enumerate(("c0", "c1", "c2", "c3", "c4")):
        t.where(F.col("conv_id") == cid).coalesce(1).write.parquet(
            str(inp / f"f{k}")
        )
    # batch truth over the same derivations
    m = streaming.blocked_turns(t)
    dim = streaming.mention_token_dim(t)
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
    want = {
        tuple(r)
        for r in streaming.streaming_scored_pairs(
            cand, dim, min_jaccard_pct=40
        ).collect()
    }
    assert want  # the fixture really keeps some pairs...
    n_cand = cand.count()
    assert len(want) < n_cand  # ...and really filters some out
    for tag, mfpt in (("split", 1), ("whole", None)):
        out, ckpt = tmp_path / f"out_{tag}", tmp_path / f"ck_{tag}"
        q = streaming.run_streaming_scored_pairs(
            spark, f"{inp}/*", str(out), str(ckpt),
            min_jaccard_pct=40, max_files_per_trigger=mfpt,
        )
        q.awaitTermination()
        landed = spark.read.parquet(str(out)).drop("batch_id")
        assert landed.count() == landed.distinct().count()
        got = {tuple(r) for r in landed.collect()}
        assert got == want, tag


def test_merge_edges_into_components_folds_match_batch(spark):
    """Folding edge batches one at a time through the incremental merge
    equals batch CC over the union, at every prefix; re-folding an
    already-merged batch is a no-op."""
    from pboh_spark.cluster import (
        connected_components,
        merge_edges_into_components,
    )

    schema = "mention_id_a long, mention_id_b long"
    batches = [
        [(5, 9), (9, 7), (20, 30)],          # two components
        [(30, 40), (7, 5)],                  # extend one + already-merged edge
        [(100, 101)],                        # brand-new component
        [(9, 40)],                           # merge the first two
    ]
    m = spark.createDataFrame([], "id long, cluster_id long")
    seen = []
    for rows in batches:
        b = spark.createDataFrame(rows, schema)
        seen.extend(rows)
        m = merge_edges_into_components(m, b)
        want = sorted(
            tuple(r)
            for r in connected_components(
                spark.createDataFrame(seen, schema)
            ).collect()
        )
        assert sorted(tuple(r) for r in m.collect()) == want
    replay = merge_edges_into_components(
        m, spark.createDataFrame(batches[1], schema)
    )
    assert sorted(tuple(r) for r in replay.collect()) == want


def test_streaming_cc_matches_batch_split_invariant_and_resume(
    spark, tmp_path
):
    """The persisted component mapping equals batch CC over the batch
    scored-pair truth for both micro-batch splits, AND a second drain
    with the SAME checkpoint/state after new files arrive folds only
    the new pairs in (incremental resume) — final mapping equals the
    batch truth over the grown corpus."""
    from pboh_spark.cluster import connected_components

    rows1 = [
        ("c0", 0, "alpha beta gamma delta"),
        ("c1", 0, "alpha beta gamma"),
        ("c2", 0, "alpha beta gamma epsilon"),
        ("c3", 0, "zeta solo row"),
    ]
    rows2 = [
        ("c4", 0, "zeta solo row extra"),     # joins c3's block
        ("c5", 0, "alpha beta delta gamma"),  # joins the alpha cluster
    ]
    inp = tmp_path / "in"
    for k, (cid, ti, tx) in enumerate(rows1):
        _pair_turns(spark, [(cid, ti, tx)]).coalesce(1).write.parquet(
            str(inp / f"f{k}")
        )

    def batch_truth(rows):
        t = _pair_turns(spark, rows)
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
            cand, streaming.mention_token_dim(t), min_jaccard_pct=40
        )
        return sorted(
            tuple(r) for r in connected_components(scored).collect()
        )

    state, ckpt = tmp_path / "state", tmp_path / "ck"
    q = streaming.run_streaming_cc(
        spark, f"{inp}/*", str(state), str(ckpt), min_jaccard_pct=40,
    )
    q.awaitTermination()
    got1 = sorted(
        tuple(r)
        for r in streaming.latest_components(spark, str(state)).collect()
    )
    assert got1 == batch_truth(rows1)

    # whole-drain split lands the same mapping
    state_w, ckpt_w = tmp_path / "state_w", tmp_path / "ck_w"
    q = streaming.run_streaming_cc(
        spark, f"{inp}/*", str(state_w), str(ckpt_w),
        min_jaccard_pct=40, max_files_per_trigger=None,
    )
    q.awaitTermination()
    assert sorted(
        tuple(r)
        for r in streaming.latest_components(spark, str(state_w)).collect()
    ) == got1

    # new files arrive; SAME checkpoint + state → incremental fold
    for k, (cid, ti, tx) in enumerate(rows2):
        _pair_turns(spark, [(cid, ti, tx)]).coalesce(1).write.parquet(
            str(inp / f"g{k}")
        )
    q = streaming.run_streaming_cc(
        spark, f"{inp}/*", str(state), str(ckpt), min_jaccard_pct=40,
    )
    q.awaitTermination()
    got2 = sorted(
        tuple(r)
        for r in streaming.latest_components(spark, str(state)).collect()
    )
    assert got2 == batch_truth(rows1 + rows2)
    assert len(got2) > len(got1)
