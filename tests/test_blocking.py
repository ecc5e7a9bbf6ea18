"""Stage 3: blocking recall on planted pairs, minhash properties, salting."""

from pyspark.sql import functions as F

from pboh_spark import blocking, normalize, stats
from pboh_spark.pairs import jaro_winkler


def test_candidate_blocking_recall(tiny, anchors):
    """Every gold same-entity mention pair must share ≥1 candidate block —
    blocking recall ≥ 0.99 (north_rule F1 budget is spent here first)."""
    t, g = tiny
    ns = stats.name_stats(anchors)
    m = normalize.extract_mentions(t)
    gm = g.select(
        "conv_id", "turn_idx",
        F.lower(F.col("surface")).alias("ngram"),
        F.col("entity").alias("gold"),
    )
    mm = m.join(gm, ["conv_id", "turn_idx", "ngram"])
    blocked = blocking.candidate_blocks(mm, ns)
    keys = blocked.select("mention_id", "block_key")
    gold_pairs = (
        mm.alias("a")
        .join(mm.alias("b"), F.col("a.gold") == F.col("b.gold"))
        .where(F.col("a.mention_id") < F.col("b.mention_id"))
        .select(
            F.col("a.mention_id").alias("ma"), F.col("b.mention_id").alias("mb")
        )
    )
    covered = (
        gold_pairs.join(keys.withColumnRenamed("mention_id", "ma"), "ma")
        .join(
            keys.withColumnRenamed("mention_id", "mb").withColumnRenamed(
                "block_key", "bk2"
            ),
            "mb",
        )
        .where(F.col("block_key") == F.col("bk2"))
        .select("ma", "mb")
        .distinct()
    )
    n_gold = gold_pairs.count()
    n_cov = covered.count()
    assert n_cov / n_gold >= 0.99, f"blocking recall {n_cov}/{n_gold}"


def test_minhash_similar_names_collide(spark):
    """Typo'd names should share an LSH band; unrelated names shouldn't
    (statistically)."""
    names = [
        ("quantum analytics corp",), ("quantum analytcs corp",),
        ("walter schneider",), ("bruno fontaine",),
    ]
    df = spark.createDataFrame(names, ["ngram"]).select(
        F.lit("c0").alias("conv_id"), F.lit(0).alias("turn_idx"),
        F.monotonically_increasing_id().alias("mention_id"), "ngram",
    )
    b = blocking.minhash_blocks(df, None, oov_only=False)
    keys = {r["ngram"]: set() for r in b.collect()}
    for r in b.collect():
        keys[r["ngram"]].add(r["block_key"])
    assert keys["quantum analytics corp"] & keys["quantum analytcs corp"]
    assert not (keys["walter schneider"] & keys["bruno fontaine"])


def test_salt_and_cap_bounds_block_size(spark):
    import pandas as pd
    rows = [("hot", "c0", 0, i, f"name{i}", None, None) for i in range(1000)]
    rows += [("cold", "c0", 0, 10_000 + i, f"n{i}", None, None) for i in range(5)]
    df = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=[
                "block_key", "conv_id", "turn_idx", "mention_id",
                "ngram", "cand_entity", "prob",
            ],
        )
    )
    salted = blocking.salt_and_cap(df, cap=100)
    metrics = blocking.block_metrics(df, cap=100)
    sizes = salted.groupBy("block_key").count().toPandas()
    assert sizes["count"].max() <= 150  # ~cap with hash-split variance
    m = metrics.collect()[0]
    assert m["n_blocks_salted"] == 1
    # cold block untouched
    assert salted.where(F.col("block_key") == "cold").count() == 5


def test_shingle_hashes_byte_identical_to_scalar_fnv():
    """The vectorized FNV-1a must produce EXACTLY the keys of the original
    per-char scalar loop — LSH band keys are persisted in checkpoints, so
    a silent hash change would orphan every existing blocked table."""
    from pboh_spark.blocking import _shingle_hashes

    def scalar(s: str, k: int = 3) -> list[int]:
        s = f"^{s}$"
        if len(s) < k:
            s = s.ljust(k, "_")
        out = []
        for i in range(len(s) - k + 1):
            h = 0xCBF29CE484222325
            for ch in s[i : i + k]:
                h = ((h ^ ord(ch)) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
            out.append(h)
        return out

    for s in ["", "a", "ab", "abc", "quantum analytics corp",
              "náïve ünïcode ⚙", "x" * 200]:
        assert _shingle_hashes(s).tolist() == scalar(s), repr(s)


def test_salt_and_cap_semantic_invariants(spark):
    """The skew guard's three semantic invariants (measured side:
    bench.py --section skew / BENCH.md; this pins the set semantics):

    1. row preservation — salting renames block keys, never drops,
       duplicates, or reassigns rows: the multiset of (base block key,
       mention_id) is unchanged;
    2. pair containment — the salted candidate-pair id set is a subset
       of the uncapped one (the documented recall trade only DROPS
       cross-sub-block pairs, it can never invent a pair);
    3. untouched-block equality — pairs whose blocks are all under the
       cap land with IDENTICAL values (ids, prior_agreement,
       shared_entity), so the guard is a no-op outside hot keys.
    """
    import numpy as np
    import pandas as pd

    from pboh_spark.pairs import candidate_pairs

    rng = np.random.default_rng(7)
    rows = []
    # hot block far over cap, two cold blocks under it; overlapping
    # membership so some pairs share hot AND cold blocks
    for i in range(300):
        rows.append(("e1", "c0", 0, i, f"m{i}", 1, float(rng.uniform(0.1, 1))))
    for i in range(40):
        rows.append(("e2", "c0", 0, i, f"m{i}", 2, float(rng.uniform(0.1, 1))))
    for i in range(250, 290):
        rows.append(("e3", "c0", 0, i, f"m{i}", 3, float(rng.uniform(0.1, 1))))
    df = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=[
                "block_key", "conv_id", "turn_idx", "mention_id",
                "ngram", "cand_entity", "prob",
            ],
        )
    )
    salted = blocking.salt_and_cap(df, cap=64, persist=False)

    # 1. row preservation under base key
    base = salted.withColumn(
        "block_key", F.split(F.col("block_key"), "#")[0]
    )
    want_rows = sorted(map(tuple, df.collect()))
    got_rows = sorted(map(tuple, base.collect()))
    assert got_rows == want_rows

    unsalted_pairs = {
        (r["mention_id_a"], r["mention_id_b"]): (
            round(r["prior_agreement"], 12), r["shared_entity"]
        )
        for r in candidate_pairs(df).collect()
    }
    salted_pairs = {
        (r["mention_id_a"], r["mention_id_b"]): (
            round(r["prior_agreement"], 12), r["shared_entity"]
        )
        for r in candidate_pairs(salted).collect()
    }
    # 2. containment (and the hot block really was split: strictly fewer)
    assert set(salted_pairs) < set(unsalted_pairs)

    # 3. pairs touching only under-cap blocks are value-identical.
    # e2/e3 members also sit in the hot e1 block, so restrict to pairs
    # whose BOTH sides share an under-cap block and whose hot-block
    # co-membership survived the split — cleanest check: every salted
    # pair whose prior_agreement came only from e2/e3 must equal the
    # unsalted value; pairs sharing a surviving hot sub-block carry the
    # e1 term on both sides identically. So: any salted pair whose
    # value DIFFERS from unsalted must have lost exactly the e1 term.
    e1_prob = {
        r["mention_id"]: r["prob"]
        for r in df.where(F.col("block_key") == "e1").collect()
    }
    for pair, (agree, ent) in salted_pairs.items():
        want_agree, want_ent = unsalted_pairs[pair]
        if abs(agree - want_agree) > 1e-12:
            a, b = pair
            lost = e1_prob[a] * e1_prob[b]
            assert abs((want_agree - agree) - lost) < 1e-9
        else:
            # untouched pair: the deterministic argmax must agree too
            assert ent == want_ent, pair


def test_blocks_construction_runs_no_spark_job(spark, tiny, anchors, tmp_path):
    """Building the blocking plan is lazy: on scan inputs (the pipeline's
    shape) no partition-count probe or other eager call runs a Spark job
    before the caller's own action."""
    t, _ = tiny
    normalize.extract_mentions(t).write.parquet(str(tmp_path / "mentions"))
    stats.name_stats(anchors).write.parquet(str(tmp_path / "name_stats"))
    mentions = spark.read.parquet(str(tmp_path / "mentions"))
    ns = spark.read.parquet(str(tmp_path / "name_stats"))
    sc = spark.sparkContext
    group = "blocks-construction"
    sc.setJobGroup(group, "build blocking.blocks without an action")
    try:
        blocking.blocks(mentions, ns)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
