"""Stage 3 — blocking: candidate-key blocks + minhash-LSH fallback,
salted and size-capped.

The reference never blocks explicitly — every doc is tiny (≤25 mentions,
FewParamsLearning.scala:364) so it enumerates all pairs with nested loops
(CocitationMap.scala:24-39). At 10^12 turns the comparable-pair space
must be pruned *before* the join, so:

* **Candidate blocks** ("the reference blocking key"): a mention's
  normalized name probes the p̂(e|m) index exactly like
  MentEntsFreqIndexWrapper.scala:19-64 probes the crosswikis dictionary;
  two mentions are comparable iff their candidate sets intersect, so the
  block key IS the candidate entity id (top-10 runtime prune ≙ :53).
* **Minhash-LSH blocks**: fuzzy fallback for names the dictionary misses,
  the analogue of the reference's trigram-similarity nearest-key lookup
  (MentionEntitiesFrequencyIndex.scala:123-182). Char-3gram shingles →
  n minhashes → banded keys, computed by one Arrow-vectorized pandas UDF.
* **Skew handling** (north_rule: explicit, not AQE-only): block sizes are
  measured; blocks over ``cap`` are *salt-split* into ⌈n/cap⌉ sub-blocks
  (deterministic hash of mention_id) — bounding any single block's
  pair count at cap², the distributed analogue of the reference's
  doc-size guards (EvalOnDatasets.scala:172). Lost cross-salt recall is
  reported as a metric, never silently.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from pboh_spark.stats import TOP_K

N_HASHES = 16
N_BANDS = 4  # 4 rows per band
SHINGLE_K = 3  # char 3-grams
_MERSENNE = np.uint64((1 << 61) - 1)


_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)


def _shingle_hashes(s: str) -> np.ndarray:
    """Stable 64-bit FNV-1a hashes of char 3-grams (padded) — python
    hash() is salted per-process. Vectorized: one codepoint array per
    string, then 3 fused xor/multiply passes over the sliding windows
    (uint64 wraps ≡ the & mask of the scalar form — keys byte-identical
    to the original per-char loop; asserted in tests)."""
    s = f"^{s}$"
    if len(s) < SHINGLE_K:
        s = s.ljust(SHINGLE_K, "_")
    codes = np.fromiter(map(ord, s), dtype=np.uint64, count=len(s))
    n = len(s) - SHINGLE_K + 1
    h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(SHINGLE_K):
            h = (h ^ codes[j : j + n]) * _FNV_PRIME
    return h


def minhash_band_keys_udf():
    """pandas UDF: name → array of N_BANDS band keys ("b{i}:{h}") from
    N_HASHES minhashes (universal hashing, seed 42).

    Arrow-batched: one Python invocation per ~10k rows; signatures are
    numpy matrix ops per batch (input_hint: no per-row Python UDFs)."""
    rng = np.random.default_rng(42)
    a = rng.integers(1, _MERSENNE, size=N_HASHES, dtype=np.uint64)
    b = rng.integers(0, _MERSENNE, size=N_HASHES, dtype=np.uint64)
    rows_per_band = N_HASHES // N_BANDS

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def bands(names: pd.Series) -> pd.Series:
        uniq = names.drop_duplicates()
        cache: dict[str, list[str]] = {}
        for s in uniq:
            sh = _shingle_hashes(s)
            # (N_HASHES, n_shingles) universal hashing, min per row
            hv = (np.outer(a, sh) + b[:, None]) % _MERSENNE
            sig = hv.min(axis=1)
            keys = []
            for bi in range(N_BANDS):
                chunk = sig[bi * rows_per_band : (bi + 1) * rows_per_band]
                kh = np.uint64(0xCBF29CE484222325)
                for v in chunk:
                    kh = np.uint64(
                        (int(kh) ^ int(v)) * 0x100000001B3 & 0xFFFFFFFFFFFFFFFF
                    )
                keys.append(f"b{bi}:{int(kh) % (1 << 32)}")
            cache[s] = keys
        return names.map(cache)

    return bands


def candidate_blocks(mentions: DataFrame, name_stats: DataFrame) -> DataFrame:
    """(block_key, conv_id, turn_idx, mention_id, ngram, prob) — one row
    per (mention, candidate entity). block_key = 'e{entity}'.

    The probe ≙ MentEntsFreqIndexWrapper.scala:19-64 with the runtime
    top-10 prune (:53). name_stats is bounded by the surface-form
    dictionary (~21M rows at reference scale) → broadcastable or a plain
    shuffle hash join at worst; Catalyst picks via AQE.
    """
    cands = name_stats.where(F.col("rank") <= TOP_K).select(
        F.col("name"), F.col("entity"), F.col("prob")
    )
    return mentions.join(cands, mentions["ngram"] == cands["name"], "inner").select(
        F.concat(F.lit("e"), F.col("entity").cast("string")).alias("block_key"),
        "conv_id", "turn_idx", "mention_id", "ngram",
        F.col("entity").alias("cand_entity"), "prob",
    )


def minhash_blocks(
    mentions: DataFrame,
    name_stats: DataFrame | None = None,
    oov_only: bool = True,
) -> DataFrame:
    """LSH blocks for fuzzy matching. With ``oov_only`` (default) only
    mentions whose name misses the dictionary are LSH-blocked — the
    dictionary path already covers in-vocabulary names, and this keeps the
    LSH pair space proportional to the OOV tail (left_anti ≙ the
    reference's unknown-mention path, VerifyEDAbstract.scala:58-78)."""
    m = mentions
    if oov_only and name_stats is not None:
        m = mentions.join(
            name_stats.select(F.col("name").alias("ngram")).distinct(),
            "ngram",
            "left_anti",
        )
    bands = minhash_band_keys_udf()
    return m.withColumn("bk", F.explode(bands(F.col("ngram")))).select(
        F.col("bk").alias("block_key"),
        "conv_id", "turn_idx", "mention_id", "ngram",
        F.lit(None).cast("bigint").alias("cand_entity"),
        F.lit(None).cast("double").alias("prob"),
    )


def blocks(nodes: DataFrame, name_stats: DataFrame) -> DataFrame:
    """THE blocking composition: candidate-key blocks plus minhash-LSH
    blocks for the names the dictionary misses, unsalted. Callers salt
    with ``salt_and_cap`` themselves — the labelled-pair universe needs
    the unsalted union."""
    return candidate_blocks(nodes, name_stats).unionByName(
        minhash_blocks(nodes, name_stats, oov_only=True)
    )


def salt_and_cap(
    blocked: DataFrame, cap: int = 512, persist: bool = True
) -> DataFrame:
    """Splits blocks larger than ``cap`` into ⌈n/cap⌉ salted sub-blocks
    in one pass (a window count per block_key, no join back), so the
    blocking pandas UDF runs once. ``block_metrics`` reports what the
    split did.

    With ``persist`` the result is a lazy ``localCheckpoint`` the caller
    owns: ``util.release(salted)`` once nothing lazy reads it. Callers
    that write it durably themselves pass ``persist=False``.
    """
    n_salt = F.ceil(
        F.count("*").over(Window.partitionBy("block_key")) / F.lit(cap)
    ).cast("int")
    salted = (
        blocked.withColumn("n_salt", n_salt)
        .withColumn(
            "block_key",
            F.when(
                F.col("n_salt") > 1,
                F.concat(
                    F.col("block_key"),
                    F.lit("#"),
                    F.pmod(F.xxhash64("mention_id"), F.col("n_salt")).cast("string"),
                ),
            ).otherwise(F.col("block_key")),
        )
        .drop("n_salt")
    )
    if persist:
        # a checkpoint, not persist: a persisted frame keeps its plan, and
        # each downstream consumer (both self-join aliases, the attribute
        # re-attach) re-analyzes the blocking tree, ~1-2 s of driver time
        # per pass. Not fault-tolerant: an executor loss re-runs the query;
        # durable pipelines write the table through checkpoint.py instead.
        return salted.localCheckpoint(eager=False)
    return salted


def block_metrics(blocked: DataFrame, cap: int) -> DataFrame:
    """One row over the unsalted blocks: their number, the largest, how
    many ``salt_and_cap(blocked, cap)`` splits, and the naive pair count
    — the 'never silently' part of the skew handling, as a lazy
    aggregate."""
    sizes = blocked.groupBy("block_key").agg(F.count("*").alias("block_size"))
    return sizes.agg(
        F.count("*").alias("n_blocks"),
        F.max("block_size").alias("max_block_size"),
        F.sum(F.when(F.col("block_size") > cap, 1).otherwise(0)).alias(
            "n_blocks_salted"
        ),
        F.sum(F.col("block_size") * (F.col("block_size") - 1) / 2).alias(
            "naive_pairs"
        ),
    )
