"""Seeded benchmark inputs, written to parquet during set-up.

One seed drives everything: the synthetic conversation corpus, its gold
mentions and anchor documents (``pboh_spark.synth`` over its fixed
entity dictionary, with conversations and anchors keyed off the seed),
and the ``ops_dedup`` document/embedding tables with their planted
near-duplicates. The same seed gives byte-identical parquet content, so
every run of one seed checks against the same expected outputs.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

# the vocabulary and shape of the repo's sf* ``documents`` table: short
# lowercase technical filler, 20-80 words, five languages and sources
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query big "
    "order group filter stream vector"
).split()
_LANGS = ["en", "de", "fr", "es", "zh"]
EMBED_DIM = 64


@dataclass(frozen=True)
class Corpus:
    """Parquet paths of one seed's synthetic linkage corpus."""

    transcripts: str
    gold: str
    anchors: str
    n_conversations: int
    n_anchor_docs: int


@dataclass(frozen=True)
class DocTables:
    """A directory laid out like the repo's sf* test data (documents and
    embeddings parquet), plus the planted near-duplicate pairs."""

    sf_dir: str
    n_docs: int
    planted: list[tuple[int, int]]  # (source doc_id, near-duplicate doc_id)


def write_corpus(
    spark, seed: int, n_conversations: int, n_anchor_docs: int, out: Path
) -> Corpus:
    from pboh_spark import synth

    uni = synth.EntityUniverse()  # the fixed entity dictionary
    transcripts, gold = synth.generate_transcripts(
        spark, n_conversations, universe=uni, seed=seed
    )
    anchors = synth.generate_anchors(spark, n_anchor_docs, universe=uni, seed=seed)
    paths = {name: str(out / name) for name in ("transcripts", "gold", "anchors")}
    transcripts.write.mode("overwrite").parquet(paths["transcripts"])
    gold.write.mode("overwrite").parquet(paths["gold"])
    anchors.write.mode("overwrite").parquet(paths["anchors"])
    return Corpus(n_conversations=n_conversations, n_anchor_docs=n_anchor_docs, **paths)


def _variant(rng: np.random.Generator, text: str) -> str:
    """A near-duplicate that differs in bytes but not in word shingles:
    re-cased words and doubled spaces, the copy-paste variants an exact
    content hash misses."""
    words = text.split(" ")
    flip = rng.random(len(words)) < 0.3
    words = [w.upper() if f else w for w, f in zip(words, flip)]
    gaps = np.where(rng.random(len(words) - 1) < 0.2, "  ", " ")
    return words[0] + "".join(g + w for g, w in zip(gaps, words[1:]))


def write_doc_tables(
    seed: int, n_docs: int, n_sources: int, copies: int, n_vectors: int, out: Path
) -> DocTables:
    """``n_docs`` random documents, of which ``n_sources`` (seed-chosen)
    each get ``copies`` planted variants appended after them, so every
    source and its variants form a near-clique in the near-dup graph."""
    rng = np.random.default_rng([seed, 11])
    lens = rng.integers(20, 80, size=n_docs)
    texts = [
        " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n)) for n in lens
    ]
    sources = sorted(rng.choice(n_docs, size=n_sources, replace=False).tolist())
    planted = []
    for s in sources:
        for _ in range(copies):
            planted.append((s, len(texts)))
            texts.append(_variant(rng, texts[s]))
    n = len(texts)
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n)],
            "source": [f"src{i}" for i in rng.integers(0, 5, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_vectors, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(n_vectors, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_vectors).astype(np.int32),
        }
    )
    out.mkdir(parents=True, exist_ok=True)
    docs.to_parquet(out / "documents.parquet", index=False)
    emb.to_parquet(out / "embeddings.parquet", index=False)
    return DocTables(sf_dir=str(out), n_docs=n, planted=planted)
