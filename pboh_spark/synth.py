"""Deterministic synthetic transcript / anchor-corpus generator (seed=42).

Mirrors the reference's data model — a document is a list of annotated
mentions (eval/EvalOnDatasets.scala:109, README.md:23) with doc sizes
capped at 25 mentions (learning/FewParamsLearning.scala:364) — recast as
multi-turn conversation transcripts per BASELINE.json ``input_hint``:

    (conv_id string, turn_idx int, role string, text string,
     tool string, ts timestamp)

Entity surface forms are planted as Capitalized token sequences inside
all-lowercase filler text, so stage-1 mention extraction is a pure
column-expression regex (no NER dependency). Alias noise models the
reference's surface-form variation (crosswikis mention dictionary,
index/MentionEntitiesFrequencyIndex.scala): canonical name, initials,
token drops, and character-level typos.

Everything is keyed off ``np.random.default_rng([seed, conv_id])`` so
generation is deterministic **independent of partitioning** — the same
conversation content at local[8] and local[32], and at any scale factor
prefix (conversation i is identical in a 100-conv and a 20k-conv run).

The *anchor corpus* (doc_id, name, entity) is the analogue of the
Wikipedia hyperlink corpus the reference counts its statistics from
(p̂(e|m): index/CandidatesList.scala:95-98; co-occurrence:
index/EntityCooccurrenceIndex.scala:108-170).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SEED = 42

_FIRST = [
    "alice", "bruno", "carla", "david", "elena", "felix", "grace", "henry",
    "irene", "jonas", "karim", "laura", "marco", "nadia", "oscar", "petra",
    "quinn", "rosa", "stefan", "tanya", "umar", "viola", "walter", "xenia",
    "yusuf", "zelda", "amara", "boris", "celine", "dmitri", "esther", "fabio",
]
_LAST = [
    "archer", "bennett", "castillo", "donovan", "eriksen", "fontaine",
    "gallagher", "hoffman", "ibarra", "jansen", "keller", "lindqvist",
    "moreau", "novak", "okafor", "petrov", "quintana", "rastogi", "schneider",
    "takahashi", "ulrich", "vasquez", "whitfield", "xu", "yamamoto", "zhang",
    "alvarez", "brandt", "chowdhury", "dubois", "engel", "ferrara",
]
_ORG_A = [
    "quantum", "vertex", "northwind", "cascade", "meridian", "atlas",
    "pioneer", "summit", "horizon", "beacon", "cobalt", "granite",
    "harbor", "juniper", "keystone", "lumen",
]
_ORG_B = [
    "analytics", "dynamics", "systems", "logistics", "robotics", "energy",
    "networks", "biotech", "capital", "software", "materials", "aerospace",
]
_ORG_SUFFIX = ["corp", "labs", "group", "holdings"]

_FILLER = (
    "the user asked about status of and then we looked into it again "
    "please check whether this works with pipeline before deploy there was "
    "an issue in report from yesterday regarding invoice shipment metrics "
    "dashboard for review thanks can you confirm details on contract terms "
    "meeting notes follow up next week budget forecast numbers"
).split()

_TOOLS = ["", "", "", "search", "calculator", "crm_lookup", "", "sql_runner"]
_ROLES = ["user", "assistant"]

_BASE_TS = np.datetime64("2025-01-01T00:00:00")


def _cap(tok: str) -> str:
    return tok[0].upper() + tok[1:]


def _typo(rng: np.random.Generator, tok: str) -> str:
    """Deterministic char-level typo, never touching the first char
    (extraction relies on the leading capital)."""
    if len(tok) < 4:
        return tok
    kind = int(rng.integers(0, 3))
    i = int(rng.integers(1, len(tok) - 1))
    if kind == 0:  # drop
        return tok[:i] + tok[i + 1:]
    if kind == 1:  # swap adjacent
        return tok[:i] + tok[i + 1] + tok[i] + tok[i + 2:]
    return tok[:i] + tok[i] + tok[i:]  # double


@dataclass
class EntityUniverse:
    """Small seeded dimension: entity_id → canonical name + weighted aliases.

    Alias distribution ≙ the crosswikis surface-form dictionary the
    reference loads into a 21M-entry index
    (index/MentionEntitiesFrequencyIndex.scala:24).
    """

    n_entities: int = 200
    n_topics: int = 8
    seed: int = SEED
    canonical: list[str] = field(default_factory=list)
    aliases: list[list[str]] = field(default_factory=list)  # per entity
    alias_w: list[np.ndarray] = field(default_factory=list)
    topic_of: np.ndarray | None = None

    def __post_init__(self) -> None:
        rng = np.random.default_rng([self.seed, 1])
        names: list[str] = []
        seen: set[str] = set()
        while len(names) < self.n_entities:
            if rng.random() < 0.6:  # person
                f = _FIRST[int(rng.integers(len(_FIRST)))]
                l = _LAST[int(rng.integers(len(_LAST)))]
                nm = f"{_cap(f)} {_cap(l)}"
            else:  # org
                a = _ORG_A[int(rng.integers(len(_ORG_A)))]
                b = _ORG_B[int(rng.integers(len(_ORG_B)))]
                s = _ORG_SUFFIX[int(rng.integers(len(_ORG_SUFFIX)))]
                nm = f"{_cap(a)} {_cap(b)} {_cap(s)}"
            if nm not in seen:
                seen.add(nm)
                names.append(nm)
        self.canonical = names
        # global alias uniqueness: an alias string maps to exactly one
        # entity (keeps the pairwise-F1 ceiling at 1.0 — identical
        # surfaces with different gold entities would be unresolvable by
        # the pair scorer; ambiguity is injected via typos/OOV instead)
        used: set[str] = set(s.lower() for s in names)
        for eid, nm in enumerate(names):
            toks = nm.split(" ")
            al = [nm]
            w = [0.55]
            if len(toks) == 2:  # person: initial + last
                cand = f"{toks[0][0]} {toks[1]}"
                if cand.lower() not in used:
                    used.add(cand.lower())
                    al.append(cand)
                    w.append(0.15)
            else:  # org: drop suffix
                cand = " ".join(toks[:2])
                if cand.lower() not in used:
                    used.add(cand.lower())
                    al.append(cand)
                    w.append(0.15)
            for k in range(2):  # typo variants of canonical
                t = list(toks)
                j = int(rng.integers(len(t)))
                t[j] = _typo(rng, t[j])
                v = " ".join(t)
                if v not in al and v.lower() not in used:
                    used.add(v.lower())
                    al.append(v)
                    w.append(0.15)
            wa = np.asarray(w[: len(al)], dtype=np.float64)
            self.aliases.append(al)
            self.alias_w.append(wa / wa.sum())
        self.topic_of = rng.integers(0, self.n_topics, size=self.n_entities)
        self.topics = [
            np.where(self.topic_of == t)[0] for t in range(self.n_topics)
        ]

    def sample_alias(self, rng: np.random.Generator, eid: int) -> str:
        i = int(rng.choice(len(self.aliases[eid]), p=self.alias_w[eid]))
        return self.aliases[eid][i]


TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, surface string, entity bigint, offset int"
)


def _gen_conversations(universe: EntityUniverse, seed: int):
    """mapInPandas generator: input batches of conv indices → turn rows.

    One mention max per turn (keeps the Capitalized-sequence extraction
    bijective with planted mentions); 1–25 mentions per conversation
    (doc-size cap ≙ learning/FewParamsLearning.scala:364)."""

    def gen(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for cid in pdf["id"].to_numpy():
                rng = np.random.default_rng([seed, 2, int(cid)])
                conv = f"c{int(cid):08d}"
                n_m = 1 + int(rng.integers(0, 25))
                topic = int(rng.integers(universe.n_topics))
                pool = universe.topics[topic]
                ents = rng.choice(pool, size=n_m, replace=True)
                # distinct entities repeat within conv (multi-mention docs)
                n_extra = int(rng.integers(0, 4))
                n_turns = n_m + n_extra
                mention_turns = set(
                    rng.choice(n_turns, size=n_m, replace=False).tolist()
                )
                ts = _BASE_TS + np.timedelta64(int(cid) * 3600, "s")
                mi = 0
                for t in range(n_turns):
                    role = _ROLES[t % 2]
                    tool = _TOOLS[int(rng.integers(len(_TOOLS)))]
                    if tool:
                        role = "tool"
                    nw1 = int(rng.integers(3, 9))
                    nw2 = int(rng.integers(2, 7))
                    w1 = " ".join(
                        _FILLER[int(i)]
                        for i in rng.integers(0, len(_FILLER), nw1)
                    )
                    w2 = " ".join(
                        _FILLER[int(i)]
                        for i in rng.integers(0, len(_FILLER), nw2)
                    )
                    ts = ts + np.timedelta64(int(rng.integers(5, 120)), "s")
                    if t in mention_turns:
                        eid = int(ents[mi])
                        mi += 1
                        surf = universe.sample_alias(rng, eid)
                        text = f"{w1} {surf} {w2}"
                        rows.append(
                            (conv, t, role, text, tool,
                             pd.Timestamp(ts), surf, eid, len(w1) + 1)
                        )
                    else:
                        rows.append(
                            (conv, t, role, f"{w1} {w2}", tool,
                             pd.Timestamp(ts), None, None, None)
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "conv_id", "turn_idx", "role", "text", "tool", "ts",
                    "surface", "entity", "offset",
                ],
            )

    return gen


def generate_transcripts(
    spark: SparkSession,
    n_conversations: int = 100,
    universe: EntityUniverse | None = None,
    seed: int = SEED,
    partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (transcripts, gold_mentions).

    transcripts: the BASELINE.json input_hint schema.
    gold_mentions: (conv_id, turn_idx, surface, entity, offset) — the
    AIDA-analogue gold annotations (eval/datasets/AIDA.scala:41-55).

    Distributed: spark.range → mapInPandas, per-conversation rng seeding
    ⇒ scale-out safe (no driver-side materialization).
    """
    uni = universe or EntityUniverse(seed=seed)
    parts = partitions or max(4, min(64, n_conversations // 64 or 1))
    base = spark.range(0, n_conversations, 1, parts)
    full = base.mapInPandas(_gen_conversations(uni, seed), TRANSCRIPT_SCHEMA)
    transcripts = full.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    gold = (
        full.where(F.col("surface").isNotNull())
        .select("conv_id", "turn_idx", "surface", "entity", "offset")
    )
    return transcripts, gold


def generate_clustered_embeddings(
    spark: SparkSession,
    n_vectors: int = 2000,
    n_clusters: int = 20,
) -> DataFrame:
    """(vec_id bigint, embedding array<float>) with planted cluster
    structure: 64-dim vector i = center[i % n_clusters] + 0.25·N(0,I). Real
    embedding corpora are clustered (that is why IVF works at all);
    the driver's uniform-random testdata embeddings are the worst case
    for any cell-probing index, so recall targets are asserted here.
    Deterministic per vec_id (rng([SEED, 7, vec_id])) ⇒ identical at any
    partitioning or prefix scale, like every other synth table."""
    dim, noise = 64, 0.25
    rng = np.random.default_rng([SEED, 6])
    centers = rng.normal(size=(n_clusters, dim))

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out = []
            for vid in ids:
                r = np.random.default_rng([SEED, 7, int(vid)])
                v = centers[int(vid) % n_clusters] + noise * r.normal(size=dim)
                out.append(v.astype(np.float32).tolist())
            yield pd.DataFrame({"vec_id": ids, "embedding": out})

    return spark.range(0, n_vectors, 1, 8).mapInPandas(
        gen, "vec_id bigint, embedding array<float>"
    )


def generate_anchors(
    spark: SparkSession,
    n_docs: int = 4000,
    universe: EntityUniverse | None = None,
    seed: int = SEED,
) -> DataFrame:
    """Anchor corpus (doc_id bigint, name string, entity bigint) — the
    statistics source, analogous to Wikipedia hyperlink anchors
    (index builders: CreateCrosswikisMentionFreqIndex.scala:94-140).

    Topic-coherent docs ⇒ meaningful co-occurrence/PMI statistics for the
    lambda potential (ScorerFull.scala:207-227). Driver-vectorized (it is
    a stats *source*, bounded by entity-universe size, not corpus size).
    """
    uni = universe or EntityUniverse(seed=seed)
    rng = np.random.default_rng([seed, 3])
    doc_ids: list[int] = []
    names: list[str] = []
    ents: list[int] = []
    for d in range(n_docs):
        topic = int(rng.integers(uni.n_topics))
        pool = uni.topics[topic]
        k = 2 + int(rng.integers(0, 7))
        chosen = rng.choice(pool, size=k, replace=True)
        if rng.random() < 0.15:  # cross-topic noise link
            chosen = np.append(chosen, rng.integers(0, uni.n_entities))
        for e in chosen:
            doc_ids.append(d)
            ents.append(int(e))
            # label noise: with prob 0.02 the anchor text is an alias
            # of a *different* entity — the crosswikis dictionary is noisy
            # in exactly this way, and it plants real negatives inside
            # candidate blocks (spurious p̂(e|m) mass).
            if rng.random() < 0.02:
                other = int(rng.integers(0, uni.n_entities))
                names.append(uni.sample_alias(rng, other).lower())
            else:
                names.append(uni.sample_alias(rng, int(e)).lower())
    pdf = pd.DataFrame({"doc_id": doc_ids, "name": names, "entity": ents})
    # size partitions to the data: createDataFrame defaults to
    # defaultParallelism slices, so a few thousand anchor rows fan out
    # into 32 near-empty tasks in EVERY downstream map stage of the
    # statistics chain. Content is driver-generated, so partitioning
    # cannot change any value.
    parts = max(1, min(spark.sparkContext.defaultParallelism, len(pdf) // 2000 + 1))
    return spark.createDataFrame(pdf).coalesce(parts).select(
        F.col("doc_id").cast("bigint"),
        F.col("name"),
        F.col("entity").cast("bigint"),
    )
