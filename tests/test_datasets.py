"""AIDA-CoNLL adapter (datasets.py) — round-trip on a committed fixture
(tests/fixtures/aida_sample.txt, 3 docs / 2 splits / 7 mentions incl. a
multi-word mention with an I-continuation line and an -NME- line) and
the end-to-end hook into the evaluate stack.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pboh_spark import datasets, evaluate, resolve, stats

FIXTURE = str(Path(__file__).resolve().parent / "fixtures" / "aida_sample.txt")


def test_load_aida_documents(spark):
    docs = datasets.load_aida(spark, FIXTURE).orderBy("doc_id").collect()
    assert [d["doc_id"] for d in docs] == [
        "1 testa Cricket", "2 testa Politics", "3 testb Football"
    ]
    # doc text = first tab field of every non-empty line (AIDA.scala:94-96)
    assert docs[0]["words"] == [
        "England", "beat", "Pakistan", "by", "an", "innings", "at",
        "Lord", "'s", ".",
    ]


def test_split_filter_matches_reference_semantics(spark):
    testa = datasets.load_aida(spark, FIXTURE, split="testa")
    testb = datasets.load_aida(spark, FIXTURE, split="testb")
    assert testa.count() == 2
    assert testb.count() == 1


def test_mentions_and_gold(spark):
    mentions, gold = datasets.aida_mentions_gold(spark, FIXTURE)
    g = {
        (r["conv_id"], r["surface"]): (r["entity"], r["entity_title"])
        for r in gold.collect()
    }
    # B-lines only: the I-continuation of "lord 's" must NOT duplicate,
    # the -NME- line must NOT appear
    assert len(g) == 8
    assert g[("1 testa Cricket", "lord 's")] == (103, "Lord%27s")
    assert g[("2 testa Politics", "new york")] == (104, "New_York")
    assert g[("3 testb Football", "karachi")] == (105, "Karachi")
    m = mentions.collect()
    assert len(m) == 8
    assert all(r["ngram"] == r["surface"] for r in m)
    # deterministic ids, unique per occurrence
    assert len({r["mention_id"] for r in m}) == 8


def test_to_transcripts_schema(spark):
    t = datasets.to_transcripts(datasets.load_aida(spark, FIXTURE))
    assert [f.name for f in t.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
    ]
    row = t.where(t.conv_id == "3 testb Football").collect()[0]
    assert row["text"] == "Pakistan hosted England in Karachi ."


XML_FIXTURE = str(
    Path(__file__).resolve().parent / "fixtures" / "msnbc_sample.xml"
)
GERBIL_DIR = str(
    Path(__file__).resolve().parent / "fixtures" / "gerbil_problems"
)
GERBIL_RAW = str(Path(__file__).resolve().parent / "fixtures" / "gerbil_raw")


def test_xml_gold_adapter(spark):
    """AQUAINT/MSNBC/ACE04 mentions-XML: NIL and empty wikiName dropped,
    &amp; unescaped, mentions lowercased, ids deterministic."""
    mentions, gold = datasets.load_xml_gold(spark, XML_FIXTURE)
    g = {
        (r["conv_id"], r["surface"]): r["entity_title"]
        for r in gold.collect()
    }
    assert len(g) == 4  # 6 annotations − 1 NIL − 1 empty
    assert g[("Bus16451112.txt", "at&t labs")] == "AT&T"
    assert g[("Pol16451321.txt", "new york")] == "New_York"
    # same title ⇒ same hashed entity id across documents
    ids = {
        (r["conv_id"], r["entity_title"]): r["entity"]
        for r in gold.collect()
    }
    assert (
        ids[("Bus16451112.txt", "England")]
        == ids[("Pol16451321.txt", "England")]
    )
    assert mentions.count() == 4


def test_hashed_entity_ids_fit_lbp_pair_packing(spark):
    """xml/gerbil entity ids hash from titles — they must land in
    [0, 2^31): the LBP kernel rejects ids ≥ 2^32 and negative ids would
    sign-extend through the pair packing (regression: raw xxhash64
    crashed resolve_entities on these formats)."""
    for _, gold in (
        datasets.load_xml_gold(spark, XML_FIXTURE),
        datasets.load_gerbil_gold(spark, GERBIL_DIR),
    ):
        ids = [r["entity"] for r in gold.select("entity").collect()]
        assert ids and all(0 <= i < (1 << 31) for i in ids), ids


def test_xml_gold_lbp_path_runs(spark):
    """The full LBP resolver must run on hashed-id gold sets (the crash
    scenario: evaluate_gold_dataset's default lbp=True path)."""
    mentions, gold = datasets.load_xml_gold(spark, XML_FIXTURE)
    m = datasets.evaluate_gold_dataset(spark, mentions, gold, lbp=True)
    assert m["lbp"]["micro_accuracy"] == 1.0


def test_gerbil_adapter(spark):
    """GERBIL Problems/ dir: value-on-next-line tags, per-file docs,
    offsets preserved, NIL dropped."""
    mentions, gold = datasets.load_gerbil_gold(spark, GERBIL_DIR)
    rows = {
        (r["conv_id"], r["ngram"]): r["offset"] for r in mentions.collect()
    }
    assert rows == {
        ("doc1.txt", "england"): 10,
        ("doc1.txt", "at&t labs"): 40,
        ("doc2.txt", "new york"): 5,
    }
    g = {r["surface"]: r["entity_title"] for r in gold.collect()}
    assert g == {
        "england": "England", "at&t labs": "AT&T", "new york": "New_York",
    }


def test_gerbil_raw_texts(spark):
    t = datasets.load_raw_texts(spark, GERBIL_RAW).collect()
    assert len(t) == 1
    row = t[0]
    assert row["conv_id"] == "doc1.txt"
    # lines joined by a space, the ’ → ' replacement applied
    assert "somebody's friends on a second line" in row["text"]


def test_xml_gold_end_to_end_accuracy(spark):
    """Same e2e hook as AIDA: gold-derived anchors → candidates →
    argmax → linking_accuracy must be perfect on the fixture."""
    from pyspark.sql import functions as F

    mentions, gold = datasets.load_xml_gold(spark, XML_FIXTURE)
    anchors = gold.select(
        F.col("surface").alias("name"), "entity",
        F.col("conv_id").alias("doc_id"),
    )
    cand = resolve.mention_candidates(
        mentions, stats.name_stats(anchors)
    )
    metrics = evaluate.linking_accuracy(
        resolve.resolve_argmax(cand), gold, mentions
    )
    assert metrics["n_mentions"] == 4
    assert metrics["micro_accuracy"] == 1.0


def test_evaluate_gold_dataset_argmax_and_lbp(spark):
    """EvalOnDatasets recast: both resolvers side-by-side on a loaded
    gold set (self-anchored ⇒ both must be perfect on the fixture)."""
    mentions, gold = datasets.aida_mentions_gold(spark, FIXTURE)
    m = datasets.evaluate_gold_dataset(spark, mentions, gold, lbp=True)
    assert m["argmax"]["micro_accuracy"] == 1.0
    assert m["lbp"]["micro_accuracy"] == 1.0
    assert m["n_gold_mentions"] == 8


def test_linking_accuracy_end_to_end_on_aida(spark):
    """The VERDICT r3 #3 acceptance bar: an AIDA file feeds the existing
    candidate/resolve/evaluate stack unchanged. Anchors are derived from
    the gold itself (each doc 'links' its surfaces), so the prior is
    perfect and micro accuracy must be 1.0 — any drop means a plumbing
    bug in the adapter shapes."""
    from pyspark.sql import functions as F

    mentions, gold = datasets.aida_mentions_gold(spark, FIXTURE)
    anchors = gold.select(
        F.col("surface").alias("name"), "entity",
        F.col("conv_id").alias("doc_id"),
    )
    ns = stats.name_stats(anchors)
    cand = resolve.mention_candidates(mentions, ns)
    assign = resolve.resolve_argmax(cand)
    metrics = evaluate.linking_accuracy(assign, gold, mentions)
    assert metrics["n_mentions"] == 8
    assert metrics["micro_accuracy"] == 1.0


def _title_index(spark, rows):
    return spark.createDataFrame(rows, "title string, entity_id long")


def test_title_index_resolution_matches_aida_numeric_gold(spark):
    """VERDICT r4 #3 acceptance bar: with a (title → id) index —
    the EntNameToIDIndex.scala:16-46 analogue — the resolved ids must
    equal AIDA's numeric field-5 gold end-to-end, exactly the agreement
    the reference asserts at AIDA.scala:75-82."""
    idx = _title_index(spark, [
        ("England", 101), ("Pakistan", 102), ("Lord%27s", 103),
        ("New_York", 104), ("Karachi", 105),
    ])
    # numeric gold (no index)
    _, base = datasets.aida_mentions_gold(spark, FIXTURE)
    # index-resolved gold
    mentions, gold = datasets.aida_mentions_gold(
        spark, FIXTURE, title_index=idx
    )
    resolved = {
        (r["conv_id"], r["surface"]): r["entity"] for r in gold.collect()
    }
    numeric = {
        (r["conv_id"], r["surface"]): r["entity"] for r in base.collect()
    }
    assert resolved == numeric  # 8 mentions, ids from the INDEX
    assert gold.where("NOT entity_resolved").count() == 0
    assert mentions.count() == 8
    # the scala-mirror diagnostic agrees: all resolved, zero disagreement
    rep = datasets.title_resolution_report(base, idx)
    assert rep == {
        "n_gold": 8, "n_resolved": 8, "n_unresolved": 0, "n_disagree": 0
    }


def test_title_index_redirect_chase_and_unresolved_drop(spark):
    """getTitleId(getCanonicalURL(title)): a title only reachable via
    the redirect dim still resolves; titles the index cannot resolve
    drop their mentions (the NOT_CANONICAL_TITLE path, AIDA.scala:81-87)
    and the report counts them."""
    from pyspark.sql import functions as F  # noqa: F401

    # no New_York key — only reachable through the redirect alias
    idx = _title_index(spark, [
        ("England", 101), ("Pakistan", 102), ("Lord%27s", 103),
        ("New_York_City", 9104), ("Karachi", 105),
    ])
    redirects = spark.createDataFrame(
        [("New_York", "New_York_City")], "alias string, canonical string"
    )
    mentions, gold = datasets.aida_mentions_gold(
        spark, FIXTURE, title_index=idx, redirects=redirects
    )
    g = {(r["conv_id"], r["surface"]): r["entity"] for r in gold.collect()}
    assert g[("2 testa Politics", "new york")] == 9104  # chased + resolved
    assert len(g) == 8 and mentions.count() == 8
    # WITHOUT the redirect table, New_York is unresolved: its mention
    # drops from both outputs and the report shows the miss
    m2, g2 = datasets.aida_mentions_gold(spark, FIXTURE, title_index=idx)
    assert g2.count() == 7 and m2.count() == 7
    _, base = datasets.aida_mentions_gold(spark, FIXTURE)
    rep = datasets.title_resolution_report(base, idx)
    assert rep["n_unresolved"] == 1 and rep["n_disagree"] == 0
    # WITH the chase the title resolves, but to 9104 ≠ numeric gold 104:
    # exactly the reference's 'EEEEEEEEROR : ent != gtruth' diagnostic
    rep2 = datasets.title_resolution_report(base, idx, redirects)
    assert rep2["n_unresolved"] == 0 and rep2["n_disagree"] == 1


def test_xml_gold_title_index_upgrades_hashed_ids(spark):
    """xml adapter with an index: resolved titles get REAL ids, misses
    keep the hashed fallback and are flagged."""
    xml = str(Path(__file__).resolve().parent / "fixtures" / "msnbc_sample.xml")
    _, base = datasets.load_xml_gold(spark, xml)
    titles = sorted(
        r["entity_title"] for r in
        base.select("entity_title").distinct().collect()
    )
    idx = _title_index(spark, [(titles[0], 777001)])
    _, gold = datasets.load_xml_gold(spark, xml, title_index=idx)
    rows = gold.collect()
    for r in rows:
        if r["entity_title"] == titles[0]:
            assert r["entity"] == 777001 and r["entity_resolved"]
        else:
            assert r["entity"] < (1 << 31) and not r["entity_resolved"]


def test_hashed_id_collision_check(spark):
    """hashed_id_collisions: 0 on the faithful fixture space; a planted
    two-titles-one-id table reports exactly 1."""
    _, gold = datasets.load_xml_gold(
        spark, str(Path(__file__).resolve().parent / "fixtures" / "msnbc_sample.xml")
    )
    assert datasets.hashed_id_collisions(gold) == 0
    planted = spark.createDataFrame(
        [("a", "T1", 7), ("b", "T2", 7), ("c", "T3", 8)],
        "conv_id string, entity_title string, entity long",
    )
    assert datasets.hashed_id_collisions(planted) == 1


WIKI_ANCHORS = str(
    Path(__file__).resolve().parent / "fixtures" / "wiki_anchors.txt"
)
WIKI_CONTEXT = str(
    Path(__file__).resolve().parent / "fixtures" / "wiki_context.txt"
)


def test_wikipedia_gold_adapter(spark):
    """WikipediaDataset.scala:30-53: page id = last comma-piece of
    field 1; (mention, entity) pairs from field 2 on; dangling odd
    token ignored; junk/pair-less lines dropped (try_cast hardening
    where the reference would crash on .toInt)."""
    mentions, gold = datasets.load_wikipedia_gold(spark, WIKI_ANCHORS)
    g = {
        (r["conv_id"], r["surface"]): r["entity"] for r in gold.collect()
    }
    assert g == {
        ("101", "england"): 501, ("101", "pakistan"): 502,
        ("102", "england"): 501,
    }
    assert gold.where("entity_title IS NOT NULL").count() == 0
    m = mentions.collect()
    assert len(m) == 3
    assert len({r["mention_id"] for r in m}) == 3
    # order preserved within a page
    pos = {
        (r["conv_id"], r["ngram"]): r["pos"] for r in m
    }
    assert pos[("101", "england")] < pos[("101", "pakistan")]


def test_wikipedia_context_semi_join(spark):
    """The one-doc-per-line dump keeps only gold pages
    (WikipediaDataset.scala:61-70's containsKey guard) and yields
    input_hint transcript turns."""
    mentions, _ = datasets.load_wikipedia_gold(spark, WIKI_ANCHORS)
    t = datasets.load_wikipedia_context(spark, WIKI_CONTEXT, mentions)
    rows = {r["conv_id"]: r["text"] for r in t.collect()}
    assert set(rows) == {"101", "102"}  # 999 and junk dropped
    assert rows["101"].startswith("England beat Pakistan")
    assert [f.name for f in t.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
    ]
    # the transcripts feed the standard mention/context stack unchanged
    from pboh_spark.normalize import extract_mentions

    assert extract_mentions(t).count() > 0


def test_wikipedia_end_to_end_accuracy(spark):
    """Self-anchored eval on the wikipedia-format fixture: the adapter
    shapes plug into the candidate/resolve/evaluate stack with micro
    accuracy 1.0 (any drop = plumbing bug)."""
    mentions, gold = datasets.load_wikipedia_gold(spark, WIKI_ANCHORS)
    m = datasets.evaluate_gold_dataset(spark, mentions, gold, lbp=False)
    assert m["n_gold_mentions"] == 3
    assert m["argmax"]["micro_accuracy"] == 1.0
