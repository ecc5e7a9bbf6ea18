"""Public gold-dataset adapters — all four reference formats: AIDA-CoNLL
tab files, AQUAINT/MSNBC/ACE04 mentions-XML, GERBIL Problems/ dirs, and
the Wikipedia held-out validation anchors-per-page dump
(``load_wikipedia_gold`` / ``load_wikipedia_context`` ←
eval/datasets/WikipediaDataset.scala:13-95).

AIDA reference parity: eval/datasets/AIDA.scala:12-103 (the same format
also backs AQUAINT_MSNBC_ACE04.scala:12-97 and GERBIL_MSNBC.scala:13-83):
* ``-DOCSTART- (docname)`` opens a document; the doc id is the text
  between the parenthesis and the trailing ``)`` (:66-67).
* a token line whose tab fields mark a mention BEGIN (``\\tB\\t`` and not
  ``-NME-``, :73) carries: word, B/I, mention surface (field 2,
  lowercased + trimmed, :75), YAGO2 id, Wikipedia URL (entity title
  after the last ``/wiki/``, :76), numeric Wikipedia page id (field 5).
* every other non-empty line contributes only its first field (the
  word) to the document text (:94-96); ``I`` continuation lines are
  deliberately NOT separate mentions.
* testa/testb selection is a substring match on the doc name (:33).

Standalone recast: the reference resolves the URL title through its
Wikipedia redirect + name→id indexes and asserts the result equals
field 5 (:77-82). This engine ships no Wikipedia dumps, but the SAME
composition exists as ``resolve_entity_titles`` (redirect chase → index
probe over user-supplied dim tables) with ``title_resolution_report``
mirroring the :75-87 agreement/missing diagnostics; without an index,
the numeric gold id IS the entity id (AIDA) or a deterministic title
hash (xml/gerbil — ``hashed_id_collisions`` detects when that space
stops being faithful), and the title string always rides along so real
ids can be grafted on later.

Scale shape: one ``wholetext`` row per shard file (an AIDA dump is one
file; a sharded directory parallelizes per file), documents split and
exploded COLUMN-SIDE (split/posexplode/filter — no Python in the parse
path), mention lines filtered and field-sliced with codegen'd
expressions. Output shapes plug straight into the existing stack:
``to_transcripts`` yields the input_hint turn schema for the full
pipeline, ``aida_mentions``/``aida_gold`` feed
evaluate.linking_accuracy and resolve.assemble_conversations as-is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _title_entity_id(col: str) -> "F.Column":
    """Deterministic entity id from a title string for the formats that
    carry no numeric id: xxhash64 folded into [0, 2^31) — the LBP
    kernel packs entity PAIRS into one int64 (resolve._pack, mirroring
    utils/Utils.scala:37-43) and rejects ids ≥ 2^32, and negative ids
    would sign-extend through the packing. 2^31 keeps a full bit of
    headroom. Birthday math on the fold: expected collisions ≈
    n²/2^32, i.e. negligible at n=10^4 distinct titles (~0.02) but
    LIKELY by n=10^5 (~2.3 expected) — and a collision silently merges
    two gold entities, inflating self-anchored accuracy. Callers at
    that scale must either run ``hashed_id_collisions`` (the loaders'
    CLI does, and warns) or supply a real index via
    ``resolve_entity_titles``; the title string always rides along so
    both are possible after the fact."""
    return F.pmod(F.xxhash64(col), F.lit(1 << 31)).cast("long")


def hashed_id_collisions(gold: DataFrame) -> int:
    """Count DISTINCT titles silently merged by id collisions: for every
    entity id carrying more than one distinct ``entity_title``, the
    extra titles (Σ per-id (n_titles − 1)). 0 ⇔ the hashed-id space is
    faithful for this dataset. NULL titles are ignored (numeric-id
    formats carry none), and a title that legitimately maps to several
    ids contributes nothing — unlike a countDistinct(title) −
    countDistinct(id) difference, which such rows would drive negative,
    cancelling real collisions. One small aggregation over the distinct
    (title, id) pairs."""
    d = (
        gold.where(F.col("entity_title").isNotNull())
        .select("entity_title", "entity")
        .distinct()
        .groupBy("entity")
        .agg(F.countDistinct("entity_title").alias("nt"))
        .agg(F.sum(F.col("nt") - 1).alias("c"))
        .collect()[0]
    )
    return int(d["c"] or 0)


def resolve_entity_titles(
    gold: DataFrame,
    title_index: DataFrame,
    redirects: DataFrame | None = None,
) -> DataFrame:
    """Resolve ``entity_title`` strings to REAL entity ids through a
    user-supplied (title, entity_id) index — the reference's
    Wikipedia name→id probe (index/EntNameToIDIndex.scala:16-46),
    optionally preceded by the redirect chase
    (redirects.resolve_redirects ≙ RedirectPagesIndex.getCanonicalURL,
    the exact composition AIDA.scala:74 applies:
    ``getTitleId(getCanonicalURL(entityString))``).

    Where the index resolves the (canonicalized) title, ``entity`` is
    replaced by the index id; otherwise the existing id (numeric gold
    for AIDA, hashed-title fallback for xml/gerbil) is kept. Adds
    ``entity_resolved`` boolean so callers can count/filter the misses
    (the reference's NOT_CANONICAL_TITLE path, AIDA.scala:81-87).

    The index is a dim table (millions of rows at Wikipedia scale ≈
    a few hundred MB) — a plain left join AQE broadcasts when it fits;
    never force-hinted. Load the reference's TSV dump with
    ``spark.read.csv(path, sep="\\t")`` and rename columns."""
    # one row per title (deterministic min-id pick): real Wikipedia
    # title dumps contain duplicate lines, and a duplicated probe side
    # would fan every matching gold row — in aida_mentions_gold that
    # means two mention rows sharing one xxhash64 mention_id, silently
    # double-counted by every downstream mention_id join
    idx = (
        title_index.select(
            F.trim(F.col("title")).alias("__ti_title"),
            F.col("entity_id").cast("long").alias("__ti_id"),
        )
        .groupBy("__ti_title")
        .agg(F.min("__ti_id").alias("__ti_id"))
    )
    g = gold.withColumn("__ti_key", F.trim(F.col("entity_title")))
    if redirects is not None:
        from pboh_spark.redirects import resolve_redirects

        g = resolve_redirects(g, redirects, col="__ti_key")
    return (
        g.join(idx, g["__ti_key"] == idx["__ti_title"], "left")
        .withColumn("entity_resolved", F.col("__ti_id").isNotNull())
        .withColumn("entity", F.coalesce(F.col("__ti_id"), F.col("entity")))
        .drop("__ti_title", "__ti_id", "__ti_key")
    )


def title_resolution_report(
    gold: DataFrame,
    title_index: DataFrame,
    redirects: DataFrame | None = None,
) -> dict[str, int]:
    """The AIDA.scala:75-87 diagnostics as counts instead of printlns:
    resolve every gold title through (redirects →) the index and
    compare against the ids the gold table already carries.

    * ``n_unresolved`` ≙ the 'GROUND TRUTH ENT NOT IN EntNameToIDIndex'
      print (title missing from the index after the chase);
    * ``n_disagree`` ≙ the 'EEEEEEEEROR : ent != gtruth' print — only
      meaningful when ``gold.entity`` holds independent ids (AIDA's
      numeric field 5); for xml/gerbil's hashed fallbacks every
      resolved row "disagrees" by construction.
    """
    r = resolve_entity_titles(
        gold.withColumn("__gold_id", F.col("entity")), title_index, redirects
    )
    row = r.agg(
        F.count("*").alias("n"),
        F.sum(F.when(~F.col("entity_resolved"), 1).otherwise(0)).alias("miss"),
        F.sum(
            F.when(
                F.col("entity_resolved")
                & (F.col("entity") != F.col("__gold_id")),
                1,
            ).otherwise(0)
        ).alias("dis"),
    ).collect()[0]
    return {
        "n_gold": int(row["n"]),
        "n_resolved": int(row["n"]) - int(row["miss"] or 0),
        "n_unresolved": int(row["miss"] or 0),
        "n_disagree": int(row["dis"] or 0),
    }


def _unix_lines(col) -> "F.Column":
    """CRLF → LF once per file: a Windows-saved gold dump otherwise
    leaves '\\r' on every parsed field — numeric casts turn NULL and the
    NULL-filters silently drop EVERY mention."""
    return F.regexp_replace(col, "\r\n", "\n")


def load_aida(
    spark: SparkSession, path: str, split: str | None = None
) -> DataFrame:
    """Parse AIDA-CoNLL files under ``path`` into one row per document:
    (doc_id, words array<string>, raw document chunk). ``split`` filters
    doc ids by substring — 'testa' / 'testb' (AIDA.scala:33)."""
    raw = spark.read.text(path, wholetext=True).select(
        _unix_lines(F.col("value")).alias("value")
    )
    # a chunk per -DOCSTART-; the leading pre-DOCSTART chunk (if any) has
    # no "(" header and is dropped by the doc_id guard below
    chunk = F.posexplode(F.split(F.col("value"), r"-DOCSTART-"))
    docs = (
        raw.select(chunk.alias("pos", "chunk"))
        .where(F.col("pos") > 0)
        .select(
            F.regexp_extract(
                F.col("chunk"), r"^\s*\(([^)]*)\)", 1
            ).alias("doc_id"),
            F.split(F.col("chunk"), "\n").alias("lines"),
        )
        .where(F.col("doc_id") != "")
    )
    if split:
        docs = docs.where(F.col("doc_id").contains(split))
    # document words: first tab field of every non-empty body line
    words = F.filter(
        F.transform(
            F.slice(F.col("lines"), 2, F.size("lines")),
            lambda ln: F.element_at(F.split(ln, "\t"), 1),
        ),
        lambda w: (w.isNotNull()) & (w != ""),
    )
    return docs.select("doc_id", words.alias("words"), "lines")


def aida_mentions_gold(
    spark: SparkSession,
    path: str,
    split: str | None = None,
    title_index: DataFrame | None = None,
    redirects: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(mentions, gold) from AIDA files — the shapes the resolve /
    evaluate / learning stack consumes:

    mentions: (conv_id, turn_idx, mention_id, ngram, surface, pos)
    gold:     (conv_id, turn_idx, surface, entity, entity_title)

    One mention per BEGIN line (AIDA.scala:73-92), ordered by line
    position; ``mention_id`` is the deterministic xxhash64 of
    (doc, line position, surface) so ids are stable at any parallelism.

    With a ``title_index`` (title, entity_id) dim — and optionally a
    (alias, canonical) ``redirects`` dim — the URL title is resolved
    exactly like AIDA.scala:74
    (``getTitleId(getCanonicalURL(entityString))``): resolved ids
    REPLACE the numeric field-5 gold (the reference asserts they agree
    — run ``title_resolution_report`` for the agreement counts), and
    mentions whose title the index cannot resolve are DROPPED from both
    outputs, mirroring the NOT_CANONICAL_TITLE path (:81-87). gold then
    carries an ``entity_resolved`` column (all true)."""
    docs = load_aida(spark, path, split)
    ln = docs.select(
        F.col("doc_id").alias("conv_id"),
        F.posexplode("lines").alias("pos", "line"),
    )
    fields = F.split(F.col("line"), "\t")
    m = (
        ln.where(
            F.col("line").contains("\tB\t")
            & ~F.col("line").contains("-NME-")
        )
        .select(
            "conv_id",
            "pos",
            F.trim(F.lower(F.element_at(fields, 3))).alias("ngram"),
            # try_element_at + try_cast, not element_at/cast: a truncated
            # B-line with < 6 tab fields (or junk in the numeric id)
            # must DROP via the isNotNull filter below, not abort the
            # whole parse under ANSI mode (module convention — see
            # load_wikipedia_gold)
            F.regexp_extract(
                F.try_element_at(fields, F.lit(5)), r"/wiki/([^/]*)$", 1
            ).alias("entity_title"),
            F.try_element_at(fields, F.lit(6)).try_cast("long").alias(
                "entity"
            ),
        )
        .where((F.col("ngram") != "") & F.col("entity").isNotNull())
    )
    if title_index is not None:
        m = resolve_entity_titles(m, title_index, redirects).where(
            F.col("entity_resolved")
        )
    mentions = m.select(
        "conv_id",
        F.lit(0).alias("turn_idx"),
        F.xxhash64("conv_id", "pos", "ngram").alias("mention_id"),
        "ngram",
        F.col("ngram").alias("surface"),
        "pos",
    )
    gold_cols = [
        "conv_id",
        F.lit(0).alias("turn_idx"),
        F.col("ngram").alias("surface"),
        "entity",
        "entity_title",
    ]
    if title_index is not None:
        gold_cols.append("entity_resolved")
    gold = m.select(*gold_cols)
    return mentions, gold


def load_xml_gold(
    spark: SparkSession,
    path: str,
    title_index: DataFrame | None = None,
    redirects: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """AQUAINT / MSNBC / ACE04 mentions-XML adapter —
    eval/datasets/AQUAINT_MSNBC_ACE04.scala:23-97: one XML file per
    dataset with ``<document docName="...">`` sections holding
    ``<annotation>`` blocks of ``<mention>`` + ``<wikiName>``;
    ``&amp;`` unescapes to ``&`` (:48), mentions lowercase + trim
    (:68), NIL / empty wikiName annotations are dropped (:71-72).

    Standalone recast: the reference resolves wikiName through its
    Wikipedia name→id index; without one, the entity id is the
    deterministic xxhash64 of the wikiName folded into [0, 2^31)
    (``_title_entity_id`` — the LBP pair-packing needs 32-bit
    non-negative ids; stable across runs and datasets, so two docs
    linking the same title agree), and
    ``entity_title`` carries the name for joining a real index or
    redirect table later. WITH a ``title_index`` (title, entity_id) dim
    (plus optional redirects), gold ids become the index's REAL ids
    where the wikiName resolves — the reference's actual
    ``getTitleId(getCanonicalURL(...))`` path — with the hashed
    fallback kept for unresolved titles, flagged by the added
    ``entity_resolved`` column.

    Returns (mentions, gold) in the stack's shapes; mention order
    within a document follows annotation order.
    """
    raw = spark.read.text(path, wholetext=True).select(
        F.regexp_replace(_unix_lines(F.col("value")), "&amp;", "&").alias(
            "value"
        )
    )
    doc = F.posexplode(F.split(F.col("value"), r"<document docName="))
    docs = (
        raw.select(doc.alias("p", "chunk"))
        .where(F.col("p") > 0)
        .select(
            F.regexp_extract(F.col("chunk"), r'^"([^"]*)"', 1).alias(
                "conv_id"
            ),
            F.col("chunk"),
        )
        .where(F.col("conv_id") != "")
    )
    ann = F.posexplode(
        F.expr(
            r"regexp_extract_all(chunk, '(?s)<annotation>(.*?)</annotation>', 1)"
        )
    )
    m = (
        docs.select("conv_id", ann.alias("pos", "a"))
        .select(
            "conv_id",
            "pos",
            F.trim(
                F.lower(
                    F.regexp_extract(
                        F.col("a"), r"(?s)<mention>(.*?)</mention>", 1
                    )
                )
            ).alias("ngram"),
            # trim BEFORE the NIL/empty filters and the id hash:
            # whitespace-padded '<wikiName> England </wikiName>' must
            # hash like 'England', and 'NIL ' must still be dropped
            F.trim(
                F.regexp_extract(
                    F.col("a"), r"(?s)<wikiName>(.*?)</wikiName>", 1
                )
            ).alias("entity_title"),
        )
        .where(
            (F.col("ngram") != "")
            & (F.col("entity_title") != "")
            & (F.col("entity_title") != "NIL")
        )
        .withColumn("entity", _title_entity_id("entity_title"))
    )
    mentions = m.select(
        "conv_id",
        F.lit(0).alias("turn_idx"),
        F.xxhash64("conv_id", "pos", "ngram").alias("mention_id"),
        "ngram",
        F.col("ngram").alias("surface"),
        "pos",
    )
    gold = m.select(
        "conv_id",
        F.lit(0).alias("turn_idx"),
        F.col("ngram").alias("surface"),
        "entity",
        "entity_title",
    )
    if title_index is not None:
        gold = resolve_entity_titles(gold, title_index, redirects)
    return mentions, gold


def load_gerbil_gold(
    spark: SparkSession,
    problems_dir: str,
    title_index: DataFrame | None = None,
    redirects: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """GERBIL-MSNBC adapter — eval/datasets/GERBIL_MSNBC.scala:15-83:
    one ``Problems/<doc>.txt`` file per document, with
    ``<ReferenceInstance>`` blocks whose tag lines are each followed by
    the VALUE ON THE NEXT LINE (``<Offset>``, ``<SurfaceForm>``,
    ``<Annotation>`` — :60-70); ``&amp;`` → ``&``; NIL / empty
    annotations dropped (:50). Doc id = source file name. Entity ids
    hash from the annotation string exactly like load_xml_gold.

    Returns (mentions, gold); mentions carry the declared char
    ``offset`` into the raw text (the reference keeps it for the
    commented-out consistency assert, :62-64). ``title_index`` /
    ``redirects`` resolve annotation titles to real ids exactly as in
    load_xml_gold."""
    raw = (
        spark.read.text(f"{problems_dir}/*.txt", wholetext=True)
        .select(
            F.regexp_replace(_unix_lines(F.col("value")), "&amp;", "&").alias(
                "value"
            ),
            F.element_at(
                F.split(F.input_file_name(), "/"), -1
            ).alias("conv_id"),
        )
    )
    block = F.posexplode(
        F.expr(
            "regexp_extract_all(value, "
            "'(?s)<ReferenceInstance>(.*?)</ReferenceInstance>', 1)"
        )
    )
    nextline = lambda tag: F.regexp_extract(  # noqa: E731
        F.col("b"), rf"(?s)<{tag}>[^\n]*\n([^\n]*)", 1
    )
    m = (
        raw.select("conv_id", block.alias("pos", "b"))
        .select(
            "conv_id",
            "pos",
            F.trim(F.lower(nextline("SurfaceForm"))).alias("ngram"),
            # try_cast: a block with a missing/misplaced Offset line
            # yields "" here — NULL offset, not an ANSI abort of the
            # whole Problems/ parse
            F.trim(nextline("Offset")).try_cast("int").alias("offset"),
            F.trim(nextline("Annotation")).alias("entity_title"),
        )
        .where(
            (F.col("ngram") != "")
            & (F.col("entity_title") != "")
            & (F.col("entity_title") != "NIL")
        )
        .withColumn("entity", _title_entity_id("entity_title"))
    )
    mentions = m.select(
        "conv_id",
        F.lit(0).alias("turn_idx"),
        F.xxhash64("conv_id", "pos", "ngram").alias("mention_id"),
        "ngram",
        F.col("ngram").alias("surface"),
        "pos",
        "offset",
    )
    gold = m.select(
        "conv_id",
        F.lit(0).alias("turn_idx"),
        F.col("ngram").alias("surface"),
        "entity",
        "entity_title",
    )
    if title_index is not None:
        gold = resolve_entity_titles(gold, title_index, redirects)
    return mentions, gold


def load_raw_texts(spark: SparkSession, raw_dir: str) -> DataFrame:
    """RawTexts/ context directory → input_hint transcript turns, one
    per file (AQUAINT_MSNBC_ACE04.scala:54 / GERBIL_MSNBC.scala:36-37:
    lines joined by a single space; the GERBIL variant's ’→' char
    replacement applied unconditionally — harmless for the others)."""
    return (
        spark.read.text(f"{raw_dir}/*", wholetext=True)
        .select(
            F.element_at(
                F.split(F.input_file_name(), "/"), -1
            ).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.lit("document").alias("role"),
            F.translate(
                F.regexp_replace(_unix_lines(F.col("value")), "\n", " "),
                "’", "'",
            ).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
    )


def to_transcripts(docs: DataFrame) -> DataFrame:
    """AIDA documents as input_hint transcript turns (conv_id, turn_idx,
    role, text, tool, ts) — one turn per document, text = the
    whitespace-joined token stream the reference rebuilds at
    AIDA.scala:36 — so the standard ingest/stats/blocking stages run on
    a public gold corpus unchanged."""
    return docs.select(
        F.col("doc_id").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("document").alias("role"),
        F.array_join("words", " ").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


def anchors_from_titles(anchors: DataFrame) -> DataFrame:
    """Re-key an anchor corpus carrying entity TITLE strings
    (name, entity_title, doc_id) into the hashed id space the xml/gerbil
    adapters use — REQUIRED before passing external anchors to
    evaluate_gold_dataset for those formats, since their gold ids are
    `_title_entity_id(title)`, not catalog ids."""
    return anchors.select(
        "name",
        _title_entity_id(F.trim(F.col("entity_title"))).alias("entity"),
        "doc_id",
    )


def evaluate_gold_dataset(
    spark: SparkSession,
    mentions: DataFrame,
    gold: DataFrame,
    anchors: DataFrame | None = None,
    lbp: bool = True,
) -> dict:
    """eval/EvalOnDatasets.scala:150-205 recast: run ARGMAX and LBP
    side-by-side on a loaded gold set and report micro accuracy for
    both. Without an external anchor corpus the p̂(e|m) index is built
    from the gold annotations themselves (self-anchored mode — an upper
    bound / plumbing check; pass a real ``anchors`` table (name, entity,
    doc_id) for an honest evaluation)."""
    from pboh_spark import evaluate, resolve, stats

    if anchors is None:
        anchors = gold.select(
            F.col("surface").alias("name"), "entity",
            F.col("conv_id").alias("doc_id"),
        )
    ns = stats.name_stats(anchors)
    es = stats.entity_stats(anchors)
    scalars = stats.corpus_scalars(anchors)
    cand = resolve.mention_candidates(mentions, ns, es)
    out = {
        "n_gold_mentions": gold.count(),
        "argmax": evaluate.linking_accuracy(
            resolve.resolve_argmax(cand), gold, mentions
        ),
    }
    if lbp:
        lam = stats.with_lambda_potential(
            stats.cooccurrence(anchors), es, scalars
        )
        assign = resolve.resolve_entities(
            resolve.assemble_conversations(cand, mentions, lam),
            scalars=scalars,
        )
        out["lbp"] = evaluate.linking_accuracy(assign, gold, mentions)
    return out


def _main() -> None:
    """CLI: evaluate a public gold set end-to-end —
    ``python -m pboh_spark.datasets --format aida --path f [--split
    testa] [--anchors parquet] [--no-lbp]``. Prints one metrics JSON."""
    import argparse
    import json

    from pboh_spark.session import get_spark

    ap = argparse.ArgumentParser(description="gold-dataset evaluation")
    ap.add_argument("--format",
                    choices=["aida", "xml", "gerbil", "wikipedia"],
                    required=True)
    ap.add_argument("--path", required=True,
                    help="AIDA file/dir, mentions XML, GERBIL Problems/ "
                         "dir, or Wikipedia anchors-per-page file")
    ap.add_argument("--split", default=None,
                    help="AIDA doc-name substring filter (testa/testb)")
    ap.add_argument("--anchors", default=None,
                    help="anchor parquet (name, entity, doc_id); "
                         "default: self-anchored from gold")
    ap.add_argument("--title-index", default=None,
                    help="(title, entity_id) parquet — resolve gold "
                         "titles to REAL entity ids (EntNameToIDIndex)")
    ap.add_argument("--redirects", default=None,
                    help="(alias, canonical) parquet chased before the "
                         "title-index probe (RedirectPagesIndex)")
    ap.add_argument("--no-lbp", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    import sys as _sys

    spark = get_spark(cores=args.cores, app_name="pboh_gold_eval")
    tidx = spark.read.parquet(args.title_index) if args.title_index else None
    rdir = spark.read.parquet(args.redirects) if args.redirects else None
    if args.format == "aida":
        mentions, gold = aida_mentions_gold(
            spark, args.path, args.split, title_index=tidx, redirects=rdir
        )
    elif args.format == "xml":
        mentions, gold = load_xml_gold(
            spark, args.path, title_index=tidx, redirects=rdir
        )
    elif args.format == "wikipedia":
        # numeric-id format: no titles exist, so --title-index/--redirects
        # do not apply and the ids are already real
        mentions, gold = load_wikipedia_gold(spark, args.path)
    else:
        mentions, gold = load_gerbil_gold(
            spark, args.path, title_index=tidx, redirects=rdir
        )
    hashed_ids = args.format in ("xml", "gerbil") and tidx is None
    if args.format in ("xml", "gerbil"):
        # with an index, unresolved titles STILL fall back to hashed ids
        # — the collision check must cover exactly the hashed subset, or
        # supplying --title-index would silence the very warning that
        # catches merged fallback entities
        hashed_subset = (
            gold if tidx is None else gold.where(~F.col("entity_resolved"))
        )
        n_coll = hashed_id_collisions(hashed_subset)
        if n_coll:
            print(
                f"WARNING: {n_coll} distinct gold titles collided under "
                "the hashed-title entity ids"
                + ("" if tidx is None else " (among index-unresolved titles)")
                + " — colliding titles are silently merged (accuracy "
                "inflates); supply "
                + ("--title-index for real ids"
                   if tidx is None else "a more complete --title-index"),
                file=_sys.stderr,
            )
    anchors = None
    if args.anchors:
        anchors = spark.read.parquet(args.anchors)
        if tidx is not None and "entity_title" in anchors.columns:
            # gold ids are real index ids now — anchors keyed by title
            # must resolve through the SAME index (hashed fallback for
            # titles the index misses, matching the gold-side fallback)
            anchors = resolve_entity_titles(
                anchors.withColumn(
                    "entity", _title_entity_id(F.trim(F.col("entity_title")))
                ),
                tidx,
                rdir,
            ).select("name", "entity", "doc_id")
        elif hashed_ids:
            # xml/gerbil gold ids live in the hashed-title space — an
            # anchor table keyed by catalog ids would compare apples to
            # hashes and report ~0 accuracy as if the linker failed
            if "entity_title" in anchors.columns:
                anchors = anchors_from_titles(anchors)
            else:
                print(
                    "WARNING: --format "
                    f"{args.format} gold uses hashed-title entity ids; "
                    "the anchors parquet has no entity_title column to "
                    "re-key from (datasets.anchors_from_titles), so its "
                    "'entity' ids MUST already be _title_entity_id "
                    "hashes or every comparison will miss",
                    file=_sys.stderr,
                )
    metrics = evaluate_gold_dataset(
        spark, mentions, gold, anchors, lbp=not args.no_lbp,
    )
    metrics["format"] = args.format
    metrics["self_anchored"] = args.anchors is None
    print(json.dumps(metrics, indent=1))


def freebase_wiki_mapping(
    fb_rows: DataFrame,
    title_index: DataFrame,
    redirects: DataFrame | None = None,
) -> DataFrame:
    """External-id → entity-id mapping dim — index/FreebaseWikipIndex
    .scala:14-74 recast: each external id (a Freebase mid) arrives with
    one or more candidate wiki titles; titles chase the redirect dim,
    keep only those the (title, entity_id) index can resolve, and the id
    maps to the canonical title that appears MOST often among its
    candidates (:38-66 — multiple titles survive because all but one are
    disambiguation/list pages; the majority canonical wins). The
    reference's tie-break is hash-order-dependent; ours is deterministic
    (max count, then smallest title — the SURVEY §7.3 convention).

    ``fb_rows``: (ext_id, title) — one row per (id, candidate title),
    i.e. the raw map file after trivial line parsing.
    Returns (ext_id, entity, title): the dim ``evaluate.
    candidate_rank_report(id_mapping=...)`` consumes. Shape: one
    redirect-chase join + one index join + one groupBy — a dim-build
    job, broadcastable downstream."""
    t = fb_rows.select("ext_id", F.trim(F.col("title")).alias("title"))
    if redirects is not None:
        from pboh_spark.redirects import resolve_redirects

        t = resolve_redirects(t, redirects, col="title")
    idx = title_index.select(
        F.trim(F.col("title")).alias("title"),
        F.col("entity_id").cast("long").alias("entity"),
    )
    counted = (
        t.join(idx, "title")
        .groupBy("ext_id", "title", "entity")
        .agg(F.count("*").alias("n"))
    )
    # majority winner per ext_id via min_by over (-n, title): max count,
    # ties to smallest title — identical to the row_number window this
    # replaces, but partial-aggregated map-side (one row per ext_id over
    # the wire instead of every candidate row; BENCH.md lesson 10)
    return (
        counted.groupBy("ext_id")
        .agg(
            F.min_by(
                F.struct(F.col("entity"), F.col("title")),
                F.struct((-F.col("n")).alias("nn"), F.col("title")),
            ).alias("b")
        )
        .select(
            "ext_id",
            F.col("b.entity").alias("entity"),
            F.col("b.title").alias("title"),
        )
    )


def load_wikipedia_gold(
    spark: SparkSession, anchors_path: str
) -> tuple[DataFrame, DataFrame]:
    """Wikipedia held-out validation-set adapter — the 4th and last of
    the reference's gold-dataset formats
    (eval/datasets/WikipediaDataset.scala:13-95).

    Anchors file: ONE LINE PER PAGE —
    ``ids<TAB>m1<TAB>e1<TAB>m2<TAB>e2 ...`` where the numeric page id is
    the LAST comma-piece of the first field (:34) and the (mention,
    entity) pairs start at the SECOND field — the reference's 0-based
    loop takes ``(tokens(i-1), tokens(i))`` for even i ≥ 2, i.e. the
    first pair is ``(tokens(1), tokens(2))`` (:38-49). A dangling odd
    token at the end is ignored, mentions lowercase+trim, entities are
    already numeric Wikipedia ids so no title hashing is involved.
    Pages with no pairs are dropped (:37 ``tokens.length > 1``).

    line-per-page ``spark.read.text`` (NOT wholetext — a full Wikipedia
    anchors dump is millions of lines and must split across tasks),
    pairs exploded column-side via posexplode over the tab fields.

    Returns (mentions, gold) in the stack's shapes; ``pos`` preserves
    pair order within the page."""
    raw = spark.read.text(anchors_path).select(
        _unix_lines(F.col("value")).alias("value")
    )
    fields = F.split(F.col("value"), "\t")
    # try_cast, not cast: ANSI mode (Spark 4 default) ABORTS the whole
    # job on one malformed numeric field; a junk line must drop, not
    # kill a 10^6-line dump parse
    page = F.try_element_at(
        F.split(F.element_at(fields, 1), ","), F.lit(-1)
    ).try_cast("long")
    lines = raw.select(
        page.alias("page_id"), fields.alias("f")
    ).where(F.col("page_id").isNotNull() & (F.size("f") >= 3))
    tok = F.posexplode(F.col("f"))
    m = (
        lines.select("page_id", F.col("f"), tok.alias("pos0", "tok"))
        # entity tokens sit at even 0-based positions ≥ 2; the mention is
        # the immediately preceding field (1-based element_at == pos0)
        .where((F.col("pos0") >= 2) & (F.col("pos0") % 2 == 0))
        .select(
            F.col("page_id").cast("string").alias("conv_id"),
            (F.col("pos0") / 2).cast("int").alias("pos"),
            F.trim(
                F.lower(F.try_element_at(F.col("f"), F.col("pos0")))
            ).alias("ngram"),
            F.col("tok").try_cast("long").alias("entity"),
        )
        .where((F.col("ngram") != "") & F.col("entity").isNotNull())
    )
    mentions = m.select(
        "conv_id",
        F.lit(0).alias("turn_idx"),
        F.xxhash64("conv_id", "pos", "ngram").alias("mention_id"),
        "ngram",
        F.col("ngram").alias("surface"),
        "pos",
    )
    gold = m.select(
        "conv_id",
        F.lit(0).alias("turn_idx"),
        F.col("ngram").alias("surface"),
        "entity",
        # numeric-id format: no title string exists; NULL keeps the gold
        # schema aligned with the other three adapters
        F.lit(None).cast("string").alias("entity_title"),
    )
    return mentions, gold


def load_wikipedia_context(
    spark: SparkSession, context_path: str, pages: DataFrame
) -> DataFrame:
    """The validation set's one-doc-per-line plain-text dump
    (WikipediaDataset.scala:61-70): lines shaped
    ``<doc id="ID" ...>##<TAB><TAB><TAB>text``; only pages present in
    the gold set are kept (the reference's ``containsKey`` guard → a
    semi join against ``pages``, any DataFrame with a ``conv_id``
    column). Returns input_hint transcript turns, so context.word_freq /
    context_windows (the TextSplittingInWords.getContextWords analogue)
    and the whole ingest/stats stack run on it unchanged."""
    import re as _re

    marker = '">##\t\t\t'
    raw = spark.read.text(context_path).select(
        _unix_lines(F.col("value")).alias("value")
    )
    docs = (
        raw.where(
            F.col("value").startswith('<doc id="')
            & F.col("value").contains(marker)
        )
        .select(
            F.regexp_extract(F.col("value"), r'^<doc id="(\d+)"', 1).alias(
                "conv_id"
            ),
            F.element_at(
                F.split(F.col("value"), _re.escape(marker), 2), 2
            ).alias("text"),
        )
        .where(F.col("conv_id") != "")
    )
    return docs.join(
        pages.select("conv_id").distinct(), "conv_id", "left_semi"
    ).select(
        "conv_id",
        F.lit(0).alias("turn_idx"),
        F.lit("document").alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


# at END of module so the CLI can dispatch to every loader above
# (a mid-file guard made --format wikipedia NameError before its loader
# was defined)
if __name__ == "__main__":
    _main()
