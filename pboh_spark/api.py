"""User-facing entity-linking API — the analogue of the reference's only
public surface, ``EntityLinkingAPI`` (console_el/ConsoleEntityLinking.
scala:114-138): given the mentions of ONE document/conversation (plus
optional already-known context entities), return the jointly-resolved
entity per mention.

Reference parity:
* mentions arrive as a list of surface strings (comma-split in the
  console REPL, :44-91)
* known context entities are appended as pseudo-mentions that only
  contribute pairwise evidence (offsets ≥ 10^6 trick, :82-87) — here a
  candidate row with a single fixed candidate and rho = 0
* resolution = the same bounded max-product / sum-product kernel the
  batch pipeline uses (resolve._solve_conv)
* returns ALL predictions with scores (correct+wrong, :133-137)

The statistics inputs are the engine's stage-2 tables (name_stats /
entity_stats / lambda table + scalars) — load them once, link many.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pboh_spark.resolve import (
    LAMBDA_FLOOR, _pack, _solve_conv, backoff_lam_const, conv_tensors,
)
from pboh_spark.stats import TOP_K, ScorerWeights
from pboh_spark.util import release


@dataclass
class Annotation:
    """≙ eval/Annotation.scala:12-28 (minus file path)."""

    mention: str
    entity: int
    score: float
    converged: bool


class EntityLinker:
    """Driver-side linker over broadcast-sized statistics tables.

    Built from stage-2 DataFrames via ``EntityLinker.from_tables`` —
    collects the name dictionary (surface-form bound) and the lambda /
    popularity rows pruned to its candidate closure; the unpruned lambda
    table is entity-pair bound and is never collected. For corpus-scale linking
    use resolve.resolve_entities (the distributed path); this class is
    the interactive/serving shape (one conversation per call).
    """

    def __init__(
        self,
        name_candidates: dict[str, list[tuple[int, float]]],
        log_pop: dict[int, float],
        lam_map: dict[int, float],
        lam_const: float = LAMBDA_FLOOR,
    ):
        self.name_candidates = name_candidates
        self.log_pop = log_pop
        self.lam_map = lam_map
        self.lam_const = lam_const
        self.weights = ScorerWeights()  # the validated constants

    @classmethod
    def from_tables(
        cls,
        name_stats,
        entity_stats,
        lambda_table,
        scalars: dict[str, int] | None = None,
        max_lambda_rows: int = 20_000_000,
    ) -> "EntityLinker":
        """Serving-size memory bound: only the candidate CLOSURE of the
        name dictionary is collected. The raw lambda table is entity-pair
        bound (~10^9 rows at reference scale,
        EntityCooccurrenceIndex.scala:44) — collecting it whole would OOM
        the driver — so it is pruned to pairs with at least ONE endpoint
        in the top-10 candidate closure (one-endpoint, not both:
        caller-supplied context entities outside every name's top-10 keep
        their steering pairs; size = Σ cocitation degree over ≤ |names|·10
        closure entities). ``max_lambda_rows`` is a hard ceiling: exceeding it
        raises instead of silently ballooning the driver heap — serve via
        the distributed path (resolve.resolve_entities) instead.
        """
        from pyspark.sql import functions as F

        # collect the dictionary ONCE and derive the closure locally —
        # avoids re-running the name_stats rank window for each of the
        # pruning joins below
        cands_rows = (
            name_stats.where(F.col("rank") <= TOP_K)
            .select("name", "entity", "prob")
            .collect()
        )
        cand: dict[str, list[tuple[int, float]]] = {}
        closure_ids: set[int] = set()
        for r in cands_rows:
            cand.setdefault(r["name"], []).append((int(r["entity"]), float(r["prob"])))
            closure_ids.add(int(r["entity"]))
        spark = lambda_table.sparkSession
        closure = spark.createDataFrame(
            [(e,) for e in sorted(closure_ids)], "entity bigint"
        )
        # keep lambda rows with EITHER endpoint in the closure: the other
        # endpoint may be a caller-supplied context entity (the REPL's
        # '| e1 e2' steering) — a both-endpoint prune would silently
        # neutralize context entities outside every name's top-10. Size is
        # Σ cocitation degree over the closure — still ≪ the full
        # entity-pair table, and the ceiling below still guards it.
        c1 = closure.select(F.col("entity").alias("e1")).withColumn(
            "in1", F.lit(1)
        )
        c2 = closure.select(F.col("entity").alias("e2")).withColumn(
            "in2", F.lit(1)
        )
        lam_pruned = (
            lambda_table.select("e1", "e2", "lambda_potential")
            .join(F.broadcast(c1), "e1", "left")
            .join(F.broadcast(c2), "e2", "left")
            .where(F.col("in1").isNotNull() | F.col("in2").isNotNull())
            .select("e1", "e2", "lambda_potential")
            .persist()
        )
        try:
            n_lam = lam_pruned.count()
            if n_lam > max_lambda_rows:
                raise ValueError(
                    f"pruned lambda table has {n_lam} rows > max_lambda_rows="
                    f"{max_lambda_rows}; use the distributed "
                    "resolve.resolve_entities path instead of a driver-side "
                    "linker"
                )
            lam_rows = lam_pruned.collect()
            # popularity for every entity the kernel can touch: closure ∪
            # lambda endpoints (covers context entities with any
            # cocitation history; isolated ones fall back to 0.0, where
            # they carry no pair evidence anyway)
            needed = (
                closure.select("entity")
                .union(lam_pruned.select(F.col("e1").alias("entity")))
                .union(lam_pruned.select(F.col("e2").alias("entity")))
                .distinct()
            )
            pop = {
                int(r["entity"]): float(r["log_pop"])
                for r in entity_stats.select("entity", "log_pop")
                .join(needed, "entity", "left_semi")
                .collect()
            }
        finally:
            release(lam_pruned)
        lam = {
            int(_pack(np.array([r["e1"]]), np.array([r["e2"]]))[0]): float(
                r["lambda_potential"]
            )
            for r in lam_rows
        }
        lam_const = backoff_lam_const(scalars) if scalars else LAMBDA_FLOOR
        return cls(cand, pop, lam, lam_const)

    def link(
        self,
        mentions: list[str],
        context_entities: list[int] | None = None,
        max_product: bool = True,
    ) -> list[Annotation]:
        """Jointly link one conversation's mentions. Unknown mentions
        (no dictionary candidates) are returned with entity −1
        (≙ VerifyEDAbstract.scala:58-78 exclusion path)."""
        norm = [m.lower() for m in mentions]
        known = [(i, self.name_candidates[n]) for i, n in enumerate(norm)
                 if n in self.name_candidates]
        out: list[Annotation] = [
            Annotation(m, -1, float("nan"), True) for m in mentions
        ]
        if not known:
            return out
        # one candidate row per (mention row, entity); context entities
        # are pseudo-mentions pinned to one candidate with neutral unary
        # evidence, rho 0 (console_el offsets ≥ 10^6 trick)
        rows = [
            (row, eid, float(np.log(max(prob, 1e-300))))
            for row, (_, cands) in enumerate(known)
            for eid, prob in cands
        ] + [
            (len(known) + j, eid, 0.0)
            for j, eid in enumerate(dict.fromkeys(context_entities or []))
        ]
        cand = pd.DataFrame(rows, columns=["mention_id", "entity", "rho"])
        cand["log_pop"] = [self.log_pop.get(e, 0.0) for e in cand["entity"]]
        t = conv_tensors(cand)
        best, score, _iters, conv = _solve_conv(
            t.ents, t.rho, self.lam_map, self.weights, max_product,
            logpop=t.logpop, lam_const=self.lam_const,
        )
        for row, (i, _) in enumerate(known):
            out[i] = Annotation(
                mentions[i],
                int(t.ents[row, best[row]]),
                float(score[row]),
                bool(conv),
            )
        return out


def format_annotations(anns: list[Annotation]) -> str:
    """One line per mention, ≙ the console's ALL-predictions output
    (ConsoleEntityLinking.scala:133-137): mention<TAB>entity<TAB>score;
    unknown mentions print entity −1."""
    return "\n".join(
        f"{a.mention}\t{a.entity}\t"
        f"{'nan' if a.score != a.score else f'{a.score:.4f}'}"
        for a in anns
    )


def main() -> None:
    """Console REPL — the analogue of the reference's only public
    surface (console_el/ConsoleEntityLinking.scala:44-91): each stdin
    line is one conversation's mentions, comma-split; an optional
    ``| e1 e2 ...`` suffix supplies known context entity ids. Prints
    every prediction with its score. Statistics come from parquet
    tables (--name-stats/--entity-stats/--lambda) or, with --synth,
    from the seeded synthetic corpus (demo mode)."""
    import argparse
    import sys as _sys

    ap = argparse.ArgumentParser(description="pboh_spark console linker")
    ap.add_argument("--name-stats", help="parquet path: stage-2 name_stats")
    ap.add_argument("--entity-stats", help="parquet path: stage-2 entity_stats")
    ap.add_argument("--lambda-table", help="parquet path: stage-2 lambda table")
    ap.add_argument("--synth", action="store_true",
                    help="build stats from the seeded synthetic corpus")
    ap.add_argument("--sum-product", action="store_true",
                    help="marginal (sum-product) scores instead of max-product")
    args = ap.parse_args()

    from pboh_spark import stats as stats_mod
    from pboh_spark.session import get_spark

    paths = (args.name_stats, args.entity_stats, args.lambda_table)
    if not args.synth and any(paths) and not all(paths):
        ap.error(
            "--name-stats, --entity-stats and --lambda-table must be "
            "given together (or use --synth)"
        )
    spark = get_spark(cores=8, app_name="pboh_console", shuffle_partitions=16)
    if args.synth or not args.name_stats:
        from pboh_spark import synth

        uni = synth.EntityUniverse()
        anchors = synth.generate_anchors(spark, 3000, universe=uni)
        ns = stats_mod.name_stats(anchors)
        es = stats_mod.entity_stats(anchors)
        cooc = stats_mod.cooccurrence(anchors).persist()
        scalars = stats_mod.corpus_scalars(anchors, cooc=cooc)
        lam = stats_mod.with_lambda_potential(cooc, es, scalars)
    else:
        ns = spark.read.parquet(args.name_stats)
        es = spark.read.parquet(args.entity_stats)
        lam = spark.read.parquet(args.lambda_table)
        scalars = None
    linker = EntityLinker.from_tables(ns, es, lam, scalars)
    print("ready — mentions comma-split, optional '| ctx ids':",
          file=_sys.stderr)
    for line in _sys.stdin:
        line = line.strip()
        if not line:
            continue
        ctx: list[int] = []
        if "|" in line:
            line, ctx_part = line.split("|", 1)
            try:
                ctx = [int(x) for x in ctx_part.split()]
            except ValueError:
                print(
                    f"error: context ids must be integers, got {ctx_part!r}",
                    file=_sys.stderr,
                )
                continue
        mentions = [m.strip() for m in line.split(",") if m.strip()]
        anns = linker.link(
            mentions, context_entities=ctx,
            max_product=not args.sum_product,
        )
        print(format_annotations(anns), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
