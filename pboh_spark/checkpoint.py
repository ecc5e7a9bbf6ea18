"""Per-stage checkpointing with per-partition lineage + metrics, and
resume-from-last-complete-stage (north_rule requirement).

Design: every pipeline stage is written durably before the next stage
reads it — the distributed analogue of the reference's persist() +
saveAsTextFile checkpoints between its RDD jobs
(context/EntityWordsProbs.scala:200,213), and like them written once and
never scanned back. A stage directory contains

    <base>/<stage>/data/          parquet, one part-NNNNN file per write
                                  task
    <base>/<stage>/metrics.json   rows, wall time, schema fingerprint,
                                  per-partition row counts (lineage),
                                  upstream stage names + their fingerprints

Row counts, lineage and schema come from the footers of the part files
just written, read with pyarrow in this process: a stage costs its write
job(s) and nothing else. Lineage is per **write** partition — the task
number in the part file name, summed over that task's files — not per
split of a later read (Spark's file packing may read 16 written files
as 4 partitions). The schema is the one Spark stores in every footer
(``SPARK_SCHEMA_KEY``); fresh and resumed stages are served by the same
reader, with that schema given, so serving a stage launches no job.
The checkpointer is local-filesystem only: the data directories, their
footers and metrics.json are listed, read and written with ``pathlib``.

Resume: a stage whose metrics.json exists and whose upstream
fingerprints still match is **skipped** and served from its data dir —
restartability without recomputation. A changed upstream invalidates
everything downstream (lineage chain check).

At 100 TB these durable writes double as shuffle barriers that truncate
lineage (no 40-stage recompute on executor loss) and as the natural
place to repartition/bucket for the next stage's join key.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from pboh_spark.util import release

# footer key under which Spark's parquet writer stores the row schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _fingerprint(metrics: dict) -> str:
    return f"{metrics.get('rows')}:{metrics.get('schema')}"


def _part_files(dpath: Path) -> list[Path]:
    return sorted(dpath.glob("part-*.parquet"))


class StageCheckpointer:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = Path(base_dir)
        self.base.mkdir(parents=True, exist_ok=True)
        self._done: dict[str, dict] = {}

    def _paths(self, stage: str) -> tuple[Path, Path]:
        d = self.base / stage
        return d / "data", d / "metrics.json"

    def read(self, stage: str) -> DataFrame:
        """The stage's data, with the schema Spark stored in the footer of
        its first part file: planning the scan launches no job."""
        dpath = self._paths(stage)[0]
        files = _part_files(dpath)
        if not files:
            raise FileNotFoundError(f"no parquet part files in {dpath}")
        meta = pq.read_metadata(files[0]).metadata or {}
        if SPARK_SCHEMA_KEY not in meta:
            raise ValueError(
                f"{files[0]} has no Spark schema in its footer "
                f"(key {SPARK_SCHEMA_KEY.decode()}); it was not written by "
                "Spark's parquet writer"
            )
        schema = StructType.fromJson(json.loads(meta[SPARK_SCHEMA_KEY]))
        return self.spark.read.schema(schema).parquet(str(dpath))

    def load_metrics(self, stage: str) -> dict | None:
        _, mpath = self._paths(stage)
        if mpath.exists():
            return json.loads(mpath.read_text())
        return None

    def is_complete(self, stage: str, upstream: list[str]) -> bool:
        m = self.load_metrics(stage)
        if m is None:
            return False
        for up in upstream:
            um = self._done.get(up) or self.load_metrics(up)
            if um is None:
                return False
            if m["upstream"].get(up) != _fingerprint(um):
                return False
        return True

    def stage_metrics(self, stage: str) -> dict:
        """Metrics of a stage run (or resumed) this session."""
        return self._done.get(stage) or self.load_metrics(stage) or {}

    def observed(self, stage: str) -> dict:
        """What the stage's write observed (``run_stage``'s ``observe``)."""
        return self.stage_metrics(stage).get("observed", {})

    def run_stage(
        self,
        stage: str,
        builder: Callable[[], DataFrame],
        upstream: list[str] | None = None,
        repartition_by: str | None = None,
        observe: dict | None = None,
    ) -> DataFrame:
        """Build-or-resume. ``repartition_by`` lets a stage land
        pre-partitioned on the next stage's join/agg key (the bucketing
        analogue without a metastore).

        ``observe`` — {name: aggregate Column} piggybacked on the stage
        write via ``df.observe`` (A4's idiomatic form: the metrics ride
        the write job, zero extra actions) and persisted under
        ``metrics.json["observed"]`` so resumed runs read them back.

        A fresh stage runs only its write: ``rows`` and the per-write-
        partition lineage are summed from the part files' footer row
        counts, and the returned frame is ``read(stage)``. The builder's
        frame is then released (``util.release``): whatever it pinned —
        CC's checkpointed labels — is freed once it is written. A resumed
        stage runs no job, unless its metrics.json predates one of the
        ``observe`` names: those are then aggregated once from the
        stage's data (one job) into this session's metrics, and
        metrics.json is left as it was written."""
        upstream = upstream or []
        dpath, mpath = self._paths(stage)
        if self.is_complete(stage, upstream):
            m = self._done[stage] = self.load_metrics(stage)
            out = self.read(stage)
            got = m.get("observed", {})
            missing = {k: e for k, e in (observe or {}).items() if k not in got}
            if missing:
                got = m["observed"] = dict(got)
                row = out.agg(*[e.alias(k) for k, e in missing.items()]).first()
                got.update(row.asDict())
            return out

        t0 = time.time()
        built = df = builder()
        obs = None
        if observe:
            from pyspark.sql import Observation

            obs = Observation(stage)
            df = df.observe(
                obs, *[expr.alias(name) for name, expr in observe.items()]
            )
        if repartition_by:
            df = df.repartition(repartition_by)
        df.write.mode("overwrite").parquet(str(dpath))
        release(built)
        out = self.read(stage)
        # lineage: footer row counts summed per write task, whose number
        # is the NNNNN of the part-NNNNN-<job uuid>-cNNN file name
        counts: dict[int, int] = {}
        for f in _part_files(dpath):
            part = int(f.name.split("-")[1])
            counts[part] = counts.get(part, 0) + pq.read_metadata(f).num_rows
        per_part = [{"partition": p, "rows": n} for p, n in sorted(counts.items())]
        metrics = {
            "stage": stage,
            "rows": sum(p["rows"] for p in per_part),
            "n_partitions": len(per_part),
            "per_partition": per_part,
            "wall_sec": round(time.time() - t0, 3),
            "schema": out.schema.simpleString(),
            "upstream": {
                up: _fingerprint(self._done.get(up) or self.load_metrics(up) or {})
                for up in upstream
            },
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        if obs is not None:
            metrics["observed"] = {
                k: (v.item() if hasattr(v, "item") else v)
                for k, v in obs.get.items()
            }
        mpath.parent.mkdir(parents=True, exist_ok=True)
        mpath.write_text(json.dumps(metrics, indent=1))
        self._done[stage] = metrics
        return out

    def summary(self) -> dict[str, dict]:
        out = {}
        for d in sorted(self.base.iterdir()):
            m = self.load_metrics(d.name)
            if m:
                out[d.name] = {
                    k: m[k] for k in ("rows", "n_partitions", "wall_sec")
                }
        return out

