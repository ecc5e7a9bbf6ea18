"""Spans for the traced benchmark run, and the per-layer rollup.

A span wraps one call into a layer's public function. It runs under its
own Spark job group, so the jobs it launched can be told apart from its
parent's and children's. When the span closes its jobs are read back at
once, before Spark's stage-retention limits can drop them:

* jobs and task counts from ``statusTracker()`` (public API);
* executor run time, shuffle, spill and output bytes from the core status
  store, and the bytes sent to Python workers from the SQL status store.
  Both stores are private APIs, so on any error those fields become
  ``{}`` and the rollup reads them as 0.

Spans are kept in memory and written as JSON when the run ends. The
layers are wrapped from here by patching the module attributes the
library calls through; nothing under ``pboh_spark/`` changes.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

COMPUTE_LAYERS = (
    "normalize", "stats", "blocking", "pairs", "cluster", "resolve",
    "learning", "param_learning", "ops.dedup", "ops.simsearch",
    "ops.textstats",
)
PYTHON_LAYERS = ("blocking", "pairs", "resolve", "learning", "ops.simsearch")

# checkpoint stage name prefix → layer (first match wins, so the
# surface-cluster expansion is claimed by pairs before s6_clusters)
STAGE_LAYERS = (
    ("s1_mentions", "normalize"),
    ("s1_surfaces", "pairs"),
    ("s2_", "stats"),
    ("s3_blocked", "blocking"),
    ("s4_pairs", "pairs"),
    ("s6_clusters_surf", "pairs"),
    ("s6_components", "cluster"),
    ("s6_clusters", "cluster"),
    ("s5_candidates", "resolve"),
    ("s5_assignments", "resolve"),
    ("s5_weights", "learning"),
    ("s5_param_tables", "param_learning"),
)

_MB = 1024.0 * 1024.0
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PY_SENT = "data sent to Python workers"


def stage_layer(stage: str) -> str:
    for prefix, layer in STAGE_LAYERS:
        if stage.startswith(prefix):
            return layer
    return "pipeline"


def _size_bytes(formatted: str) -> float:
    """A formatted SQL size metric ("total (min, med, max ...)\\n1.2 MiB
    (...)", or just "1.2 MiB" for one task) back to bytes."""
    m = re.match(r"\s*([\d.]+)\s*(B|KiB|MiB|GiB|TiB)\b", formatted.splitlines()[-1])
    return float(m.group(1)) * _SIZE[m.group(2)] if m else 0.0


class Tracer:
    """Records spans; ``spans`` holds them in start order."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._claimed: set[int] = set()  # executions a closed span owns
        self._jvm = spark._jvm

    # -- Spark readers --------------------------------------------------
    def _drain(self) -> None:
        """Wait until the listener bus has applied every event to the
        status stores (they update asynchronously)."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(0.05)

    def _last_execution_id(self) -> int:
        try:
            store = self.spark._jsparkSession.sharedState().statusStore()
            n = store.executionsCount()
            if n == 0:
                return -1
            seq = self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                store.executionsList(n - 1, 1)
            )
            return int(seq[0].executionId())
        except Exception:
            return -1

    def _stage_store(self, stage_ids: set[int]) -> dict:
        try:
            store = self.sc._jsc.sc().statusStore()
            conv = self._jvm.scala.jdk.javaapi.CollectionConverters
            no_q = self.sc._gateway.new_array(self._jvm.double, 0)
            run_ms = shuffle_w = shuffle_r = spill = out_b = 0
            for sid in stage_ids:
                attempts = store.stageData(
                    sid, False, self._jvm.java.util.ArrayList(), False, no_q
                )
                for a in conv.asJava(attempts):
                    run_ms += a.executorRunTime()
                    shuffle_w += a.shuffleWriteBytes()
                    shuffle_r += a.shuffleReadBytes()
                    spill += a.diskBytesSpilled()
                    out_b += a.outputBytes()
            return {
                "executor_s": run_ms / 1000.0,
                "shuffle_write_mb": shuffle_w / _MB,
                "shuffle_read_mb": shuffle_r / _MB,
                "spill_mb": spill / _MB,
                "output_mb": out_b / _MB,
            }
        except Exception:
            return {}

    def _sql_store(
        self, jobs: set[int], first_eid: int, last_eid: int, python: bool
    ) -> dict:
        """Actions (SQL executions) whose jobs belong to this span, with
        their call sites and (if ``python``) the bytes their plans sent
        to Python workers. Children close first, so their executions are
        skipped without a lookup."""
        try:
            store = self.spark._jsparkSession.sharedState().statusStore()
            actions: list[str] = []
            py_bytes = 0.0
            for eid in range(first_eid, last_eid + 1):
                if eid in self._claimed:
                    continue
                opt = store.execution(eid)
                if opt.isEmpty():
                    continue
                ex = opt.get()
                ex_jobs = {int(j) for j in re.findall(r"\d+", str(ex.jobs().keySet()))}
                if not ex_jobs & jobs:
                    continue
                self._claimed.add(eid)
                actions.append(str(ex.description()))
                if not python:
                    continue
                ids = set(re.findall(
                    r"SQLPlanMetric\(" + re.escape(_PY_SENT) + r",(\d+),",
                    str(ex.metrics().toString()),
                ))
                if ids:
                    # one call for the whole formatted map, "Map(id -> value, ...)"
                    values = str(store.executionMetrics(eid).toString())
                    for i in ids:
                        m = re.search(
                            r"[(,] ?" + i + r" -> (.*?)(?=, \d+ -> |\)$)", values, re.S
                        )
                        if m:
                            py_bytes += _size_bytes(m.group(1))
            return {"actions": actions, "python_mb": py_bytes / _MB}
        except Exception:
            return {}

    def _read(self, group: str, first_eid: int, layer: str) -> dict:
        self._drain()
        tracker = self.sc.statusTracker()
        jobs = set(tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        tasks = failed = 0
        for s in stage_ids:
            info = tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
                failed += info.numFailedTasks
        out = {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}
        out.update(self._stage_store(stage_ids))
        out.update(self._sql_store(
            jobs, first_eid, self._last_execution_id(), layer in PYTHON_LAYERS
        ))
        return out

    # -- spans ----------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        group = f"perfbench-span-{rec['id']}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        first_eid = self._last_execution_id() + 1
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            rec.update(self._read(group, first_eid, layer))
            # time spent reading Spark's stores; the parent's self time
            # excludes it along with the span itself
            rec["read_s"] = time.perf_counter() - rec["end"]



@contextmanager
def instrument(tracer: Tracer):
    """Wrap the layer entry points the pipeline calls in spans: every
    checkpointed stage, plus the eager calls made outside or inside
    stages (CC rounds, the two fits, the corpus scalars)."""
    from pboh_spark import cluster, learning, param_learning, stats
    from pboh_spark.checkpoint import StageCheckpointer

    def stage_wrapper(orig):
        def run_stage(self, stage, builder, upstream=None, **kw):
            skipped = self.is_complete(stage, upstream or [])
            with tracer.span(stage, stage_layer(stage), kind="stage") as rec:
                df = orig(self, stage, builder, upstream, **kw)
                rec["skipped"] = skipped
                rec["rows"] = 0 if skipped else self.stage_metrics(stage).get("rows", 0)
            return df

        return run_stage

    def call_wrapper(layer):
        def wrap(orig):
            def traced(*args, **kw):
                with tracer.span(orig.__name__, layer, kind="call"):
                    return orig(*args, **kw)

            return traced

        return wrap

    patches = [
        (StageCheckpointer, "run_stage", stage_wrapper),
        (cluster, "connected_components", call_wrapper("cluster")),
        (learning, "learn_weights", call_wrapper("learning")),
        (param_learning, "learn_param_tables", call_wrapper("param_learning")),
        (stats, "corpus_scalars", call_wrapper("stats")),
    ]
    saved = []
    try:
        for owner, attr, wrapper in patches:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, wrapper(orig))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def layer_rollup(spans: list[dict], cores: int) -> dict[str, float]:
    """Per-layer totals over one traced call's spans. A span's wall time
    counts once: its duration minus the part its child spans (and the
    reads that closed them) cover."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            covered = s["end"] - s["start"] + s.get("read_s", 0.0)
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + covered
    out: dict[str, float] = {}
    for layer in COMPUTE_LAYERS:
        own = [s for s in spans if s["layer"] == layer]
        wall = sum(s["end"] - s["start"] - child_s.get(s["id"], 0.0) for s in own)
        execu = sum(s.get("executor_s", 0.0) for s in own)
        out[f"{layer}.wall_s"] = wall
        out[f"{layer}.executor_s"] = execu
        out[f"{layer}.core_util"] = execu / (wall * cores) if wall > 0 else 0.0
        for key in ("tasks", "failed_tasks", "shuffle_write_mb", "spill_mb"):
            out[f"{layer}.{key}"] = sum(s.get(key, 0) for s in own)
        out[f"{layer}.rows_out"] = sum(s.get("rows", 0) for s in own)
        if layer in PYTHON_LAYERS:
            out[f"{layer}.python_mb"] = sum(s.get("python_mb", 0.0) for s in own)

    stages = [s for s in spans if s.get("kind") == "stage"]
    written = [s for s in stages if not s.get("skipped")]
    out["checkpoint.write_mb"] = sum(s.get("output_mb", 0.0) for s in written)
    # actions a stage runs besides its write (today: the per-partition
    # lineage count); the builder's own actions are the layer's work
    out["checkpoint.extra_jobs"] = sum(
        1
        for s in written
        for a in s.get("actions", [])
        if "checkpoint.py" in a and not a.startswith("parquet at")
    )
    out["checkpoint.stages_skipped"] = sum(1 for s in stages if s.get("skipped"))
    # one convergence count() per hash-to-min round
    out["cluster.cc_rounds"] = sum(
        1
        for s in spans
        if s["name"] == "connected_components"
        for a in s.get("actions", [])
        if a.startswith("count at")
    )
    roots = [s for s in spans if s["layer"] == "pipeline" and s.get("kind") == "root"]
    out["pipeline.self_s"] = sum(
        s["end"] - s["start"] - child_s.get(s["id"], 0.0) for s in roots
    )
    return out
