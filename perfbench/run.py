"""Same-box benchmark of the pboh_spark linkage engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One closed-loop client in this process
drives ``local[<cores>]`` Spark: each timed call starts only after the
previous one and its output checks have finished. Set-up (Spark session,
seeded inputs written to parquet, any state the workload starts from,
and for ``ops_dedup`` one untimed warm-up call) is timed from process
start to the first timed call as ``setup_s``. For the linkage workloads
the first timed call is the first in its Spark session, as for a
pipeline submitted on its own.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` makes sure one untraced call ran first, then makes traced
calls and reports the per-layer metrics, the tracing overhead (the time
the spans' reads add to a traced call) and the difference in Spark jobs
between a traced call and the untraced one. Either way the last line of
standard output is one JSON object: ``{"correct", "attempted",
"failed", "metrics"}``. Spans of a traced run
are also written to ``.bench_out/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
sys.path[0] = str(ROOT)  # import perfbench and pboh_spark from the checkout

from perfbench.workloads import WORKLOADS  # noqa: E402

RESUMES = 3  # resumes per traced run; checkpoint.resume_s is their median


def _tree_pss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants, each
    shared page split between the processes that map it (PSS): the
    Python workers are forked from one daemon and share most of its
    pages, so summing their RSS would count those pages once per worker."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


class PeakRss:
    """Samples the resident memory (PSS) of a process tree until closed."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid, self.interval, self.peak = root_pid, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.peak = max(self.peak, _tree_pss_bytes(self.root_pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def _start_spark(cores: int, work: Path):
    from pboh_spark.session import get_spark

    local = work / "spark-local"
    tmp = work / "tmp"
    local.mkdir(parents=True)
    tmp.mkdir(parents=True)
    # keep every file Spark, the JVM and the Python workers write inside
    # the checkout (the environment is inherited by the JVM and workers)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark(
        cores=cores,
        app_name="perfbench",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            # keep every job, stage and action of a run readable by the
            # traced run's spans (the defaults evict after 1000)
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
            "spark.sql.ui.retainedExecutions": "20000",
            "spark.local.dir": str(local),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _jobs_started(spark) -> int | None:
    """Jobs submitted so far in this SparkContext (a private counter)."""
    try:
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId().get())
    except Exception:
        return None


def _with_units(values: dict[str, float]) -> dict:
    """The result's metrics, each with the unit BENCHMARK.json declares."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """One benchmark process: set-up, the closed measuring loop, and the
    result line."""

    def __init__(self, args, spark, cores: int, work: Path):
        self.args, self.spark, self.cores, self.work = args, spark, cores, work
        self.wl = WORKLOADS[args.workload](args.size)
        self.attempted = self.failed = 0
        self.digest = None
        self.first_jobs = None  # Spark jobs of the first (untraced) call
        self.checked: list[dict] = []
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def setup(self) -> float:
        """Inputs and start state; returns seconds since process start."""
        t0 = time.perf_counter()
        self.wl.generate(self.spark, self.args.seed, self.work / "inputs")
        t1 = time.perf_counter()
        self.wl.prepare(self.spark, self.work)
        if self.wl.warm_up and self.timed() is None:
            raise RuntimeError("the warm-up call failed")
        self.checked.clear()
        t2 = time.perf_counter()
        print(f"[perfbench] session {t0 - T_START:.2f}s, inputs {t1 - t0:.2f}s, "
              f"prepare {t2 - t1:.2f}s", file=sys.stderr)
        return t2 - T_START

    def timed(self, tracer=None) -> dict | None:
        """One closed-loop call plus its checks; None if either failed."""
        self.attempted += 1
        i = self.attempted
        try:
            jobs0 = _jobs_started(self.spark)
            with PeakRss(self.jvm_pid) as rss:
                t = time.perf_counter()
                outcome = self.wl.call(self.spark, i, tracer)
                wall = time.perf_counter() - t
            jobs1 = _jobs_started(self.spark)
            print(f"[perfbench] call {i}: {wall:.3f}s", file=sys.stderr)
            result = self.wl.check(self.spark, outcome)
            if self.digest is None:
                self.digest = result["digest"]
            elif result["digest"] != self.digest:
                raise RuntimeError(f"output digest {result['digest']} != {self.digest}")
        except Exception as e:  # a failed call or check counts, the loop goes on
            self.failed += 1
            print(f"[perfbench] call {i} failed: {e!r}", file=sys.stderr)
            return None
        jobs = jobs1 - jobs0 if jobs0 is not None and jobs1 is not None else 0
        if self.first_jobs is None:
            self.first_jobs = jobs
        result.update(wall=wall, rss=rss.peak, outcome=outcome, jobs=jobs)
        self.checked.append(result)
        return result

    def measure(self) -> dict:
        deadline = time.perf_counter() + self.args.seconds
        while not self.checked or time.perf_counter() < deadline:
            if self.timed() is None and time.perf_counter() >= deadline:
                break
        ok = self.checked
        if not ok:
            return {}
        return {
            "wall_s": _median([r["wall"] for r in ok]),
            "docs_per_s": _median([self.wl.n_docs / r["wall"] for r in ok]),
            "peak_rss_mb": max(r["rss"] for r in ok) / 2**20,
            "pairwise_f1": min(r["pairwise_f1"] for r in ok),
        }

    def measure_traced(self) -> dict:
        from perfbench.spans import Tracer, instrument, layer_rollup

        # the untraced call the traced ones are compared with; the session's
        # first call is also slower than the rest, so none is traced
        if not self.wl.warm_up and self.timed() is None:
            return {}
        tracer = Tracer(self.spark)
        traced = []
        deadline = time.perf_counter() + self.args.seconds
        while not traced or time.perf_counter() < deadline:
            n_before = len(tracer.spans)
            with instrument(tracer):
                r = self.timed(tracer=tracer)
            if r is not None:
                spans = tracer.spans[n_before:]
                r["spans"] = spans
                r["layers"] = layer_rollup(spans, self.cores)
                r["leaked_rdds"] = self.spark.sparkContext._jsc.getPersistentRDDs().size()
                traced.append(r)
            elif time.perf_counter() >= deadline:
                break
        if not traced or self.first_jobs is None:
            return {}
        metrics = {}
        for name in traced[0]["layers"]:
            metrics[name] = _median([r["layers"][name] for r in traced])
        metrics["pipeline.leaked_rdds"] = _median([r["leaked_rdds"] for r in traced])
        last = traced[-1]
        spans, m = last["spans"], last["outcome"].get("metrics") or {}
        scored = sum(
            s.get("rows", 0) for s in spans
            if s["name"].startswith("s4_pairs") and not s.get("skipped")
        )
        metrics["pairs.pairs_scored"] = scored
        metrics["pairs.match_ratio"] = m["n_matches"] / scored if scored else 0.0
        lbp = m.get("lbp") or {}
        metrics["resolve.pct_converged"] = lbp.get("pct_converged") or 0.0
        metrics["resolve.avg_iters"] = lbp.get("avg_iters") or 0.0
        metrics["resolve.linking_accuracy"] = last.get("linking_accuracy", 0.0)
        metrics["ops.dedup.dup_recall"] = last.get("dup_recall", 0.0)
        fits = {"learn_weights": ("learning", getattr(self.wl, "learn_rounds", 0)),
                "learn_param_tables": ("param_learning", getattr(self.wl, "param_rounds", 0))}
        for name, (layer, rounds) in fits.items():
            secs = [s["end"] - s["start"] for s in spans if s["name"] == name]
            metrics[f"{layer}.round_s"] = sum(secs) / rounds if secs and rounds else 0.0
        resume_s = []
        if hasattr(self.wl, "resume"):
            for _ in range(RESUMES):
                t = time.perf_counter()
                self.wl.resume(self.spark, last["outcome"])
                resume_s.append(time.perf_counter() - t)
        metrics["checkpoint.resume_s"] = _median(resume_s)
        # measured directly: differencing a traced and an untraced call's
        # wall time would mostly measure the JIT warming between them
        metrics["trace.overhead_s"] = _median(
            [sum(s.get("read_s", 0.0) for s in r["spans"]) for r in traced]
        )
        metrics["trace.extra_jobs"] = _median([r["jobs"] for r in traced]) - self.first_jobs
        self._write_spans(tracer)
        return metrics

    def _write_spans(self, tracer) -> None:
        out = ROOT / ".bench_out"
        out.mkdir(exist_ok=True)
        t0 = tracer.spans[0]["start"] if tracer.spans else 0.0
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in tracer.spans
        ]
        path = out / f"spans-{self.args.workload}-{self.args.seed}.json"
        path.write_text(json.dumps({"workload": self.args.workload,
                                    "seed": self.args.seed,
                                    "cores": self.cores, "spans": spans}, indent=1))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="input size; 'smoke' is for the benchmark's own test")
    args = ap.parse_args(argv)

    if not (ROOT / "pboh_spark" / "__init__.py").is_file():
        print(f"perfbench: no pboh_spark package under {ROOT}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    spark = None
    try:
        spark = _start_spark(cores, work)
        run = Run(args, spark, cores, work)
        setup_s = run.setup()
        metrics = run.measure_traced() if args.trace else run.measure()
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if not metrics:
        print("perfbench: no call completed its checks", file=sys.stderr)
        return 1
    if not args.trace:
        metrics["setup_s"] = setup_s
    metrics = _with_units(metrics)
    for name, m in metrics.items():
        print(f"{name:32s} {m['value']:14.6f} {m['unit']}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
