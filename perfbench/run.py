#!/usr/bin/env python3
"""Benchmark of hama_spark: one workload per run, in a fresh JVM.

    python3 perfbench/run.py --workload sssp_frontier --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics (and the
tracing overhead) with ``--trace 1``. Everything else goes to stderr.
Scratch files (Spark local dirs, parquet inputs, span files) live under
``.bench_work/`` in the repository root.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("sssp_frontier", "mixed_session")
E2E_UNITS = {
    "setup_s": "s",
    "job_s": "s",
    "query_s_p50": "s",
    "query_s_tail": "s",
    "queries_per_s": "1/s",
}
# spill_mb is left out: 0 on every call at the benchmark's input sizes
LAYER_COUNTERS = (
    "wall_s", "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "driver_floor_share",
)
COUNTER_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "driver_floor_share": "share",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in output order."""
    def unit(counter: str) -> str:
        return COUNTER_UNITS.get(counter, "MB" if counter.endswith("_mb") else "s")

    units = {
        "session.start_s": "s",
        "session.conf_drift_share": "share",
        "session.peak_rss_mb": "MB",
        "sources.gen_s": "s",
        "sources.rows": "count",
        "plans.pregel.supersteps": "count",
        "plans.pregel.s_per_superstep": "s",
    }
    for layer in ("plans.pregel", "graph.prep", "graph.harmonic", "graph.linkpred"):
        units.update({f"{layer}.{c}": unit(c) for c in LAYER_COUNTERS})
    units.update({
        "result.collect_s": "s",
        "result.jobs": "count",
        "operators.query.jobs": "count",
        "operators.query.shuffle_read_mb": "MB",
        "operators.query.broadcast_join_share": "share",
        "trace.job_s_ratio": "ratio",
    })
    return units


def isolate(work: Path, cores: int) -> None:
    """Keep every file Spark and Python write inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CKPT_DIR"] = str(work / "checkpoints")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"
        f" --conf spark.sql.warehouse.dir={work / 'warehouse'}"
        " --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def rss_mb(pids: list[int]) -> float:
    total = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) / 1024
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the RSS of this process plus the JVM while it runs."""

    def __init__(self, pids: list[int], every_s: float = 0.2) -> None:
        self.pids, self.every_s, self.peak = pids, every_s, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler")

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_mb(self.pids))
            self._stop.wait(self.every_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_mb(self.pids))


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least ten of ``n`` samples beyond it."""
    return (100 * (n - 10)) // n if n > 10 else 0


def percentile(values: list[float], pct: int) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, (pct * len(s)) // 100)]


def end_to_end(w, setup_s: float) -> tuple[dict, dict]:
    res = w.res
    jobs = [s for s, traced in res.job_s if not traced]
    pct = tail_percentile(len(res.query_s))
    metrics = {
        "setup_s": setup_s,
        "job_s": statistics.median(jobs),
        "query_s_p50": statistics.median(res.query_s),
        "query_s_tail": percentile(res.query_s, pct),
        "queries_per_s": len(res.query_s) / res.query_window_s,
    }
    detail = {
        "query_tail_percentile": pct,
        "queries": len(res.query_s),
        "job_s": [round(s, 3) for s in jobs],
    }
    return metrics, detail


def per_layer(w, tracer, cores: int, session_s: float, peak_rss: float) -> dict:
    res = w.res
    m = dict.fromkeys(layer_units(), 0.0)
    m["session.start_s"] = session_s
    m["session.conf_drift_share"] = sum(res.drift) / max(len(res.drift), 1)
    m["session.peak_rss_mb"] = peak_rss
    m["sources.gen_s"] = statistics.median(w.gen_s)
    m["sources.rows"] = w.rows
    for layer in ("plans.pregel", "graph.prep", "graph.harmonic", "graph.linkpred"):
        medians = tracer.layer_medians(layer, cores)
        for k in LAYER_COUNTERS:
            m[f"{layer}.{k}"] = medians.get(k, 0.0)
    if m["plans.pregel.wall_s"]:
        m["plans.pregel.supersteps"] = statistics.median(res.supersteps)
        m["plans.pregel.s_per_superstep"] = m["plans.pregel.wall_s"] / m["plans.pregel.supersteps"]
    result = tracer.layer_medians("result", cores)
    m["result.collect_s"] = result["wall_s"]
    m["result.jobs"] = result["jobs"]
    query = tracer.layer_medians("operators.query", cores)
    m["operators.query.jobs"] = query["jobs"]
    m["operators.query.shuffle_read_mb"] = query["shuffle_read_mb"]
    m["operators.query.broadcast_join_share"] = statistics.median(res.bcast_share)
    traced = [s for s, t in res.job_s if t]
    untraced = [s for s, t in res.job_s if not t]
    m["trace.job_s_ratio"] = statistics.median(traced) / statistics.median(untraced)
    return m


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        isolate(work, cores)
        sys.path.insert(0, str(ROOT))
        from collector import Collector
        from tracing import Tracer
        from workloads import Workload

        from hama_spark import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - T_PROCESS
        try:
            tracer = Tracer(Collector(spark) if args.trace else None)
            w = Workload(args.workload, spark, tracer, args.seed, str(work))
            setup_s = session_s + w.setup()
            marks = {
                "session_s": session_s,
                "gen_s": w.gen_s,
                "warm_s": w.warm_s,
                "setup_end": time.perf_counter() - T_PROCESS,
            }
            w.prepare_references()
            marks["refs_end"] = time.perf_counter() - T_PROCESS
            with PeakRss([os.getpid(), spark.sparkContext._gateway.proc.pid]) as rss:
                w.measure(args.seconds)
            marks["measure_end"] = time.perf_counter() - T_PROCESS
            if args.trace:
                metrics = per_layer(w, tracer, cores, session_s, rss.peak)
                units, detail = layer_units(), {}
                traces = ROOT / ".bench_work" / "traces"
                traces.mkdir(parents=True, exist_ok=True)
                tracer.write(str(traces / f"{args.workload}-seed{args.seed}.json"))
            else:
                metrics, detail = end_to_end(w, setup_s)
                units = E2E_UNITS
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    marks["stopped"] = time.perf_counter() - T_PROCESS
    detail.update(workload=args.workload, seed=args.seed, cores=cores, **marks)
    print(json.dumps(detail), file=sys.stderr)
    print(json.dumps({
        "correct": w.res.failed == 0,
        "attempted": w.res.attempted,
        "failed": w.res.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
