"""The benchmark's workloads.

``sssp_frontier`` runs one client: a closed loop of SSSP jobs, then a
closed loop of star-join queries on the idle session (the "query alone"
baseline). ``mixed_session`` runs two client threads on one session at
once: thread A loops the multi-pass graph analytics job, thread B loops
the star-join query. Every result is compared with a reference computed
without Spark (``reference.py``).
"""

from __future__ import annotations

import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import inputs
import reference
from tracing import Tracer

# Session confs the program's loop-plan guard (hama_spark.plans.pregel)
# sets while a big-graph operator runs; a query that starts while any of
# them differs from its session-start value counts as conf drift.
GUARDED_CONFS = (
    "spark.sql.adaptive.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.join.preferSortMergeJoin",
)
JOIN_OPS = (
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin",
    "CartesianProduct",
)

GEN_REPEATS = 3  # input generation runs this often in set-up; setup_s takes the median
SINGLE_JOB_SHARE = 0.5  # share of --seconds sssp_frontier gives to jobs
MIN_QUERIES = 22  # so that query_s_tail (ten samples beyond it) sits above the median
MIN_A_JOBS = 2  # mixed_session: job_s is a median; traced runs need one of each kind


@dataclass
class Spec:
    """Input sizes of one workload. ``warm_vertices`` sizes a separate
    warm-up graph; without it the warm-up runs on the timed graph."""

    vertices: int
    out_edges: int
    star_orders: int
    warm_vertices: int | None = None


SPECS = {
    # 55k vertices: above the guard's 50k-vertex threshold, ~30 weighted
    # supersteps, each moving only the improved frontier
    "sssp_frontier": Spec(vertices=55_000, out_edges=3, star_orders=10_000),
    # ~72k symmetrized edges: above the guard's 50k-edge threshold. The
    # warm-up graph is far below it, so the first timed job still
    # compiles the guarded plans; job_s is the median over the run's
    # jobs (usually three)
    "mixed_session": Spec(vertices=12_000, out_edges=3, star_orders=10_000, warm_vertices=1_000),
}
HARMONIC = dict(landmarks=8, radius=4, seed=42)
LINKPRED = dict(max_degree=64, min_common=2, topk=25)
SSSP_SOURCE = "0"
SSSP_MAX_ITER = 200  # a cap only: the fixpoint halts after ~30 supersteps
WARM_ITERATIONS = 4
SCORE_ATOL = 1e-6


@dataclass
class Results:
    attempted: int = 0
    failed: int = 0
    job_s: list = field(default_factory=list)  # (seconds, traced)
    query_s: list = field(default_factory=list)
    query_window_s: float = 0.0
    drift: list = field(default_factory=list)  # per traced query: conf differed at start
    bcast_share: list = field(default_factory=list)
    supersteps: list = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def record(self, ok: bool, what: str, detail: str = "") -> None:
        with self.lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                print(f"[perfbench] {what} FAILED {detail}", file=sys.stderr, flush=True)


class Workload:
    def __init__(self, name: str, spark, tracer: Tracer, seed: int, work_dir: str):
        self.name = name
        self.spec = SPECS[name]
        self.spark = spark
        self.tracer = tracer
        self.untraced = Tracer(None)
        self.seed = seed
        self.work_dir = work_dir
        self.res = Results()
        self.session_confs = {k: spark.conf.get(k, None) for k in GUARDED_CONFS}
        self.gen_s: list[float] = []
        self.rows = 0

    # ---- set-up -------------------------------------------------------
    def generate(self) -> None:
        """One pass of seeded input generation and materialization."""
        t = time.perf_counter()
        sp = self.spec
        self.edges = inputs.graph(
            self.spark, sp.vertices, sp.out_edges, self.seed, weighted=self.name == "sssp_frontier"
        )
        self.star = inputs.star_tables(f"{self.work_dir}/star", self.seed, sp.star_orders)
        self.tables = {name: self.spark.read.parquet(path) for name, path in self.star.items()}
        self.gen_s.append(time.perf_counter() - t)

    def setup(self) -> float:
        """Generate inputs GEN_REPEATS times and warm up; returns the
        set-up seconds this adds (median generation + warm-up).

        The warm-up runs the timed operator's plans once, untimed: a
        truncated SSSP on the timed graph (sssp_frontier) or the
        analytics job on a small graph (mixed_session), then one
        query."""
        for _ in range(GEN_REPEATS):
            self.generate()
        t = time.perf_counter()
        if self.spec.warm_vertices is None:
            self.run_job(self.edges, self.untraced, iterations=WARM_ITERATIONS)
        else:
            warm = inputs.graph(
                self.spark, self.spec.warm_vertices, self.spec.out_edges, self.seed + 1,
                weighted=False,
            )
            self.run_job(warm, self.untraced)
        self.run_query(self.untraced)
        self.warm_s = time.perf_counter() - t
        self.rows = self.edges.count() + inputs.star_rows(self.star)
        return statistics.median(self.gen_s) + self.warm_s

    def prepare_references(self) -> None:
        """Reference results for the timed inputs (not timed)."""
        cols = self.edges.toArrow().to_pydict()
        if self.name == "sssp_frontier":
            edges = zip(cols["src"], cols["dst"], cols["weight"])
            self.ref = reference.dijkstra(edges, SSSP_SOURCE)
        else:
            pairs = list(zip(cols["src"], cols["dst"]))
            self.ref = (
                reference.harmonic(pairs, **HARMONIC),
                reference.link_prediction(pairs, **LINKPRED),
            )
        self.star_ref = reference.star_revenue(self.star)

    # ---- operations ---------------------------------------------------
    def run_job(self, edges, tracer: Tracer, iterations: int | None = None):
        """One graph job, from the operator call to the collected result.
        ``iterations`` truncates the SSSP fixpoint (warm-up only)."""
        from hama_spark.graph import harmonic_centrality, sssp
        from hama_spark.graph.linkpred import link_prediction
        from hama_spark.graph.prep import edge_relation

        if self.name == "sssp_frontier":
            stats: dict = {}
            with tracer.span("plans.pregel"):
                d = sssp(
                    edges, SSSP_SOURCE, max_iter=iterations or SSSP_MAX_ITER,
                    halt_check_interval=5, stats_out=stats,
                )
            with tracer.span("result"):
                rows = d.collect()
            if tracer.on:
                self.res.supersteps.append(stats["supersteps_run"])
            return {r.id: r.dist for r in rows}
        with tracer.span("graph.prep"):
            e = edge_relation(edges, symmetrize=True, prepared=False)
        with tracer.span("graph.harmonic"):
            h = harmonic_centrality(
                e, landmarks=HARMONIC["landmarks"], radius=HARMONIC["radius"],
                seed=HARMONIC["seed"], prepared=True,
            )
        with tracer.span("result"):
            hrows = h.collect()
        with tracer.span("graph.linkpred"):
            lp = link_prediction(
                e, max_neighbor_degree=LINKPRED["max_degree"],
                min_common=LINKPRED["min_common"], topk=LINKPRED["topk"], prepared=True,
            )
        with tracer.span("result"):
            lrows = lp.collect()
        return (
            {r.id: (r.harmonic, r.n_lm) for r in hrows},
            [(r.id_a, r.id_b, r.common_neighbors, r.jaccard, r.adamic_adar) for r in lrows],
        )

    def check_job(self, out) -> str:
        """'' when ``out`` matches the reference, else what differs."""
        if self.name == "sssp_frontier":
            bad = [v for v in self.ref if out.get(v) != self.ref[v]]
            return "" if len(out) == len(self.ref) and not bad else f"{len(bad)} distances differ"
        (h, lp), (href, lpref) = out, self.ref
        bad = [
            v for v in href
            if v not in h or h[v][1] != href[v][1] or abs(h[v][0] - href[v][0]) > SCORE_ATOL
        ]
        if len(h) != len(href) or bad:
            return f"{len(bad)} harmonic scores differ"
        same = len(lp) == len(lpref) and all(
            a[:3] == b[:3] and abs(a[3] - b[3]) <= SCORE_ATOL and abs(a[4] - b[4]) <= SCORE_ATOL
            for a, b in zip(lp, lpref)
        )
        return "" if same else "link-prediction top-k differs"

    def star_query(self):
        from pyspark.sql import functions as F

        from hama_spark.operators import composite_join

        t = self.tables
        li = t["lineitem"].select(
            F.col("l_orderkey").alias("orderkey"),
            (F.col("l_price_cents") * (100 - F.col("l_discount_pct"))).alias("rev"),
        )
        od = t["orders"].select(
            F.col("o_orderkey").alias("orderkey"), F.col("o_custkey").alias("custkey")
        )
        cu = t["customer"].select(
            F.col("c_custkey").alias("custkey"), F.col("c_nationkey").alias("nationkey")
        )
        na = t["nation"].select(F.col("n_nationkey").alias("nationkey"), "n_name")
        j = composite_join([li, od], "orderkey")
        j = composite_join([j, cu], "custkey")
        j = composite_join([j, na], "nationkey")
        return j.groupBy("n_name").agg(F.sum("rev").alias("revenue"))

    def run_query(self, tracer: Tracer):
        with tracer.span("operators.query"):
            df = self.star_query()
            rows = df.collect()
        if tracer.on:
            plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
            joins = sum(plan.count(op) for op in JOIN_OPS)
            with self.res.lock:
                self.res.bcast_share.append(plan.count("BroadcastHashJoin") / max(joins, 1))
        return sorted((r.n_name, int(r.revenue)) for r in rows)

    # ---- timed loops --------------------------------------------------
    def _job_loop(self, keep_going) -> None:
        i = 0
        while keep_going(i):
            # traced runs alternate untraced and traced jobs, so one run
            # gives both the per-layer counters and the tracing overhead
            traced = self.tracer.on and i % 2 == 1
            tracer = self.tracer if traced else self.untraced
            t = time.perf_counter()
            try:
                with tracer.trace(f"job{i}", "job"):
                    out = self.run_job(self.edges, tracer)
                dt = time.perf_counter() - t
                problem = self.check_job(out)
            except Exception:  # one failed operation must not end the run
                dt, problem = time.perf_counter() - t, traceback.format_exc()
            self.res.job_s.append((dt, traced))
            self.res.record(not problem, f"job{i}", problem)
            i += 1

    def _query_loop(self, keep_going) -> None:
        i = 0
        t0 = time.perf_counter()
        while keep_going(i):
            drift = self.tracer.on and any(
                self.spark.conf.get(k, None) != v for k, v in self.session_confs.items()
            )
            t = time.perf_counter()
            try:
                with self.tracer.trace(f"query{i}", "query"):
                    rows = self.run_query(self.tracer)
                dt = time.perf_counter() - t
                problem = "" if rows == self.star_ref else "revenue differs from DuckDB"
            except Exception:  # one failed operation must not end the run
                dt, problem = time.perf_counter() - t, traceback.format_exc()
            self.res.query_s.append(dt)
            if self.tracer.on:
                self.res.drift.append(drift)
            self.res.record(not problem, f"query{i}", problem)
            i += 1
        self.res.query_window_s = time.perf_counter() - t0

    def measure(self, seconds: float) -> None:
        """The timed phase: at least ``seconds`` long, with at least
        MIN_QUERIES queries. sssp_frontier runs at least one job (two
        when tracing: one traced, one not), then the queries; in
        mixed_session A runs at least MIN_A_JOBS jobs and starts new ones
        until B has its queries, and B runs until A stops."""
        start = time.perf_counter()
        if self.name != "mixed_session":
            min_jobs = 2 if self.tracer.on else 1
            job_until = start + SINGLE_JOB_SHARE * seconds
            self._job_loop(lambda i: i < min_jobs or time.perf_counter() < job_until)
            self._query_loop(lambda i: i < MIN_QUERIES or time.perf_counter() < start + seconds)
            return
        a_done = threading.Event()

        def client_a() -> None:
            try:
                self._job_loop(
                    lambda i: i < MIN_A_JOBS
                    or time.perf_counter() < start + seconds
                    or len(self.res.query_s) < MIN_QUERIES
                )
            finally:
                a_done.set()

        a = threading.Thread(target=client_a, name="client-A")
        a.start()
        try:
            self._query_loop(lambda i: not a_done.is_set())
        finally:
            a.join()
