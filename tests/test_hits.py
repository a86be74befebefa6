"""HITS (graph/hits.py): unrolled-SQL replay on the fixture-derived
graph plus structural sanity on a known topology."""

from __future__ import annotations


def _hits_sql(edges_sql: str, iters: int) -> str:
    # single source of truth: the driver oracle's replay builder
    from __spark_entry__ import _hits_sql as builder

    return builder(edges_sql, iters)


def test_hits_matches_unrolled_sql_on_fixture_graph(spark, tables, duck):
    from tests.conftest import assert_df_equals_oracle

    from hama_spark.graph.hits import hits
    from pyspark.sql import functions as F

    edges = tables["lineitem"].select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    )
    sql = _hits_sql(
        "SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM lineitem",
        5,
    )
    assert_df_equals_oracle(hits(edges, iterations=5), duck, sql, tol=1e-5)


def test_hits_star_topology(spark):
    """Star u -> {v1, v2, v3}: u is the only hub, the leaves split
    authority evenly; scores L2-normalize to 1."""
    from hama_spark.graph.hits import hits

    e = spark.createDataFrame(
        [("u", "v1"), ("u", "v2"), ("u", "v3")], "src string, dst string"
    )
    got = {r.id: (r.hub, r.authority) for r in hits(e, iterations=3).collect()}
    assert got["u"][0] == 1.0 and got["u"][1] == 0.0
    import math
    for leaf in ("v1", "v2", "v3"):
        assert abs(got[leaf][1] - 1 / math.sqrt(3)) < 1e-6
        assert got[leaf][0] == 0.0


def test_hits_iterations_zero_matches_oracle(spark, tables, duck):
    """iterations=0 replays too: the normalized all-ones initial state
    (code-review r4 #5 — the rewritten SQL must define a0)."""
    from tests.conftest import assert_df_equals_oracle

    from hama_spark.graph.hits import hits
    from pyspark.sql import functions as F

    edges = tables["lineitem"].select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    )
    sql = _hits_sql(
        "SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM lineitem",
        0,
    )
    assert_df_equals_oracle(hits(edges, iterations=0), duck, sql, tol=1e-6)


def test_hits_loop_plan_identical(spark, monkeypatch):
    """The loop-plan guard only changes half-step join planning; hub/
    authority outputs must be identical armed and unarmed, confs
    restored. ``MIN_VERTICES`` picks the plan: 0 arms the guard on this
    5-edge graph, a threshold above the graph size leaves it off."""
    from hama_spark.graph.hits import hits
    from hama_spark.plans.pregel import _LoopPlanGuard

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")],
        "src string, dst string",
    )
    before = {k: spark.conf.get(k, None) for k in _LoopPlanGuard.CONFS}
    armed = []
    real_restore = _LoopPlanGuard.restore

    def spy_restore(self):
        armed.append(bool(self.saved))
        real_restore(self)

    monkeypatch.setattr(_LoopPlanGuard, "restore", spy_restore)
    outs = {}
    for plan, min_vertices in (("shuffle", 0), ("broadcast", 10**9)):
        monkeypatch.setattr(_LoopPlanGuard, "MIN_VERTICES", min_vertices)
        armed.clear()
        outs[plan] = sorted(
            (r["id"], r["hub"], r["authority"])
            for r in hits(edges, iterations=3).collect()
        )
        assert armed == [plan == "shuffle"], (plan, armed)
        assert {k: spark.conf.get(k, None) for k in _LoopPlanGuard.CONFS} == before
    assert outs["shuffle"] == outs["broadcast"]
