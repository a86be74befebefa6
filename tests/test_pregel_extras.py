"""Pregel dynamic mutation (G9), feature transformer (M7), RandBench.

Reference models: graph/GraphJobRunner.java:626-702 (addVertex/remove
routed via control messages, master count adjustment),
ml/util/FeatureTransformer.java:41, examples/RandBench.java:40-110.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hama_spark.ml import kmeans, scale_transformer
from hama_spark.plans import PregelContext, pregel, rand_bench


def test_pregel_mutation_add_remove(spark):
    verts = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "id string, value int"
    )
    seen_counts = []

    def compute(with_inbox, ctx):
        return with_inbox.select("id", "value")

    def mutate(vertices, ctx):
        if ctx.superstep == 0:
            additions = spark.createDataFrame([("d", 40)], "id string, value int")
            removals = spark.createDataFrame([("c",)], "id string")
            return additions, removals
        return None, None

    def send(vertices, edges, ctx):
        seen_counts.append(ctx.num_vertices)
        return None  # one superstep is enough

    out = pregel(
        verts,
        edges=None,
        compute=compute,
        send=send,
        combine=F.min,
        initial_message=None,
        mutate=mutate,
        max_iter=3,
    )
    rows = {r["id"]: r["value"] for r in out.collect()}
    assert rows == {"a": 1, "b": 2, "d": 40}
    assert seen_counts == [3]  # master-style count adjustment (3 after mutation)


def test_kmeans_feature_transformer_equals_prescaled(spark):
    pts = spark.createDataFrame(
        [([1.0, 0.0],), ([0.9, 0.1],), ([0.0, 1.0],), ([0.1, 0.9],)],
        "features array<double>",
    )
    scaled = pts.select(
        F.transform("features", lambda x: x * 2).alias("features")
    )
    init = [[2.0, 0.0], [0.0, 2.0]]
    a = kmeans(pts, init, max_iterations=5, feature_transformer=scale_transformer(2.0))
    b = kmeans(scaled, init, max_iterations=5)
    assert a.centers == b.centers
    assert a.iterations == b.iterations


def test_rand_bench_conservation(spark):
    df = rand_bench(spark, num_peers=8, msgs_per_superstep=1000, msg_size=10, supersteps=3)
    rows = df.collect()
    assert sum(r["n_received"] for r in rows) == 3000
    assert sum(r["bytes_received"] for r in rows) == 30000
    assert len(rows) == 8  # every peer received something at this volume


def test_halt_check_interval_matches_per_step(spark):
    """Batched halt checks (halt_check_interval > 1) must be invisible:
    for frontier-style algorithms the k-1 possible post-fixpoint
    supersteps are no-ops, so sssp/mindist results are identical to the
    every-superstep check. A path graph maximizes supersteps per vertex
    (depth = n-1), the worst case for batching."""
    from hama_spark.graph import mindist_search, sssp

    path = spark.createDataFrame(
        [(str(i), str(i + 1), 2) for i in range(12)],
        "src string, dst string, weight int",
    )
    base = {r["id"]: r["dist"] for r in sssp(path, "0", max_iter=30).collect()}
    batched = {
        r["id"]: r["dist"]
        for r in sssp(path, "0", max_iter=30, halt_check_interval=7).collect()
    }
    assert base == batched and base["12"] == 24

    cc1 = {
        r["id"]: r["component"]
        for r in mindist_search(path, undirected=True, max_iter=30).collect()
    }
    cc7 = {
        r["id"]: r["component"]
        for r in mindist_search(
            path, undirected=True, max_iter=30, halt_check_interval=7
        ).collect()
    }
    assert cc1 == cc7 and set(cc1.values()) == {"0"}


def test_halt_check_interval_validation(spark):
    import pytest as _pytest

    from hama_spark.graph import sssp

    e = spark.createDataFrame([("a", "b", 1)], "src string, dst string, weight int")
    with _pytest.raises(ValueError, match="halt_check_interval"):
        sssp(e, "a", halt_check_interval=0)


def test_loop_plan_shuffle_vs_broadcast_identical(spark, monkeypatch):
    """The loop-plan guard only changes HOW per-superstep joins are
    planned (shuffle-pinned when armed, broadcast when not); sssp
    results must be identical, and the confs it scopes must be restored
    afterwards. ``MIN_VERTICES`` picks the plan: 0 arms the guard on
    this 6-vertex graph, a threshold above the graph size leaves it
    off."""
    from hama_spark.plans.pregel import MSG, _LoopPlanGuard, pregel

    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 2), ("a", "c", 9), ("c", "d", 1), ("x", "y", 4)],
        "src string, dst string, weight int",
    )
    before = {k: spark.conf.get(k) for k in _LoopPlanGuard.CONFS}
    seen_aqe = []

    def compute(with_inbox, ctx):
        # compute runs inside the guard's scope: record what it planned under
        seen_aqe.append(spark.conf.get("spark.sql.adaptive.enabled"))
        improved = F.col(MSG).isNotNull() & (F.col(MSG) < F.col("dist"))
        return with_inbox.select(
            "id",
            F.when(improved, F.col(MSG)).otherwise(F.col("dist")).alias("dist"),
            improved.alias("updated"),
        )

    def send(verts, edg, ctx):
        return (
            verts.filter("updated")
            .join(edg, verts["id"] == edg["src"])
            .select(edg["dst"].alias("id"), (F.col("dist") + F.col("weight")).alias(MSG))
        )

    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .select(
            "id",
            F.when(F.col("id") == "a", F.lit(0)).otherwise(F.lit(10**9)).alias("dist"),
            (F.col("id") == "a").alias("updated"),
        )
    )

    def initial_message(vs, ctx):
        return send(vs, edges, ctx)

    results = {}
    for plan, min_vertices in (("shuffle", 0), ("broadcast", 10**9)):
        monkeypatch.setattr(_LoopPlanGuard, "MIN_VERTICES", min_vertices)
        seen_aqe.clear()
        out = pregel(
            verts,
            edges,
            compute=compute,
            send=send,
            combine=F.min,
            initial_message=initial_message,
            max_iter=10,
        )
        results[plan] = sorted((r["id"], r["dist"]) for r in out.collect())
        armed = plan == "shuffle"
        assert seen_aqe and all((v == "false") == armed for v in seen_aqe), (plan, seen_aqe)
        after = {k: spark.conf.get(k) for k in before}
        assert after == before, f"loop confs leaked: {after} != {before}"
    assert results["shuffle"] == results["broadcast"]


def test_sssp_frontier_hops_identical(spark):
    """r10 lever: frontier_hops augments the edge set with <=h-hop
    min-weight paths — same fixpoint distances, fewer supersteps."""
    import pytest

    from hama_spark.graph import sssp

    edges = spark.createDataFrame(
        [
            ("a", "b", 3), ("b", "c", 2), ("c", "d", 4), ("d", "e", 1),
            ("a", "c", 9), ("b", "e", 20), ("e", "f", 2), ("q", "a", 5),
        ],
        "src string, dst string, weight int",
    )
    base = sorted((r["id"], r["dist"]) for r in sssp(edges, "a").collect())
    for hops in (2, 3):
        stats = {}
        got = sorted(
            (r["id"], r["dist"])
            for r in sssp(edges, "a", frontier_hops=hops, stats_out=stats).collect()
        )
        assert got == base
    with pytest.raises(ValueError, match="frontier_hops"):
        sssp(edges, "a", frontier_hops=0)
