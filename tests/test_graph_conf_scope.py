"""Straight-line graph operators leave the session's confs alone: a
query running beside them on the same SparkSession keeps AQE and its
broadcast joins. Only the iterative loops (pregel, HITS) scope the
loop-plan confs."""

from __future__ import annotations


def test_harmonic_and_linkpred_never_touch_loop_plan_confs(spark, monkeypatch):
    from pyspark.sql.conf import RuntimeConfig

    from hama_spark.graph import harmonic_centrality
    from hama_spark.graph.linkpred import link_prediction
    from hama_spark.plans.pregel import _LoopPlanGuard

    # a threshold of 0 would arm any guard wired back in on this tiny graph
    monkeypatch.setattr(_LoopPlanGuard, "MIN_VERTICES", 0)
    touched = []
    orig_set, orig_unset = RuntimeConfig.set, RuntimeConfig.unset

    def spy_set(self, key, value):
        touched.append(key)
        return orig_set(self, key, value)

    def spy_unset(self, key):
        touched.append(key)
        return orig_unset(self, key)

    monkeypatch.setattr(RuntimeConfig, "set", spy_set)
    monkeypatch.setattr(RuntimeConfig, "unset", spy_unset)

    e = spark.createDataFrame(
        [("a", "w1"), ("b", "w1"), ("a", "w2"), ("b", "w2"), ("c", "w2")],
        "src string, dst string",
    )
    assert harmonic_centrality(e, landmarks=3, radius=2).collect()
    assert link_prediction(e, min_common=1).collect()
    assert not set(touched) & set(_LoopPlanGuard.CONFS), touched


def test_pregel_and_hits_restore_loop_plan_confs_even_on_error(spark, monkeypatch):
    """The guard's scope ends with the call, also when the loop raises:
    a failed pregel must not leave the session without AQE and
    broadcast joins."""
    import pytest
    from pyspark.sql import functions as F

    from hama_spark.graph.hits import hits
    from hama_spark.plans.pregel import MSG, _LoopPlanGuard, pregel

    monkeypatch.setattr(_LoopPlanGuard, "MIN_VERTICES", 0)
    before = {k: spark.conf.get(k, None) for k in _LoopPlanGuard.CONFS}
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    verts = spark.createDataFrame([("a", 0), ("b", 1), ("c", 2)], "id string, v int")
    armed_at_raise = []

    def compute(with_inbox, ctx):
        if ctx.superstep == 1:
            armed_at_raise.append(spark.conf.get("spark.sql.adaptive.enabled"))
            raise RuntimeError("compute failed at superstep 1")
        return with_inbox.select("id", "v")

    def send(vs, edg, ctx):
        return vs.join(edg, vs["id"] == edg["src"]).select(
            edg["dst"].alias("id"), F.col("v").alias(MSG)
        )

    with pytest.raises(RuntimeError, match="superstep 1"):
        pregel(verts, e, compute=compute, send=send, combine=F.min, max_iter=5)
    assert armed_at_raise == ["false"], armed_at_raise
    assert {k: spark.conf.get(k, None) for k in _LoopPlanGuard.CONFS} == before

    assert hits(e, iterations=2).collect()
    assert {k: spark.conf.get(k, None) for k in _LoopPlanGuard.CONFS} == before
