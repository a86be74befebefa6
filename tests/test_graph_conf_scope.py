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
