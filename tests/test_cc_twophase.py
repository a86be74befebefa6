"""Two-phase (large-star/small-star) connected components: must be
label-identical to min-label propagation (mindist_search on the
symmetrized edge set) on every graph shape, while converging in
O(log n) rounds instead of O(diameter)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from hama_spark.graph import connected_components_twophase, mindist_search


def _df(spark, pairs):
    return spark.createDataFrame(
        [(f"{a:05d}", f"{b:05d}") for a, b in pairs], "src string, dst string"
    )


def _labels(df):
    return {r["id"]: r["component"] for r in df.collect()}


def _assert_matches_mindist(spark, pairs, max_iter=100):
    edges = _df(spark, pairs)
    fast = _labels(connected_components_twophase(edges))
    slow = _labels(mindist_search(edges, undirected=True, max_iter=max_iter,
                                  halt_check_interval=8))
    assert fast == slow


def test_long_path_graph(spark):
    # diameter 300: min-label needs >300 supersteps to even converge
    # (hence max_iter=350); star contraction does it in a handful
    _assert_matches_mindist(spark, [(i, i + 1) for i in range(300)], max_iter=350)


def test_disjoint_cliques_and_bridge(spark):
    pairs = []
    for base in (0, 100, 200):
        pairs += [(base + i, base + j) for i in range(5) for j in range(i + 1, 5)]
    pairs.append((4, 100))  # bridge two of the cliques
    _assert_matches_mindist(spark, pairs)


def test_random_graph(spark):
    rng = random.Random(7)
    pairs = [(rng.randrange(400), rng.randrange(400)) for _ in range(350)]
    _assert_matches_mindist(spark, pairs)


def test_self_loops_and_duplicates(spark):
    _assert_matches_mindist(
        spark, [(1, 1), (2, 3), (3, 2), (2, 3), (5, 5), (5, 6)]
    )


def test_star_already(spark):
    _assert_matches_mindist(spark, [(0, i) for i in range(1, 50)])


def test_converges_in_logarithmic_rounds(spark, monkeypatch):
    """A 300-edge path must converge well within 12 alternating rounds
    (log-ish), nowhere near the 300 min-label would need."""
    import hama_spark.graph.cc_twophase as mod

    calls = {"n": 0}
    real = mod._large_star

    def counting(e):
        calls["n"] += 1
        return real(e)

    monkeypatch.setattr(mod, "_large_star", counting)
    edges = _df(spark, [(i, i + 1) for i in range(300)])
    out = connected_components_twophase(edges)
    labels = set(_labels(out).values())
    assert labels == {"00000"}
    assert calls["n"] <= 12, calls["n"]


def test_lazy_edge_input_is_read_once(spark):
    """A lazy edge plan is evaluated once per call, not once for the
    vertex set and again for the edge relation: an identity Python UDF
    on the input counts its evaluations."""
    from pyspark.sql.types import StringType

    seen = spark.sparkContext.accumulator(0)

    def ident(x):
        seen.add(1)
        return x

    pairs = [(i, i + 1) for i in range(20)] + [(30, 30)]
    edges = _df(spark, pairs).select(
        F.udf(ident, StringType())("src").alias("src"), "dst"
    )
    labels = _labels(connected_components_twophase(edges))
    assert seen.value == len(pairs), seen.value
    # the self-loop-only vertex is kept as its own component
    assert labels["00030"] == "00030"
    assert set(labels.values()) == {"00000", "00030"}
