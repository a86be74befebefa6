"""Link prediction (graph/linkpred.py): hand-computed scores on a toy
graph, hub centers excluded by the degree cap, true degrees in the
Jaccard denominator."""

from __future__ import annotations

import math

import pytest


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_adamic_adar_jaccard_exact(spark):
    from hama_spark.graph.linkpred import link_prediction

    # a and b share neighbors w1 (deg 2) and w2 (deg 3); c attaches to
    # w2 only. Undirected after symmetrize.
    e = _edges(spark, [("a", "w1"), ("b", "w1"), ("a", "w2"), ("b", "w2"), ("c", "w2")])
    got = {
        (r.id_a, r.id_b): (r.common_neighbors, r.jaccard, r.adamic_adar)
        for r in link_prediction(e, max_neighbor_degree=10, min_common=1).collect()
    }
    aa_ab = round(1 / math.log(2) + 1 / math.log(3), 6)
    # deg(a)=deg(b)=2, common=2 -> jaccard 2/(2+2-2)=1.0
    assert got[("a", "b")] == (2, 1.0, pytest.approx(aa_ab))
    # (a,c) and (b,c) share only w2: 1/(2+1-1)=0.5, aa=1/ln3
    assert got[("a", "c")] == (1, 0.5, pytest.approx(round(1 / math.log(3), 6)))
    assert got[("b", "c")] == (1, 0.5, pytest.approx(round(1 / math.log(3), 6)))
    # wedge centers w1/w2 pair with each other THROUGH a and b (deg 2
    # each), never through themselves
    assert ("w1", "w2") in got and got[("w1", "w2")][0] == 2


def test_degree_cap_excludes_hub_centers(spark):
    from hama_spark.graph.linkpred import link_prediction

    # hub h connects x1..x5 (deg 5 > cap 4); w connects x1, x2 (deg 2)
    e = _edges(
        spark,
        [("h", f"x{i}") for i in range(1, 6)] + [("w", "x1"), ("w", "x2")],
    )
    got = {
        (r.id_a, r.id_b)
        for r in link_prediction(e, max_neighbor_degree=4, min_common=1).collect()
    }
    # pairs through h are gone; only w-centered (x1, x2) plus pairs
    # centered on the x_i (deg <= 2): (h, w) via x1 and x2
    assert ("x1", "x2") in got
    assert ("h", "w") in got
    assert not any(p == ("x3", "x4") or p == ("x4", "x5") for p in got)


def test_min_common_and_topk(spark):
    from hama_spark.graph.linkpred import link_prediction

    e = _edges(spark, [("a", "w1"), ("b", "w1"), ("a", "w2"), ("b", "w2"), ("c", "w2")])
    only_strong = link_prediction(e, max_neighbor_degree=10, min_common=2)
    assert {(r.id_a, r.id_b) for r in only_strong.collect()} == {("a", "b"), ("w1", "w2")}
    # top pair by adamic_adar: (w1, w2) scores 2/ln(2) ≈ 2.885 through
    # the two degree-2 centers a and b, beating (a, b)'s 1/ln2 + 1/ln3
    top1 = link_prediction(e, max_neighbor_degree=10, min_common=1, topk=1).collect()
    assert len(top1) == 1 and (top1[0].id_a, top1[0].id_b) == ("w1", "w2")


def test_directed_graph_uses_in_degrees_and_keeps_sink_endpoints(spark):
    """symmetrize=False: endpoints with NO out-edges must still pair
    (their degrees come from in-edges), and Jaccard uses in-degrees
    against the common-predecessor intersection (code-review r4 #1)."""
    from hama_spark.graph.linkpred import link_prediction

    # w1, w2 both point at sinks a and b; nothing leaves a or b
    e = _edges(spark, [("w1", "a"), ("w1", "b"), ("w2", "a"), ("w2", "b")])
    got = {
        (r.id_a, r.id_b): (r.common_neighbors, r.jaccard)
        for r in link_prediction(
            e, max_neighbor_degree=10, min_common=1, symmetrize=False
        ).collect()
    }
    # in-deg(a) = in-deg(b) = 2, common predecessors = 2 -> jaccard 1.0
    assert got == {("a", "b"): (2, 1.0)}


def test_linkpred_conf_invariant(spark):
    """Pair scores are identical under {AQE on, off} x {auto-broadcast
    default, off} — the planner may pick broadcast or shuffle joins
    for the wedge pipeline, never a different answer."""
    from hama_spark.graph.linkpred import link_prediction
    from tests.conftest import conf_matrix_outputs

    e = _edges(
        spark,
        [("a", "w1"), ("b", "w1"), ("a", "w2"), ("b", "w2"), ("c", "w2"), ("c", "w1")],
    )
    outs = conf_matrix_outputs(
        spark,
        lambda: sorted(tuple(r) for r in link_prediction(e, min_common=1).collect()),
    )
    first = next(iter(outs.values()))
    assert len(first) > 0 and all(o == first for o in outs.values())
