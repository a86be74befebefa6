"""Landmark harmonic centrality (graph/centrality.py): known-topology
values plus the unrolled-SQL replay on the fixture-derived graph."""

from __future__ import annotations


def test_harmonic_path_graph_exact(spark):
    """Path a-b-c-d, landmarks = all 4 vertices, radius 3 -> exact
    textbook harmonic centrality: ends 1 + 1/2 + 1/3, middles
    1 + 1 + 1/2."""
    from hama_spark.graph import harmonic_centrality

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    got = {
        r.id: (r.harmonic, r.n_lm)
        for r in harmonic_centrality(e, landmarks=4, radius=3).collect()
    }
    end = round(1 + 1 / 2 + 1 / 3, 6)
    mid = round(1 + 1 + 1 / 2, 6)
    assert got == {
        "a": (end, 4), "b": (mid, 4), "c": (mid, 4), "d": (end, 4)
    }


def test_harmonic_radius_and_coverage_bounds(spark):
    """Radius 1 on the path graph: only adjacent landmark balls reach a
    vertex; n_lm reports the coverage the radius actually bought."""
    from hama_spark.graph import harmonic_centrality

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    got = {
        r.id: (r.harmonic, r.n_lm)
        for r in harmonic_centrality(e, landmarks=4, radius=1).collect()
    }
    # ends: self ball + one neighbor; middles: self + two neighbors
    assert got == {"a": (1.0, 2), "b": (2.0, 3), "c": (2.0, 3), "d": (1.0, 2)}


def test_harmonic_disconnected_component_scores_zero(spark):
    """A component containing no landmark and out of reach scores
    (0.0, 0) instead of erroring — the disconnected-graph robustness
    that motivates harmonic over classic closeness."""
    from hama_spark.graph import harmonic_centrality

    # landmarks=1 picks exactly one vertex by md5 order; radius 0-hop
    # from the other component leaves it uncovered
    e = spark.createDataFrame(
        [("a", "b"), ("x", "y")], "src string, dst string"
    )
    rows = harmonic_centrality(e, landmarks=1, radius=2).collect()
    uncovered = [r for r in rows if r.n_lm == 0]
    covered = [r for r in rows if r.n_lm > 0]
    assert len(uncovered) == 2 and all(r.harmonic == 0.0 for r in uncovered)
    assert len(covered) == 2


def test_harmonic_matches_unrolled_sql_on_fixture_graph(spark, tables, duck):
    from tests.conftest import assert_df_equals_oracle

    from __spark_entry__ import SP_EDGES_SQL, _harmonic_sql
    from hama_spark.graph import harmonic_centrality
    from pyspark.sql import functions as F

    edges = tables["lineitem"].select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    )
    assert_df_equals_oracle(
        harmonic_centrality(edges, landmarks=8, radius=4, seed=42),
        duck,
        _harmonic_sql(SP_EDGES_SQL, 8, 4, 42),
    )


def test_harmonic_batched_landmarks_identical(spark):
    """r7 verdict item 2: landmark balls are independent, so chunking
    the L landmarks into batches (including an uneven last batch) must
    produce the IDENTICAL (harmonic, n_lm) output."""
    import random

    from hama_spark.graph import harmonic_centrality

    rng = random.Random(13)
    edges = [(f"v{rng.randrange(40)}", f"v{rng.randrange(40)}") for _ in range(120)]
    e = spark.createDataFrame(
        [p for p in edges if p[0] != p[1]], "src string, dst string"
    )
    base = {
        r.id: (r.harmonic, r.n_lm)
        for r in harmonic_centrality(e, landmarks=7, radius=3).collect()
    }
    for b in (1, 3, 7, 100):
        got = {
            r.id: (r.harmonic, r.n_lm)
            for r in harmonic_centrality(
                e, landmarks=7, radius=3, batch_landmarks=b
            ).collect()
        }
        assert got == base, f"batch_landmarks={b}"


def test_harmonic_batch_landmarks_rejects_nonpositive(spark):
    import pytest

    from hama_spark.graph import harmonic_centrality

    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="positive"):
        harmonic_centrality(e, landmarks=2, batch_landmarks=-1)


def test_harmonic_conf_invariant(spark):
    """Scores are identical under {AQE on, off} x {auto-broadcast
    default, off} — the planner may pick broadcast or shuffle joins
    for the BFS rounds, never a different answer."""
    from hama_spark.graph import harmonic_centrality
    from tests.conftest import conf_matrix_outputs

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("b", "e"), ("x", "y")],
        "src string, dst string",
    )
    outs = conf_matrix_outputs(
        spark,
        lambda: sorted(
            (r.id, r.harmonic, r.n_lm)
            for r in harmonic_centrality(e, landmarks=4, radius=3).collect()
        ),
    )
    first = next(iter(outs.values()))
    assert len(first) > 0 and all(o == first for o in outs.values())
