"""Neighborhood-overlap link prediction — common neighbors, Jaccard
and Adamic-Adar (Liben-Nowell & Kleinberg 2003) for vertex pairs that
share at least one neighbor. Data-pipeline uses: entity-graph dedup
candidates (two records sharing many neighbors are merge candidates),
related-item suggestion on co-occurrence graphs, and crawl frontier
expansion.

Scale shape: pairs are enumerated as WEDGES through each shared
neighbor w — an equi-self-join of the edge list on w, so the cost is
Σ_w deg(w)², never |V|². ``max_neighbor_degree`` caps which vertices
may act as wedge centers: a hub with millions of neighbors would
otherwise contribute deg² wedges while telling you almost nothing
(its Adamic-Adar weight 1/ln(deg) ≈ 0) — dropping high-degree centers
is the standard scale practice and is replayed identically by the SQL
twin, so results stay deterministic. Degrees entering the Jaccard and
Adamic-Adar formulas are TRUE graph degrees (computed before the cap);
only wedge enumeration is capped.

One shuffle for degrees, one for the wedge self-join key, one for the
pair groupBy; the final per-pair relation is bounded by the wedge
count. Only the wedge legs are materialized (eager localCheckpoint,
read by both sides of the self-join); the result is returned as a plain
lazy plan under the caller's session confs — the operator changes no
session conf, so a query sharing the session keeps its own planning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def link_prediction(
    edges: DataFrame,
    max_neighbor_degree: int = 64,
    min_common: int = 2,
    symmetrize: bool = True,
    topk: int | None = None,
    prepared: bool = False,
) -> DataFrame:
    """edges(src, dst) -> (id_a, id_b, common_neighbors, jaccard,
    adamic_adar) for id_a < id_b pairs sharing >= ``min_common``
    neighbors of degree <= ``max_neighbor_degree``.

    ``jaccard`` = common / (deg_a + deg_b - common) and
    ``adamic_adar`` = Σ_w 1/ln(deg_w) over the shared (capped)
    neighbors, both rounded to 6 dp for cross-engine hashing. ``topk``
    keeps the globally best pairs by (adamic_adar desc, id_a, id_b) —
    deterministic because the ordering key is the rounded score.

    ``prepared=True``: edges are already symmetrized-as-desired,
    deduplicated, and materialized — used as-is (``symmetrize``
    ignored), sharing one graph build across centrality/link-analysis
    passes (see ``harmonic_centrality``).
    """
    from hama_spark.graph.prep import edge_relation

    e = edge_relation(edges, symmetrize, prepared)

    # two degree views — identical on an undirected (symmetrized) graph,
    # and the correct pair on a directed one: centers fan out along
    # OUT-edges (out-degree caps the wedge cost and discounts the AA
    # weight), while a pair's common neighbors are common PREDECESSORS,
    # so the Jaccard denominator needs the endpoints' IN-degrees (every
    # endpoint has >=1 in-edge by construction, so the joins below can
    # never drop a pair)
    deg_out = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    deg_in = e.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # wedge legs: (center w, endpoint, deg of w), hubs excluded as centers
    legs = (
        e.join(
            deg_out.filter(F.col("deg") <= max_neighbor_degree),
            e.src == F.col("id"),
        )
        .select(F.col("src").alias("w"), F.col("dst").alias("v"), "deg")
        .localCheckpoint(eager=True)
    )
    a, b = legs.alias("a"), legs.alias("b")
    pairs = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.v") < F.col("b.v")))
        .groupBy(
            F.col("a.v").alias("id_a"), F.col("b.v").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.round(F.sum(1.0 / F.log(F.col("a.deg"))), 6).alias("adamic_adar"),
        )
        .filter(F.col("common_neighbors") >= min_common)
    )
    out = (
        pairs.join(deg_in.select(F.col("id").alias("id_a"), F.col("deg").alias("_da")), "id_a")
        .join(deg_in.select(F.col("id").alias("id_b"), F.col("deg").alias("_db")), "id_b")
        .select(
            "id_a",
            "id_b",
            "common_neighbors",
            F.round(
                F.col("common_neighbors")
                / (F.col("_da") + F.col("_db") - F.col("common_neighbors")),
                6,
            ).alias("jaccard"),
            "adamic_adar",
        )
    )
    if topk is not None:
        out = out.orderBy(F.desc("adamic_adar"), "id_a", "id_b").limit(topk)
    return out
