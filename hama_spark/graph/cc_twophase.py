"""Connected components in O(log n) rounds — the two-phase
large-star/small-star algorithm (Kiveris, Lattanzi, Mirrokni, Rastogi,
Vassilvitskii, "Connected Components in MapReduce and Beyond", SoCC'14).

The reference's MindistSearch (examples/MindistSearch.java:47-119, the
``mindist_search``/``connected_components`` operator here) propagates
min labels one hop per superstep, so a fixpoint costs O(diameter)
shuffle rounds — fine for social-graph diameters (~20), painful for the
long-chain components near-dup clustering produces (a chain of
pairwise-similar documents IS a path graph). Star contraction converges
in O(log n) alternating rounds regardless of diameter:

- **large-star** (per node u over the full adjacency): connect every
  STRICTLY LARGER neighbor to m(u) = min(Γ(u) ∪ {u}).
- **small-star** (per node u over edges directed to the larger
  endpoint): connect u and all its smaller neighbors to their minimum.

Both steps preserve connectivity and monotonically pull nodes toward
their component minimum; at the fixpoint the edge set is a star forest
(child → component-min root). Each step is one min-aggregate + one
join — partial-aggregated, no collect, no driver state; the iteration
count is the only driver traffic.

Same output contract as ``mindist_search``: (id, component) with
component = min reachable id under the column's ordering (string ids
compare lexicographically, exactly like the reference's Text labels).
Edges are treated as UNDIRECTED (star contraction has no directed
form); use ``mindist_search`` when directed label-flow semantics
matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) edge set -> large-star edges (v, m(u)) for v ∈ Γ(u), v > u."""
    adj = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = (
        adj.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select("u", F.least("_mv", F.col("u")).alias("m"))
    )
    return (
        adj.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Direct every edge to its larger endpoint, then connect each
    node's smaller neighborhood (and itself) to that neighborhood's
    minimum."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    m = directed.groupBy("u").agg(F.min("v").alias("m"))
    with_m = directed.join(m, "u")
    rewired = with_m.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    to_root = m.select(F.col("u"), F.col("m").alias("v"))
    return rewired.union(to_root).distinct()


def _edge_checksum(edges: DataFrame) -> tuple[int, int]:
    """Order-independent edge-set fingerprint: (count, sum of per-edge
    hashes). One tiny aggregate row to the driver per iteration."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal accumulator: a long sum of 64-bit hashes overflows
        # under ANSI mode after a handful of rows
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components_twophase(
    edges: DataFrame,
    max_iter: int = 50,
    num_partitions: int | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """edges(src, dst) undirected -> (id, component), component = min id
    in the component. Converges in O(log n) large-star/small-star
    rounds (vs O(diameter) for min-label propagation)."""
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    # read the input ONCE: a lazy edge plan (entity_clusters passes its
    # fuzzy-match candidates) would otherwise run again for each relation
    # derived from it below
    pairs = edges.select("src", "dst").localCheckpoint(eager=True)
    # vertices come from ALL pairs, so self-loop-only vertices survive
    # the u != v filter on the edge relation
    vertices = (
        pairs.select(F.col("src").alias("id"))
        .union(pairs.select(F.col("dst").alias("id")))
        .distinct()
    )
    e = (
        pairs.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .repartition(n_part, "u")
        .localCheckpoint(eager=True)
    )
    prev = _edge_checksum(e)
    rounds_run = 0
    for _ in range(max_iter):
        # eager checkpoint per round: cuts the 4-shuffle round's lineage
        # AND materializes it for the checksum (one job does both)
        rounds_run += 1
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        cur = _edge_checksum(e)
        if cur == prev:
            break
        prev = cur

    if stats_out is not None:
        # alternating large/small-star rounds executed (incl. the final
        # checksum-equal round) — for tier-ratio normalization
        stats_out["rounds"] = rounds_run
    # fixpoint edge set is a star forest: (child, root) with root < child
    parents = e.select(
        F.greatest("u", "v").alias("id"), F.least("u", "v").alias("component")
    )
    # a node can still carry several parent edges mid-convergence only if
    # max_iter cut the loop early; min keeps the answer conservative
    parents = parents.groupBy("id").agg(F.min("component").alias("component"))
    return vertices.join(parents, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )
