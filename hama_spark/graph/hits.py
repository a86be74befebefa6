"""HITS hubs-and-authorities (Kleinberg 1999) — beyond-reference graph
analytics rounding out the link-analysis pair with PageRank: authority
= pointed at by good hubs, hub = points at good authorities. Classic
use in a data pipeline: scoring crawl frontiers and seed lists, where
authorities rank content pages and hubs rank link pages.

Synchronous power iteration with a FIXED iteration count so the
schedule replays exactly in unrolled SQL (the oracle discipline every
iterative operator here follows — compare ``_pagerank_sql``).
Normalization commutes with the linear half-steps (scaling hub scores
by c scales the derived authority sums by c, and normalize(c·x) =
normalize(x)), so the loop runs UNNORMALIZED and a single L2
normalization at the end produces exactly the textbook per-half-step-
normalized fixed schedule — 1 materializing job for the whole
iteration chain instead of one per half-step. Unnormalized sums grow
like (λ_max)^iterations; doubles carry that comfortably for any sane
iteration count (10 half-steps on a degree-10⁴ graph is still ~1e40 of
1e308) and the final division restores O(1) values at full relative
precision.

Scale shape per iteration: two keyed joins edges⋈scores and two
partial-aggregated groupBys. The edge relation is cached TWICE —
hash-partitioned + sorted on src for the authority half-step and on
dst for the hub half-step — so every join reuses the cached layout
exchange-free and shuffles only the (id, double) score relation (the
bucketed-join shape, without writing a table; at cluster scale the
same two layouts would be bucketed tables). Scores stay SPARSE through
the loop (vertices with zero score carry no rows — zeros contribute
nothing to contributions or to norms, so values are unchanged); the
dense zero-filled view is produced once at the end. Lazy
localCheckpoints bound the plan; the two final norms are collected as
O(1) driver scalars (the pregel.py aggregator discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hits(
    edges: DataFrame,
    iterations: int = 5,
) -> DataFrame:
    """edges(src, dst) directed -> (id, hub, authority), both rounded
    to 6 dp for cross-engine hashing. Vertices with no in-edges hold
    authority 0 (respectively hubs without out-edges); scores
    L2-normalize over ALL vertices, matching the textbook formulation
    and the SQL replay.

    The loop runs under pregel's size-gated loop-plan guard
    (:class:`hama_spark.plans.pregel._LoopPlanGuard`): each half-step's
    edges⋈scores join otherwise broadcasts the |V|-row score relation —
    one driver-scheduled BroadcastExchange job per half-step, plus an
    AQE query-stage round-trip per exchange; ten half-steps of those
    dominate wall-clock while executor task time stays small. The guard
    arms when the EDGE count (the relation driving per-iteration volume
    — HITS is dense, every vertex scores every round) reaches its
    threshold, planning each half-step as shuffle joins against the two
    cached edge layouts. Interleaved A/B on the sf0.1 supplier-part
    graph (~600k edges): base [6.8, 7.2]s vs shuffle-plan [3.2, 4.5]s,
    identical output hashes.
    """
    from hama_spark.plans.pregel import _LoopPlanGuard

    guard = _LoopPlanGuard(edges.sparkSession)
    try:
        return _hits_loop(edges, iterations, guard)
    finally:
        guard.restore()


def _hits_loop(edges: DataFrame, iterations: int, guard) -> DataFrame:
    # one canonical cached layout per join key; e_dst and verts are
    # derived FROM the e_src cache so distinct runs once
    e_src = (
        edges.select("src", "dst")
        .distinct()
        .repartition("src")
        .sortWithinPartitions("src")
        .persist()
    )
    # materializes the cache and sizes the loop plan in one job (HITS
    # is dense: per-iteration volume scales with |E|, so the guard arms
    # on the edge count, not |V|)
    guard.arm(e_src.count())
    e_dst = e_src.repartition("dst").sortWithinPartitions("dst").persist()
    verts = (
        e_src.select(F.col("src").alias("id"))
        .union(e_src.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    h = verts.select("id", F.lit(1.0).alias("hub"))
    a = None
    for _ in range(iterations):
        # authority(v) = sum of hub over in-neighbors (unnormalized)
        a = (
            e_src.join(h.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("authority"))
            .localCheckpoint(eager=False)
        )
        # hub(u) = sum of authority over out-neighbors (unnormalized)
        h = (
            e_dst.join(a.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("authority").alias("hub"))
            .localCheckpoint(eager=False)
        )

    if a is None:  # iterations=0: the all-ones state (normalized below)
        a = verts.select("id", F.lit(1.0).alias("authority"))

    def _normalized(scores: DataFrame, col: str) -> DataFrame:
        # O(1) aggregate collected as a plan LITERAL, never a
        # crossJoin(broadcast(agg)) that would embed the loop plan twice
        n = scores.agg(
            F.sqrt(F.sum(F.col(col) * F.col(col))).alias("_n")
        ).collect()[0]["_n"]
        if not n or n <= 0:
            return scores.select("id", F.lit(0.0).alias(col))
        return scores.select("id", (F.col(col) / F.lit(float(n))).alias(col))

    h, a = _normalized(h, "hub"), _normalized(a, "authority")
    out = (
        verts.join(h, "id", "left")
        .join(a, "id", "left")
        .select(
            "id",
            F.round(F.coalesce("hub", F.lit(0.0)), 6).alias("hub"),
            F.round(F.coalesce("authority", F.lit(0.0)), 6).alias("authority"),
        )
        .localCheckpoint(eager=True)
    )
    e_src.unpersist()
    e_dst.unpersist()
    return out
