"""K-Core decomposition (A6) — coreness per vertex.

Reference: ml/src/main/java/org/apache/hama/ml/kcore/KCoreVertex.java:36-228
(Montresor et al. distributed k-core): core starts at degree; each
superstep a vertex recomputes its estimate as the largest ``i <= core``
such that at least ``i`` neighbors have estimate ``>= i`` (the h-index
of the neighbor-estimate multiset, floored at 1 — KCoreVertex
.computeEstimate:138-173), sends its new core to neighbors when it
drops, and halts otherwise.

The reference updates asynchronously per message; the synchronous
DataFrame round (all vertices recompute from all neighbor values each
iteration) converges to the same fixpoint — the true coreness — and is
reproducible in ANSI SQL (window-function h-index), which is what makes
this oracle-checkable.

Scale: each iteration is one shuffle (messages grouped by dst) plus a
window over (vertex, neighbor-core) rows, and the loop exits as soon as
a round changes nothing — in FIXED-schedule mode too, because a
synchronous round whose inputs did not change is the identity, so the
remaining scheduled rounds are provably no-ops and the truncated run is
bit-identical to the full one. (A frontier-pruned variant — recompute h
only for vertices adjacent to the changed set — was measured here and
REVERTED: the two extra joins per round cost ~1.8× on graphs whose
cores keep moving every round, the common case at 10×/100× scale, while
everything it saved on converged tails the early exit now saves
driver-side for free.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# broadcast-cores round-plan cap: the exchange-free round below
# broadcasts the (id, core) relation — |V| rows x ~12 bytes — every
# round. Fine into the tens of millions of vertices (a 16M-vertex
# broadcast is ~200 MB, well under Spark's 8 GB/512M-row cap); above
# the cap kcore falls back to the shuffle round, which never
# broadcasts vertex state.
_BCAST_MAX_VERTICES = 16_000_000


def kcore(
    edges: DataFrame,
    max_iter: int = 20,
    fixed_iters: int | None = None,
    checkpoint_interval: int = 4,
) -> DataFrame:
    """edges(src, dst) undirected input (symmetrized internally) ->
    (id, core int).

    ``fixed_iters`` caps the schedule at exactly that many synchronous
    rounds (the oracle-replay contract); otherwise ``max_iter`` caps it.
    Both modes stop early when a round changes no core — a no-op round
    proves the fixpoint, so the result equals the full schedule's.

    Round plan (r10): the edge cache is hash-partitioned on ``dst`` —
    the key every DOWNSTREAM per-round operator needs — and the cores
    relation is broadcast into the neighbor join. A broadcast hash join
    preserves the streamed side's partitioning, so the per-round
    count/window/h-index/agg chain runs with ZERO exchanges: the only
    per-round data movement is the |V|-row cores broadcast (capped by
    ``_BCAST_MAX_VERTICES``, 16M vertices — above it
    the round falls back to the previous plan: edge cache partitioned
    on ``src`` feeding a shuffle join, with the count/window exchange
    per round). The previous plan shuffled the FULL |E|-row neighbor
    relation once per round (groupBy(dst) exchange) plus a second
    exchange into the window — at 6 rounds that is 12 edge-scale
    exchanges this plan removes outright (guide §2.4).
    """
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    sym0 = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    # one cheap pass decides the round plan: |V| = distinct src of the
    # symmetrized set (every vertex appears as a src after symmetrize)
    n_vertices = sym0.select("src").distinct().count()
    bcast = n_vertices <= _BCAST_MAX_VERTICES
    sym = sym0.repartition(n_part, "dst" if bcast else "src").cache()
    sym.count()

    # core_0 = degree (KCoreVertex.compute superstep 0: core = edges.size)
    cores = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("int").alias("core")
    )
    cores = cores.localCheckpoint(eager=False)

    iters = fixed_iters if fixed_iters is not None else max_iter
    for i in range(iters):
        # neighbor estimates: core of src delivered to dst. Broadcast
        # plan: sym is cached pre-partitioned on dst and the BHJ keeps
        # that partitioning, so everything downstream is exchange-free.
        # Shuffle plan (|V| above the broadcast cap): sym is cached
        # pre-partitioned on src so the join side never re-shuffles.
        rhs = F.broadcast(cores) if bcast else cores
        nbr = sym.join(rhs, sym["src"] == cores["id"]).select(
            F.col("dst").alias("id"), F.col("core").alias("nbr_core")
        )
        # h-index H = max over distinct core values c of min(c, N_c),
        # N_c = #neighbors with core >= c (equivalent to the sorted-rank
        # definition, but the window runs over distinct (id, core) pairs
        # instead of every neighbor edge — far fewer rows on skewed
        # degree distributions)
        cnts = nbr.groupBy("id", "nbr_core").agg(F.count(F.lit(1)).alias("n"))
        w = (
            Window.partitionBy("id")
            .orderBy(F.desc("nbr_core"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        h = (
            cnts.withColumn("cum", F.sum("n").over(w))
            .groupBy("id")
            .agg(F.max(F.least(F.col("nbr_core").cast("long"), F.col("cum"))).alias("h"))
        )
        new_core = F.least(F.col("core"), F.coalesce(F.col("h"), F.lit(1)))
        new_cores = (
            cores.join(h, "id", "left")
            .select(
                "id",
                new_core.cast("int").alias("core"),
                (F.col("core") != new_core).alias("_chg"),
            )
        )
        # the lazy checkpoint truncates the plan (attribute re-anchor +
        # bounded analysis cost); the existence check below is the one
        # action per round and materializes the chain
        new_cores = new_cores.localCheckpoint(eager=False)
        n_changed = new_cores.filter("_chg").limit(1).count()
        cores = new_cores.drop("_chg")
        if n_changed == 0:
            # fixpoint: every remaining scheduled round is the identity
            break

    if iters == 0:
        # degenerate schedule: the loop body never ran, so the lazy
        # degree checkpoint was never materialized — force it while sym
        # is still cached, or the caller's first action recomputes the
        # symmetrized-distinct edge set uncached (perf only)
        cores.count()
    sym.unpersist()
    return cores
