"""PageRank (A1) — damped, ε-convergence on mean absolute delta.

Reference: examples/PageRank.java:43-88,151-163 with
graph/AverageAggregator.java (mean |new-old| over computing vertices)
and the self-referencing-edge option hama.graph.self.ref
(graph/GraphJobRunner.java:574-580) which PageRank enables — every
vertex gets a v->v edge at load, so out-degree includes self and no
vertex dangles.

Exact schedule parity (SURVEY §7 risk register):
- superstep 0: rank = 1/N (setup), no update, send rank/outdeg.
- superstep s>=1: rank = (1-d)/N + d * Σ inbox; aggregate |Δ|.
- halt check uses the aggregator finalized at superstep s-1 and only
  fires when s > 2 (PageRank.java:79-81); on halt the s-th update has
  already been applied.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hama_spark.plans.pregel import MSG, PregelContext, pregel


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    epsilon: float | None = 0.001,
    max_iter: int = 30,
    self_ref: bool = True,
    checkpoint_interval: int = 4,
    num_partitions: int | None = None,
    personalize: str | None = None,
    recover_dir: str | None = None,
) -> DataFrame:
    """edges(src, dst) -> (id, rank). ``epsilon=None`` disables the
    convergence check and runs exactly ``max_iter`` supersteps (useful
    for oracle comparison). ``num_partitions`` sizes the pinned loop
    partitioning to the graph (default: session shuffle partitions).

    ``personalize``: a vertex id switches to personalized PageRank —
    the (1-d) teleport mass lands entirely on that vertex instead of
    uniformly (rank_0 = 1 at the source, 0 elsewhere), so rank becomes
    proximity to the source (random-walk-with-restart). Same loop,
    same cost — only the teleport expression changes."""
    vertices_ids = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    if self_ref:
        edges = edges.select("src", "dst").union(
            vertices_ids.select(F.col("id").alias("src"), F.col("id").alias("dst"))
        )
    edges = edges.select("src", "dst").distinct()

    # out-degree folded onto the edge set once, so the per-iteration send
    # is a single join (no extra agg per superstep).
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    edges = edges.join(outdeg, "src")

    if personalize is None:
        n = vertices_ids.count()
        init_expr = F.lit(1.0 / n)
        alpha_expr = F.lit((1.0 - damping) / n)
    else:
        # an absent/mistyped source would silently zero the teleport
        # mass and return all-zero ranks — fail loudly instead. The
        # existence check rides the vertex-count aggregation (one job,
        # no second pass over the edge relation).
        n, src_hits = vertices_ids.agg(
            F.count(F.lit(1)),
            F.sum(F.when(F.col("id") == personalize, 1).otherwise(0)),
        ).collect()[0]
        if not src_hits:
            raise ValueError(
                f"personalize={personalize!r} is not a vertex id in the graph"
            )
        is_src = F.col("id") == personalize
        init_expr = F.when(is_src, F.lit(1.0)).otherwise(F.lit(0.0))
        alpha_expr = F.when(is_src, F.lit(1.0 - damping)).otherwise(F.lit(0.0))

    vertices = vertices_ids.select(
        "id", init_expr.alias("rank"), F.lit(0.0).alias("delta")
    )

    def initial_message(verts: DataFrame, ctx: PregelContext) -> DataFrame:
        # Hama superstep 0: no update, just send rank/outdeg (PageRank.java:66-87).
        return verts.join(edges, verts["id"] == edges["src"]).select(
            edges["dst"].alias("id"), (F.col("rank") / F.col("outdeg")).alias(MSG)
        )

    def compute(with_inbox: DataFrame, ctx: PregelContext) -> DataFrame:
        new_rank = alpha_expr + F.coalesce(F.col(MSG), F.lit(0.0)) * F.lit(damping)
        return with_inbox.select(
            "id",
            new_rank.alias("rank"),
            F.abs(new_rank - F.col("rank")).alias("delta"),
        )

    def send(verts: DataFrame, edg: DataFrame, ctx: PregelContext) -> DataFrame:
        return verts.join(edg, verts["id"] == edg["src"]).select(
            edg["dst"].alias("id"), (F.col("rank") / F.col("outdeg")).alias(MSG)
        )

    def halt(ctx: PregelContext) -> bool:
        # loop superstep m applies Hama superstep m+1's update; Hama halts
        # at superstep s>2 using err finalized at s-1 (PageRank.java:76-81)
        # => here: m+1 > 2 with ctx.prev_aggregates.
        if epsilon is None:
            return False
        prev = ctx.prev_aggregates.get("err")
        return ctx.superstep + 1 > 2 and prev is not None and prev < epsilon

    fixed = epsilon is None
    result = pregel(
        vertices,
        edges,
        compute=compute,
        send=send,
        combine=F.sum,
        initial_message=initial_message,
        # epsilon=None runs exactly max_iter supersteps: skip both the
        # per-superstep aggregate collect and the message-count job —
        # two fewer Spark jobs per iteration
        aggregators=None if fixed else {"err": lambda v: F.avg("delta")},
        halt=None if fixed else halt,
        max_iter=max_iter,
        checkpoint_interval=checkpoint_interval,
        detect_halt=not fixed,
        num_partitions=num_partitions,
        recover_dir=recover_dir,
        recover_fingerprint=(
            f"pagerank|{damping}|{epsilon}|{max_iter}|{self_ref}|{personalize}"
        ),
    )
    return result.select("id", "rank")
