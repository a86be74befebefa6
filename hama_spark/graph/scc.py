"""Strongly connected components for DIRECTED graphs — the coloring
algorithm (Orzan; also the FW-BW-style decomposition used by
distributed SCC implementations — public literature), built from two
Pregel fixpoints per round:

1. FORWARD coloring: propagate the maximum vertex id along out-edges
   to fixpoint — color(v) = max id that can reach v.
2. BACKWARD collection: each color ROOT (the vertex that is its own
   color) walks the REVERSED edges, claiming only same-color vertices.
   Everything claimed is exactly the root's SCC (reachable both ways),
   gets scc = root, and leaves the active set.

Rounds repeat on the shrinking remainder; every round settles at least
each color's root, so termination is guaranteed, and on graphs whose
ids correlate with topological order one round settles everything.
Singletons dominate real web/link graphs, so the remainder collapses
fast; ``max_rounds`` bounds adversarial shapes.

Scale shape: both phases are frontier-style Pregel loops (only changed
vertices send; empty inbox is a no-op), active edges are re-filtered
per round through id joins, and vertex state is two columns. The
complement of the undirected CC operator (components.mindist_search);
apache/hama ships no SCC example — north-star extension per SURVEY §7.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hama_spark.plans.pregel import MSG, PregelContext, pregel

# Giant-SCC regime gate for the backward edge restriction: when at
# least this fraction of active edges is same-color, skip the e_bwd
# checkpoint and run the backward phase on the full (already
# checkpointed) edge relation — result-identical either way, see the
# in-loop comment. 0.95 marks "restriction would drop <5% of edges";
# 1.0 disables the skip entirely.
_BWD_SKIP_RATIO = 0.95


def _forward_colors(
    vertices: DataFrame,
    edges: DataFrame,
    max_iter: int,
    num_partitions: int | None,
    halt_check_interval: int,
) -> DataFrame:
    """(id) + directed (src, dst) -> (id, color = max id reaching it)."""
    verts = vertices.select("id", F.col("id").alias("color"), F.lit(True).alias("updated"))

    def initial_message(v: DataFrame, ctx: PregelContext) -> DataFrame:
        return (
            v.join(edges, v["id"] == edges["src"])
            .select(edges["dst"].alias("id"), F.col("color").alias(MSG))
        )

    def compute(with_inbox: DataFrame, ctx: PregelContext) -> DataFrame:
        improved = F.col(MSG).isNotNull() & (F.col(MSG) > F.col("color"))
        return with_inbox.select(
            "id",
            F.when(improved, F.col(MSG)).otherwise(F.col("color")).alias("color"),
            improved.alias("updated"),
        )

    def send(v: DataFrame, e: DataFrame, ctx: PregelContext) -> DataFrame:
        return (
            v.filter("updated")
            .join(e, v["id"] == e["src"])
            .select(e["dst"].alias("id"), F.col("color").alias(MSG))
        )

    return pregel(
        verts,
        edges,
        compute=compute,
        send=send,
        combine=F.max,
        initial_message=initial_message,
        max_iter=max_iter,
        num_partitions=num_partitions,
        # frontier-style: un-improved vertices send nothing
        halt_check_interval=halt_check_interval,
    ).select("id", "color")


def _backward_collect(
    colored: DataFrame,
    edges: DataFrame,
    max_iter: int,
    num_partitions: int | None,
    halt_check_interval: int,
) -> DataFrame:
    """colored(id, color) + edges -> (id, color, scc nullable): scc set
    for every vertex in a root's SCC, walking reversed edges within the
    SAME color only.

    PRECONDITION: ``edges`` must already be restricted to same-color
    endpoints (the caller filters on the forward coloring — FW-BW).
    Every claim then carries exactly the receiver's own color, so the
    combiner is a plain scalar ``max`` and the claim test an equality
    guard. (Before the edge restriction, cross-color claims could
    arrive and the combiner had to be ``collect_set`` with an
    ``array_contains`` test so a matching claim was not dropped when
    two roots' walks hit one vertex in the same superstep — the
    restriction makes that array machinery dead weight: smaller
    messages, no per-vertex set build.) Earlier revisions filtered at
    send time via a join against every target's color, costing one
    extra shuffle join per superstep for the same semantics."""
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    verts = colored.select(
        "id",
        "color",
        F.when(F.col("id") == F.col("color"), F.col("color")).alias("scc"),
        (F.col("id") == F.col("color")).alias("updated"),
    )

    def _claims(v: DataFrame, e: DataFrame) -> DataFrame:
        return (
            v.filter("updated")
            .join(e, v["id"] == e["src"])
            .select(e["dst"].alias("id"), F.col("scc").alias(MSG))
        )

    def initial_message(v: DataFrame, ctx: PregelContext) -> DataFrame:
        # superstep 0 runs before pregel hands edges to send — the raw
        # rev relation is used exactly once here
        return _claims(v, rev)

    def compute(with_inbox: DataFrame, ctx: PregelContext) -> DataFrame:
        # equality guard kept for defense in depth: with same-color
        # edges every arriving claim equals the receiver's color
        claimed = (
            F.col("scc").isNull()
            & F.col(MSG).isNotNull()
            & (F.col(MSG) == F.col("color"))
        )
        return with_inbox.select(
            "id",
            "color",
            F.when(claimed, F.col("color")).otherwise(F.col("scc")).alias("scc"),
            claimed.alias("updated"),
        )

    def send(v: DataFrame, e: DataFrame, ctx: PregelContext) -> DataFrame:
        # e is the pregel-repartitioned+cached edge relation — joining
        # the closure rev instead would re-shuffle uncached edges every
        # superstep while the cache sits unread
        return _claims(v, e)

    return pregel(
        verts,
        rev,
        compute=compute,
        send=send,
        combine=F.max,
        initial_message=initial_message,
        max_iter=max_iter,
        num_partitions=num_partitions,
        halt_check_interval=halt_check_interval,
    ).select("id", "color", "scc")


def strongly_connected_components(
    edges: DataFrame,
    max_rounds: int = 20,
    max_iter: int = 100,
    num_partitions: int | None = None,
    halt_check_interval: int = 8,
    stats_out: dict | None = None,
    trim_iters: int = 3,
) -> DataFrame:
    """Directed edges (src, dst) -> (id, scc) where scc is the maximum
    vertex id of the component (a canonical, deterministic label).

    Each round first TRIMS, then colors the active subgraph forward,
    collects each root's SCC backward, and recurses on the unassigned
    remainder with edges filtered to active endpoints. Raises if
    ``max_rounds`` rounds leave vertices unassigned (raise it for
    adversarially ordered deep DAG chains).

    Trim (the standard FW-BW/coloring preprocessing step, e.g. Hong,
    Rodia & Olukotun 2013, public literature): a vertex whose ACTIVE
    in-degree or out-degree is 0 (self-loops ignored) cannot lie on any
    cycle with another active vertex, so its SCC is exactly ``{itself}``
    — settle it as ``scc = id`` with one degree aggregation instead of
    two Pregel fixpoints. Removing a layer exposes the next, so up to
    ``trim_iters`` peeling passes run before each coloring round
    (capped: a long DAG chain would otherwise peel one layer per pass,
    which is the coloring phase's job). Singleton tendrils dominate
    real web/link graphs, so most of the remainder mass never enters a
    Pregel loop at all. ``trim_iters=0`` disables. Results are
    IDENTICAL either way — trim settles only vertices whose singleton
    label the full algorithm would also produce.

    ``halt_check_interval`` batches the empty-inbox halt count of both
    Pregel fixpoints: k supersteps execute as ONE Spark job, paying one
    driver round-trip per k instead of per superstep — safe because
    both phases are frontier-style (up to k-1 no-op supersteps past the
    fixpoint change nothing), and the per-round fixpoint invariant
    checks below re-verify convergence independently of the halt
    machinery. At fixture scale this is the dominant cost knob: deep
    cycles run O(diameter) supersteps that are pure scheduling floor."""
    active = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if active.isEmpty():
        raise ValueError("strongly_connected_components needs a non-empty edge relation")
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    done_parts: list[DataFrame] = []
    rounds_run = 0
    trim_settled = 0
    for _ in range(max_rounds):
        if active.isEmpty():
            break
        # ---- Trim: peel acyclic-by-degree layers with aggregations
        for _t in range(trim_iters):
            nsl = e.where(F.col("src") != F.col("dst"))
            core = (
                nsl.select(F.col("src").alias("id"))
                .distinct()
                .join(nsl.select(F.col("dst").alias("id")).distinct(), "id")
                .localCheckpoint(eager=True)
            )
            n_core, n_active = core.count(), active.count()
            if n_core == n_active:
                break
            trimmed = active.join(core, "id", "left_anti")
            done_parts.append(
                trimmed.select("id", F.col("id").alias("scc")).localCheckpoint(
                    eager=True
                )
            )
            trim_settled += n_active - n_core
            active = core
            if n_core == 0:
                break
            # core ⊆ both endpoint sets of nsl is NOT guaranteed for
            # self-loop edges — refilter e to core endpoints (keeps
            # core vertices' self-loops, which the Pregel phases and
            # invariant checks tolerate as before)
            e = (
                e.join(core.withColumnRenamed("id", "src"), "src")
                .join(core.withColumnRenamed("id", "dst"), "dst")
                .select("src", "dst")
                .localCheckpoint(eager=True)
            )
        if active.isEmpty():
            break
        rounds_run += 1
        colored = _forward_colors(
            active, e, max_iter, num_partitions, halt_check_interval
        )
        # Convergence is NOT optional: pregel exits silently at max_iter,
        # and half-propagated colors would mint fake roots whose backward
        # walks permanently assign WRONG singleton components. The exact
        # fixpoint invariant — no edge still carries color(src) >
        # color(dst) — is one join+count per round; raise instead of
        # returning a shattered partition. The edge-color join is
        # materialized ONCE and reused to restrict the backward phase.
        cmap = colored.select(F.col("id").alias("src"), F.col("color").alias("_csrc"))
        cdst = colored.select(F.col("id").alias("dst"), F.col("color").alias("_cdst"))
        ewc = e.join(cmap, "src").join(cdst, "dst").localCheckpoint(eager=True)
        if not ewc.where(F.col("_csrc") > F.col("_cdst")).isEmpty():
            raise RuntimeError(
                f"forward coloring did not reach fixpoint within "
                f"max_iter={max_iter} supersteps — raise max_iter above "
                f"the graph's propagation diameter"
            )
        # FW-BW edge restriction: a backward claim succeeds only when
        # color(src) == color(dst) (every claim carries the claimer's
        # color and compute drops mismatches), so cross-color edges can
        # NEVER produce a claim — dropping them before the backward
        # Pregel is result-identical while every backward superstep
        # joins and shuffles only the candidate-SCC subgraph. At the
        # forward fixpoint color(src) <= color(dst) on every edge, so
        # this keeps exactly the equal-color edges.
        #
        # Size-aware skip (r10, VERDICT r9 item 4): in the giant-SCC
        # regime nearly every edge is same-color, so the restriction
        # buys nothing while paying an extra |E|-scale checkpoint. When
        # the same-color fraction is at/above the (env-tunable)
        # threshold, reuse the already-checkpointed ``e`` — the
        # backward compute drops cross-color claims regardless (the
        # pre-r9 semantics), and the pending-invariant join is equally
        # valid on e: a pending row needs scc(dst) == color(src) while
        # scc(dst) == color(dst), i.e. only same-color edges can ever
        # be pending. Both counts read materialized checkpoints.
        n_e = e.count()
        n_same = ewc.where(F.col("_csrc") == F.col("_cdst")).count()
        if n_same >= _BWD_SKIP_RATIO * n_e:
            e_bwd = e
        else:
            e_bwd = (
                ewc.where(F.col("_csrc") == F.col("_cdst"))
                .select("src", "dst")
                .localCheckpoint(eager=True)
            )
        collected = _backward_collect(
            colored, e_bwd, max_iter, num_partitions, halt_check_interval
        )
        # backward fixpoint invariant: no reversed edge from a claimed
        # vertex into an unclaimed vertex of the SAME color remains.
        # Checked on e_bwd — a pending edge requires scc(dst) ==
        # color(src), and scc(dst) == color(dst), i.e. only same-color
        # edges can ever be pending, so the restriction loses nothing.
        cu = collected.where(F.col("scc").isNotNull()).select(
            F.col("id").alias("dst"), F.col("scc").alias("_s")
        )
        cv = collected.where(F.col("scc").isNull()).select(
            F.col("id").alias("src"), F.col("color").alias("_c")
        )
        pending = e_bwd.join(cu, "dst").join(cv, "src").where(F.col("_s") == F.col("_c"))
        if not pending.isEmpty():
            raise RuntimeError(
                f"backward collection did not reach fixpoint within "
                f"max_iter={max_iter} supersteps — raise max_iter above "
                f"the graph's propagation diameter"
            )
        assigned = collected.where(F.col("scc").isNotNull()).select(
            "id", F.col("scc")
        ).localCheckpoint(eager=True)
        done_parts.append(assigned)
        active = (
            collected.where(F.col("scc").isNull())
            .select("id")
            .localCheckpoint(eager=True)
        )
        if active.isEmpty():
            break
        e = (
            e.join(active.withColumnRenamed("id", "src"), "src")
            .join(active.withColumnRenamed("id", "dst"), "dst")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    else:
        if not active.isEmpty():
            raise RuntimeError(
                f"SCC did not settle within max_rounds={max_rounds}; "
                f"raise it (deep adversarially-ordered DAG chains need "
                f"more rounds)"
            )
    if stats_out is not None:
        # color/collect rounds executed — the scale harness normalizes
        # tier ratios with this (round count grows with graph shape,
        # not implementation cost); trim_settled = vertices that never
        # entered a Pregel fixpoint
        stats_out["rounds"] = rounds_run
        stats_out["trim_settled"] = trim_settled
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), done_parts)
