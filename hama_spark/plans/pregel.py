"""DataFrame-native Pregel operator — the Spark equivalent of Hama's
graph runtime (reference: graph/GraphJobRunner.java:157-414,
graph/Vertex.java:53-198, graph/Aggregator.java:30).

One Hama superstep == one iteration of this driver loop == one shuffle
round:

    msgs   = send(vertices, edges)                  # Vertex.sendMessage*
    inbox  = msgs.groupBy(id).agg(combine)          # Combiner (map-side partial agg)
    verts  = compute(vertices ⟕ inbox)              # Vertex.compute
    aggs   = verts.agg(...) -> driver               # Aggregators (one row)
    halt when msg_count == 0 or halt(ctx) or iter == max_iter

Scale design (100 TB):
- vertices and edges are hash-repartitioned on the join key ONCE before
  the loop with the session's fixed shuffle-partition count, so every
  per-iteration join reuses the same partitioning (SURVEY §4 "custom
  Spark work (c)").
- per-superstep re-anchoring is a LAZY ``localCheckpoint`` — the plan is
  truncated immediately, while block materialization rides whatever
  action the superstep already runs (aggregator collect / message
  count), so halt detection and aggregators cost no extra job.
  Measured tradeoff: ``cache()`` would preserve the vertex hash
  partitioning across supersteps (InMemoryRelation keeps
  outputPartitioning; a checkpoint becomes a LogicalRDD and loses it,
  so a non-broadcastable inbox join re-exchanges the vertex set), BUT a
  cached plan keeps the full lineage, so the next superstep's
  ``send(vertices, edges)`` self-join fails Spark's ambiguous-attribute
  check (the vertices plan now CONTAINS the edges subplan). Checkpoint
  re-anchors attributes each round — the same design GraphFrames'
  AggregateMessages uses (getCachedDataFrame) for the same reason. The
  cost is moot for frontier-style algorithms: Catalyst broadcasts the
  (small) inbox and never shuffles vertices. Cutting lineage on an
  eagerly checkpointed inbox instead, so the vertices can stay cached
  exchange-free, removes that Exchange for dense PageRank-class loops
  but costs one extra action per superstep, and measured slower than
  this loop in every A/B, local and multi-JVM (CLUSTER_r07/r08.json).
- checkpoints also truncate the logical plan (without it analysis cost
  grows with supersteps — SURVEY §7 risk register); durability across
  a driver or executor loss is ``recover_dir``.
- message combining is a plain ``groupBy().agg()`` — Spark inserts a
  map-side partial aggregate automatically, which IS Hama's Combiner
  optimization (bsp/Combiner.java:30) without user wiring.
- aggregators collect exactly ONE row per superstep to the driver.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hama_spark.plans.recovery import (
    clear_checkpoints,
    load_checkpoint,
    save_checkpoint,
)

MSG = "_msg"  # column name the combined inbox arrives under


@dataclass
class PregelContext:
    """Per-superstep context handed to user callbacks.

    ``aggregates`` holds the aggregator values computed at the END of the
    previous superstep — matching Hama's schedule where the master
    finalizes aggregators between supersteps and peers see them one
    superstep later (graph/AggregationRunner.java:97-160).
    """

    superstep: int = 0
    num_vertices: int = 0
    num_messages: int = 0
    aggregates: dict[str, Any] = field(default_factory=dict)
    prev_aggregates: dict[str, Any] = field(default_factory=dict)


def pregel(
    vertices: DataFrame,
    edges: DataFrame | None,
    compute: Callable[[DataFrame, PregelContext], DataFrame],
    send: Callable[[DataFrame, DataFrame | None, PregelContext], DataFrame | None],
    combine: Callable[[Column], Column],
    id_col: str = "id",
    initial_message: Callable[[DataFrame, PregelContext], DataFrame] | str | None = "self",
    aggregators: dict[str, Callable[[DataFrame], Column]] | None = None,
    halt: Callable[[PregelContext], bool] | None = None,
    max_iter: int = 30,
    checkpoint_interval: int = 4,
    num_partitions: int | None = None,
    detect_halt: bool = True,
    halt_check_interval: int = 1,
    mutate: Callable[[DataFrame, "PregelContext"], tuple[DataFrame | None, DataFrame | None]]
    | None = None,
    recover_dir: str | None = None,
    recover_fingerprint: str = "",
    stats_out: dict | None = None,
) -> DataFrame:
    """Run a Pregel fixpoint and return the final vertex DataFrame.

    Parameters
    ----------
    vertices : DataFrame with ``id_col`` plus arbitrary state columns.
    edges : DataFrame with ``src``/``dst`` plus attrs (may be None for
        message-free iteration).
    compute : (vertices_with_inbox, ctx) -> new vertices. The input has
        every vertex column plus ``_msg`` (combined message, NULL when the
        vertex received nothing this superstep — Hama skips compute for
        halted+messageless vertices; express that with
        ``F.when(F.col('_msg').isNotNull() | ~F.col('halted'), new).otherwise(old)``).
        Must return the same ``id_col``.
    send : (updated_vertices, edges, ctx) -> messages DataFrame with
        columns ``(id_col, _msg)`` addressed to destination vertices, or
        None / empty for no messages. ``sendMessageToNeighbors`` ==
        join vertices with edges on ``src`` and project ``dst``.
    combine : msg Column -> aggregate Column (Hama Combiner, e.g.
        ``F.min``). Applied per destination vertex.
    initial_message : "self" replicates Hama's initial superstep where
        each vertex computes with its own value (GraphJobRunner.java:318-349)
        — the inbox for superstep 0 is built by the *compute* author via
        ctx.superstep == 0; callable for custom seeds; None = superstep 0
        runs with empty inbox.
    aggregators : name -> (vertices -> agg Column); evaluated after each
        compute, visible to callbacks the NEXT superstep (ctx.aggregates).
    halt : extra termination predicate checked after each superstep.
    checkpoint_interval : how often (in supersteps) ``recover_dir``
        commits the loop-carried state; without ``recover_dir`` it has
        no effect (every superstep re-anchors with a lazy local
        checkpoint either way).
    detect_halt : when False, skips the per-superstep message count used
        for empty-inbox termination — one fewer job+cache per iteration.
        Use for fixed-iteration runs (the loop then ends on max_iter /
        ``halt`` only).
    halt_check_interval : run the empty-inbox count only every k-th
        superstep (default 1 = every superstep). Between checks the lazy
        checkpoints chain and the NEXT count executes k supersteps'
        worth of work in ONE Spark job — for deep frontier fixpoints
        (SSSP on a weighted graph runs 30+ supersteps) the per-job
        scheduling floor is the dominant cost at local/bench scale, and
        on a cluster it removes k-1 driver round-trips per k supersteps.
        ONLY safe when compute-with-empty-inbox is a no-op and send of
        un-updated vertices is empty (true for frontier-style
        algorithms: up to k-1 supersteps may run past the fixpoint and
        must not change state). Ignored when ``detect_halt`` is False.
    mutate : dynamic graph mutation (G9, Vertex.addVertex/remove —
        graph/GraphJobRunner.java:626-702): called after each compute
        with (vertices, ctx), returns (additions, removal_ids) — either
        may be None. Additions are unioned in (same schema), removals
        anti-joined out by ``id_col``; ``ctx.num_vertices`` is updated
        like the master's count adjustment (:664-675).
    recover_dir : when set, the loop persists ``(superstep, vertices,
        pending inbox, aggregates)`` to this directory every
        ``checkpoint_interval`` supersteps (manifest-last commit) and a
        RESTARTED call with the same ``recover_dir`` resumes from the
        last committed superstep instead of superstep 0 — driver-crash
        recovery, the durable analogue of the reference's per-superstep
        message checkpoint (bsp/ft/AsyncRcvdMsgCheckpointImpl.java:69-358).
        Aggregator values must be JSON-serializable.
    recover_fingerprint : opaque string identifying the JOB (hash the
        algorithm parameters into it — and, for recurring jobs over
        changing data, an INPUT identity such as a snapshot id or
        content fingerprint: parameters alone cannot distinguish
        yesterday's run from today's). A checkpoint written under a
        different fingerprint raises instead of resuming the wrong
        fixpoint; a run that COMPLETES clears its step checkpoints, so
        a later same-fingerprint run starts fresh instead of resuming
        the finished state. The two latest committed steps are kept
        (pruned after each new commit).
    stats_out : a caller-supplied dict filled with run counters on
        return — ``supersteps_run``, ``num_vertices``, ``num_messages``
        (last observed), ``aggregates`` (final values). Hama's
        job-counter surface (P4/P9: superstep count, BSPPeer counters);
        also what scale harnesses use to normalize cost per superstep.
    """
    if halt_check_interval < 1:
        raise ValueError(f"halt_check_interval must be >= 1, got {halt_check_interval}")
    spark = vertices.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    guard = _LoopPlanGuard(spark)
    try:
        return _pregel_loop(
            vertices, edges, compute, send, combine, id_col, initial_message,
            aggregators, halt, max_iter, checkpoint_interval, detect_halt,
            halt_check_interval, mutate, recover_dir, recover_fingerprint,
            stats_out, spark, n_part, guard,
        )
    finally:
        guard.restore()


class _LoopPlanGuard:
    """Scopes the shuffle loop-plan confs {AQE off, auto-broadcast off,
    prefer shuffled-hash join} to one iterative call, when the graph is
    big enough.

    Armed, every superstep's inbox-combine and send join runs as a
    shuffle join pinned to the loop's fixed hash-partitioning, so a
    k-superstep chain executes as ONE Spark job of pipelined stages.
    Unarmed, Spark broadcasts the (small) inbox/frontier each superstep:
    each BroadcastExchange is its own driver-scheduled job, and with AQE
    every exchange adds a query-stage round-trip. At 30+ supersteps on a
    big graph those round-trips dominate (sssp_gen_100k: ~140 sub-100ms
    stages, task time < 10% of wall; interleaved A/B 16.2s -> 11.0s,
    identical hashes). On a TINY graph the broadcast plan wins (25-vertex
    nation DAG: two 16-task exchanges per superstep cost more than
    broadcasting 25 rows), so the guard arms only once the size passed
    to :meth:`arm` reaches ``MIN_VERTICES`` — the point where
    per-superstep data volume starts to amortize the fixed per-stage
    floor. Results are identical either way.

    Two operators use it, each around its whole loop: :func:`pregel`
    (sized on the pre-loop VERTEX count) and
    :func:`hama_spark.graph.hits.hits` (sized on the EDGE count — HITS
    is dense, so per-iteration volume scales with |E|). Spark reads
    these confs at action time, and the loops' actions all run inside
    the scope.

    The confs are SESSION-global while armed: a query running
    concurrently on the same SparkSession plans without AQE and
    broadcast joins until :meth:`restore`. Straight-line operators
    therefore do not use it."""

    MIN_VERTICES = 50_000
    CONFS = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.join.preferSortMergeJoin": "false",
    }

    def __init__(self, spark) -> None:
        self.spark = spark
        self.saved: dict[str, str | None] = {}

    def arm(self, size: int) -> None:
        if self.saved or size < self.MIN_VERTICES:
            return
        for k, v in self.CONFS.items():
            self.saved[k] = self.spark.conf.get(k, None)
            self.spark.conf.set(k, v)

    def restore(self) -> None:
        for k, v in self.saved.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)
        self.saved = {}


def _pregel_loop(
    vertices, edges, compute, send, combine, id_col, initial_message,
    aggregators, halt, max_iter, checkpoint_interval, detect_halt,
    halt_check_interval, mutate, recover_dir, recover_fingerprint,
    stats_out, spark, n_part, guard,
):
    if edges is not None:
        edges = edges.repartition(n_part, "src").cache()
        edges.count()  # materialize so per-iteration scans hit cache

    resume = (
        load_checkpoint(spark, recover_dir, recover_fingerprint)
        if recover_dir is not None
        else None
    )
    if resume is not None:
        # Driver-crash recovery: loop-carried state comes from the last
        # committed checkpoint — vertices are post-compute of superstep
        # s, inbox holds the messages already sent for superstep s+1,
        # and the scalars restore the aggregator schedule exactly.
        vertices = (
            resume["vertices"]
            .repartition(n_part, id_col)
            .localCheckpoint(eager=False)
        )
        st = resume["state"]
        ctx = PregelContext(
            superstep=resume["superstep"] + 1,
            num_vertices=int(st["num_vertices"]),
            num_messages=int(st["num_messages"]),
            aggregates=dict(st["aggregates"]),
            prev_aggregates=dict(st["prev_aggregates"]),
        )
        inbox = resume["inbox"]
        guard.arm(ctx.num_vertices)
    else:
        # Pin the partitioning once (see module docstring for why the
        # loop re-anchors with checkpoints rather than caches). Lazy
        # checkpoint: the count() below materializes it.
        vertices = vertices.repartition(n_part, id_col).localCheckpoint(
            eager=False
        )
        ctx = PregelContext(superstep=0, num_vertices=vertices.count())
        guard.arm(ctx.num_vertices)

        # --- superstep 0 inbox (Hama's "initial superstep", G3) ---------
        if initial_message == "self":
            inbox = None  # compute sees ctx.superstep==0 and seeds itself
        elif callable(initial_message):
            inbox = initial_message(vertices, ctx)
        else:
            inbox = None

    while True:
        if inbox is not None:
            combined = inbox.groupBy(id_col).agg(combine(F.col(MSG)).alias(MSG))
            with_inbox = vertices.join(combined, on=id_col, how="left")
        else:
            with_inbox = vertices.withColumn(MSG, F.lit(None))

        new_vertices = compute(with_inbox, ctx)
        if MSG in new_vertices.columns:
            new_vertices = new_vertices.drop(MSG)

        mutated = False
        if mutate is not None:
            additions, removals = mutate(new_vertices, ctx)
            if removals is not None:
                new_vertices = new_vertices.join(
                    removals.select(F.col(removals.columns[0]).alias(id_col)),
                    on=id_col,
                    how="left_anti",
                )
            if additions is not None:
                new_vertices = new_vertices.unionByName(additions)
            mutated = additions is not None or removals is not None

        # Re-anchor every superstep (attribute dedup + lineage cut).
        # Local checkpoints are LAZY: the next action that touches the
        # vertices (mutation count, aggregator collect, or the detect_halt
        # message count) materializes the checkpoint in the SAME job — one Spark
        # job per superstep instead of two or three. Fixed-iteration
        # aggregator-less runs have no mid-loop action at all: the whole
        # superstep chain executes inside the caller's single action,
        # with each checkpoint still truncating the logical plan (the
        # analysis-time growth is what the checkpoint is for).
        vertices = new_vertices.localCheckpoint(eager=False)
        materialized = False
        if mutated:
            # like the master's vertex-count adjustment; doubles as the
            # action that materializes this superstep's checkpoint
            ctx.num_vertices = vertices.count()
            materialized = True

        # --- aggregators: ONE collect of one row per superstep ----------
        ctx.prev_aggregates = ctx.aggregates
        if aggregators:
            row = vertices.agg(
                *[fn(vertices).alias(name) for name, fn in aggregators.items()]
            ).collect()[0]
            ctx.aggregates = row.asDict()
            materialized = True

        if ctx.superstep + 1 >= max_iter:
            break
        if halt is not None and halt(ctx):
            break

        # --- send phase --------------------------------------------------
        msgs = send(vertices, edges, ctx)
        if msgs is None:
            break
        if detect_halt:
            # Message count doubles as the halt signal (GraphJobRunner
            # halts when no peer saw messages, :398-414). The lazy
            # checkpoint means this single count() job materializes the
            # messages AND the new vertex state they derive from. With
            # halt_check_interval > 1 the count runs every k-th
            # superstep only; in between, supersteps chain lazily and
            # the next count executes them all in one job.
            msgs = msgs.localCheckpoint(eager=False)
            if ctx.superstep % halt_check_interval == halt_check_interval - 1:
                ctx.num_messages = msgs.count()
                # the count computes msgs from the current vertex
                # checkpoint, persisting its blocks as a side effect
                materialized = True
                if ctx.num_messages == 0:
                    break
        if (
            recover_dir is not None
            and ctx.superstep % checkpoint_interval == checkpoint_interval - 1
        ):
            # Durable commit of the loop-carried state (vertices are
            # post-compute of this superstep, msgs the pending inbox for
            # the next). The parquet writes double as the actions that
            # materialize the lazy checkpoints. Manifest-last: a crash
            # mid-write leaves no committed step.
            save_checkpoint(
                recover_dir,
                ctx.superstep,
                vertices,
                msgs,
                {
                    "num_vertices": ctx.num_vertices,
                    "num_messages": ctx.num_messages,
                    "aggregates": ctx.aggregates,
                    "prev_aggregates": ctx.prev_aggregates,
                },
                recover_fingerprint,
            )
            materialized = True
        inbox = msgs
        ctx.superstep += 1

    if stats_out is not None:
        stats_out.update(
            supersteps_run=ctx.superstep + 1,
            num_vertices=ctx.num_vertices,
            num_messages=ctx.num_messages,
            aggregates=dict(ctx.aggregates),
        )

    if recover_dir is not None and not materialized:
        # a resumed run's lazy lineage roots at the step parquet about
        # to be cleared — pin the final state into checkpoint blocks
        # first (also covers the fixed-iteration exit below)
        vertices.count()
        materialized = True
    if edges is not None:
        if not materialized:
            # Fixed-iteration exits (detect_halt=False / max_iter mid
            # halt-check interval) leave the final lazily-chained
            # supersteps unexecuted; materialize them WHILE the edge
            # cache is still alive, or the caller's first action replays
            # the whole loop against uncached edges.
            vertices.count()
        edges.unpersist()
    if recover_dir is not None:
        # completed runs must not leave resumable state: a later
        # same-fingerprint run over new input would silently resume it
        clear_checkpoints(spark, recover_dir, recover_fingerprint)
    return vertices
