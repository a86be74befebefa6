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
  (small) inbox and never shuffles vertices.
- ``dense=True`` removes that cost for dense-message algorithms
  (PageRank-class: every vertex messages every superstep, the inbox is
  ~|V| and never broadcasts). The trick — generalized from
  graph/hits.py's cached-layout loop — is to cut lineage on the INBOX
  instead of the vertices: messages are eagerly localCheckpointed each
  superstep (fresh attributes, so the vertex lineage never contains
  the edges subplan and the self-join check stays happy), which frees
  the vertices to be ``cache()``-d with a pinned
  repartition+sortWithinPartitions layout. The inbox-combine SMJ then
  reads the vertex side exchange-free AND sort-free, and its output
  keeps hashpartitioning(id)+ordering, so the next superstep's
  ``cache()`` inherits the layout — ZERO vertex-side Exchanges for the
  whole fixpoint (one per ``checkpoint_interval`` for the periodic
  lineage cut that bounds analysis-time plan growth). Costs one action
  per superstep (the eager inbox checkpoint) — exactly what a dense
  algorithm's per-superstep work amortizes.
- checkpoints also truncate the logical plan (without it analysis cost
  grows with supersteps — SURVEY §7 risk register); on a cluster with
  preemptible executors use reliable ``checkpoint()``
  (``reliable_checkpoint=True``) every ``checkpoint_interval``.
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
    reliable_checkpoint: bool = False,
    num_partitions: int | None = None,
    detect_halt: bool = True,
    halt_check_interval: int = 1,
    mutate: Callable[[DataFrame, "PregelContext"], tuple[DataFrame | None, DataFrame | None]]
    | None = None,
    recover_dir: str | None = None,
    recover_fingerprint: str = "",
    recover_retain: int = 2,
    dense: bool = False,
    stats_out: dict | None = None,
    loop_plan: str = "auto",
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
        ``reliable_checkpoint`` covers executor loss only; this covers
        the whole driver. Aggregator values must be JSON-serializable.
    recover_fingerprint : opaque string identifying the JOB (hash the
        algorithm parameters into it — and, for recurring jobs over
        changing data, an INPUT identity such as a snapshot id or
        content fingerprint: parameters alone cannot distinguish
        yesterday's run from today's). A checkpoint written under a
        different fingerprint raises instead of resuming the wrong
        fixpoint; a run that COMPLETES clears its step checkpoints, so
        a later same-fingerprint run starts fresh instead of resuming
        the finished state. ``recover_retain`` committed steps are kept
        (pruned after each new commit).
    dense : exchange-free vertex loop for dense-message algorithms
        (every vertex messages every superstep, so the combined inbox
        is ~|V| rows and never broadcasts — PageRank-class). Vertices
        are kept CACHED in a pinned hash(id)+sorted layout and the
        inbox is eagerly localCheckpointed instead (fresh attributes
        keep the send self-join unambiguous), so the per-superstep
        inbox join reads the vertex side with no Exchange and no Sort,
        and its output inherits the layout for the next superstep's
        cache. One vertex Exchange per ``checkpoint_interval`` remains
        (the periodic lineage cut bounding plan growth). Costs one
        Spark action per superstep — leave False for frontier-style
        algorithms, where the broadcast inbox is already exchange-free
        and the lazy one-job-per-k-supersteps chaining wins (see module
        docstring).
    stats_out : a caller-supplied dict filled with run counters on
        return — ``supersteps_run``, ``num_vertices``, ``num_messages``
        (last observed), ``aggregates`` (final values). Hama's
        job-counter surface (P4/P9: superstep count, BSPPeer counters);
        also what scale harnesses use to normalize cost per superstep.
    loop_plan : how per-superstep joins are PLANNED inside the sparse
        loop (results identical; dense mode ignores it — its cached
        layouts depend on SMJ ordering). ``"shuffle"`` scopes {AQE off,
        auto-broadcast off, prefer shuffled-hash join} to the loop
        body: every superstep's inbox-combine and send join runs as a
        shuffle join pinned to the loop's fixed ``n_part``
        hash-partitioning, so a k-superstep chain executes as ONE Spark
        job of pipelined stages. ``"broadcast"`` keeps Spark's default
        planning, which broadcasts the (small) inbox/frontier each
        superstep — each BroadcastExchange is its own driver-scheduled
        job, and with AQE every exchange adds a query-stage
        materialization round-trip; at 30+ supersteps those driver
        round-trips dominate when the per-superstep data amortizes the
        stage floor (measured on sssp_gen_100k: ~140 sub-100ms stages,
        task time < 10% of wall; interleaved A/B 16.2s -> 11.0s,
        identical hashes). On a TINY graph the broadcast plan wins (25-
        vertex nation DAG: two 16-task exchanges per superstep cost
        more than broadcasting 25 rows — filtered-bench A/B measured
        both directions), and on a cluster a frontier algorithm with a
        tiny inbox may also prefer it: the broadcast keeps the full
        vertex state exchange-free (a shuffle join re-exchanges the
        checkpointed vertex side, whose LogicalRDD partitioning Spark
        no longer recognises). ``"auto"`` (default) picks "shuffle"
        when the pre-loop vertex count reaches
        ``_LoopPlanGuard.MIN_VERTICES`` (50k), else "broadcast" — graph-size-adaptive, not box-tuned. The
        conf scope is the pregel call (restored on exit): Spark reads
        these confs at action time, and the loop's actions all run
        inside it.
    """
    if halt_check_interval < 1:
        raise ValueError(f"halt_check_interval must be >= 1, got {halt_check_interval}")
    spark = vertices.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    guard = _LoopPlanGuard(spark, loop_plan, dense)
    try:
        return _pregel_loop(
            vertices, edges, compute, send, combine, id_col, initial_message,
            aggregators, halt, max_iter, checkpoint_interval, reliable_checkpoint,
            detect_halt, halt_check_interval, mutate, recover_dir,
            recover_fingerprint, recover_retain, dense, stats_out, spark, n_part,
            guard,
        )
    finally:
        guard.restore()


class _LoopPlanGuard:
    """Scopes the shuffle loop-plan confs to one iterative call.

    Two operators use it, each around its whole loop: :func:`pregel`
    (sized on the pre-loop VERTEX count) and
    :func:`hama_spark.graph.hits.hits` (sized on the EDGE count — HITS
    is dense, so per-iteration volume scales with |E|). ``loop_plan=
    "auto"`` decides per graph size, which is only known after that
    count — the caller passes it to :meth:`arm`, and the guard applies
    the confs only when the graph is big enough that per-superstep
    broadcast-build jobs dominate (tiny graphs — e.g. the 25-vertex
    nation DAG — plan better WITH broadcasts: a shuffle join's two
    16-task exchanges cost more than broadcasting 25 rows; interleaved
    A/B measured both directions). The threshold is parameterized, not
    tuned to one machine: it marks where per-superstep data volume starts
    to amortize the fixed per-stage floor.

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

    def __init__(self, spark, loop_plan: str, dense: bool) -> None:
        if loop_plan not in ("auto", "shuffle", "broadcast"):
            raise ValueError(
                f"loop_plan must be 'auto', 'shuffle' or 'broadcast', got {loop_plan}"
            )
        self.spark = spark
        self.plan = "broadcast" if dense else loop_plan
        self.saved: dict[str, str | None] = {}

    def arm(self, size: int) -> None:
        if self.plan == "broadcast" or self.saved:
            return
        if self.plan == "auto" and size < self.MIN_VERTICES:
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
    aggregators, halt, max_iter, checkpoint_interval, reliable_checkpoint,
    detect_halt, halt_check_interval, mutate, recover_dir,
    recover_fingerprint, recover_retain, dense, stats_out, spark, n_part,
    guard,
):

    def _dense_layout(df: DataFrame) -> DataFrame:
        # the pinned exchange-free layout: hash(id) partitioning AND
        # per-partition ordering, both preserved by InMemoryRelation,
        # so the inbox-combine SMJ neither exchanges nor sorts this side
        return df.repartition(n_part, id_col).sortWithinPartitions(id_col).cache()

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
        if dense:
            vertices = _dense_layout(resume["vertices"])
            vertices.count()
        else:
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
        if dense:
            # eager checkpoint FIRST: fresh attributes cut whatever the
            # caller's vertex plan contains (often the edge relation —
            # vertex ids are usually derived from edges), so the cached
            # lineage below can never collide with edges in send()
            vertices = _dense_layout(vertices.localCheckpoint(eager=True))
        else:
            # Pin the partitioning once (see module docstring for why
            # the loop re-anchors with checkpoints rather than caches).
            # Lazy checkpoint: the count() below materializes it.
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
            if inbox is not None and dense:
                # dense mode's invariant: the inbox carries FRESH
                # attributes so the cached vertex lineage never contains
                # the edges subplan — the initial inbox needs the same
                # anchoring the per-superstep sends get
                inbox = inbox.localCheckpoint(eager=True)
        else:
            inbox = None

    dense_prev: DataFrame | None = None  # last superstep's still-cached vertices

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

        # Re-anchor every superstep (attribute dedup + lineage cut);
        # reliable checkpoint at the interval when requested. Local
        # checkpoints are LAZY: the next action that touches the vertices
        # (mutation count, aggregator collect, or the detect_halt message
        # count) materializes the checkpoint in the SAME job — one Spark
        # job per superstep instead of two or three. Fixed-iteration
        # aggregator-less runs have no mid-loop action at all: the whole
        # superstep chain executes inside the caller's single action,
        # with each checkpoint still truncating the logical plan (the
        # analysis-time growth is what the checkpoint is for).
        interval_hit = ctx.superstep % checkpoint_interval == checkpoint_interval - 1
        if dense:
            # cache preserves the hash(id)+sorted layout the inbox join
            # produced (SMJ output partitioning/ordering), so the next
            # superstep's vertex side is exchange-free. Lineage is cut
            # only periodically (or after a layout-destroying mutation):
            # one vertex Exchange per checkpoint_interval instead of one
            # per superstep.
            materialized = False
            if interval_hit or mutated:
                anchored = (
                    new_vertices.checkpoint(eager=True)
                    if reliable_checkpoint and interval_hit
                    else new_vertices.localCheckpoint(eager=True)
                )
                new_vertices = _dense_layout(anchored)
            else:
                new_vertices = new_vertices.cache()
        elif reliable_checkpoint and interval_hit:
            new_vertices = new_vertices.checkpoint(eager=True)
            materialized = True
        else:
            new_vertices = new_vertices.localCheckpoint(eager=False)
            materialized = False

        vertices = new_vertices
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
        if dense:
            # EAGER inbox checkpoint: (a) the action that materializes
            # this superstep's vertex cache, (b) fresh attributes — the
            # next superstep's vertex lineage will not contain the edges
            # subplan, which is what lets the vertices stay cached
            # (module docstring). Only now is the previous superstep's
            # cache safe to drop.
            msgs = msgs.localCheckpoint(eager=True)
            materialized = True
            if dense_prev is not None:
                dense_prev.unpersist()
            dense_prev = vertices
        if detect_halt:
            # Message count doubles as the halt signal (GraphJobRunner
            # halts when no peer saw messages, :398-414). The lazy
            # checkpoint means this single count() job materializes the
            # messages AND the new vertex state they derive from. With
            # halt_check_interval > 1 the count runs every k-th
            # superstep only; in between, supersteps chain lazily and
            # the next count executes them all in one job. (In dense
            # mode the inbox is already eagerly anchored above.)
            if not dense:
                msgs = msgs.localCheckpoint(eager=False)
            if ctx.superstep % halt_check_interval == halt_check_interval - 1:
                ctx.num_messages = msgs.count()
                # the count computes msgs from the current vertex
                # checkpoint, persisting its blocks as a side effect
                materialized = True
                if ctx.num_messages == 0:
                    break
        if recover_dir is not None and interval_hit:
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
                retain=recover_retain,
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

    if dense:
        # copy the final state out of the cache chain so every interim
        # cache (at most: previous + current) can be released without
        # exposing the caller to a full-loop replay
        final = vertices.localCheckpoint(eager=True)
        if dense_prev is not None:
            dense_prev.unpersist()
        vertices.unpersist()
        vertices = final
        if edges is not None:
            edges.unpersist()
        if recover_dir is not None:
            # the eager checkpoint above copied the final state into
            # executor blocks, so the step parquet is no longer part of
            # any live lineage — safe to clear, and clearing is REQUIRED:
            # a completed run's checkpoints left behind would be silently
            # resumed by the next same-fingerprint run over new input
            clear_checkpoints(spark, recover_dir, recover_fingerprint)
        return vertices

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
        # completed runs must not leave resumable state (see dense exit)
        clear_checkpoints(spark, recover_dir, recover_fingerprint)
    return vertices
