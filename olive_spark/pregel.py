"""Pregel-style superstep core on DataFrames.

This is the Spark re-expression of the reference's entire compute API
(oliver.h:56-183):

- ``edgeMap``/``edgeFilter`` (gather along out-edges of the frontier,
  reduce into per-dst accumulators — oliver.h:56-141,
  oliverKernel.h:45-178) becomes::

      msgs = frontier_state  JOIN  edges ON state.id = edges.src
             SELECT edges.dst, gather_expr
      acc  = msgs.groupBy(dst).agg(reduce_agg)

  The groupBy's partial (map-side) aggregation is the built-in analogue
  of the reference's per-partition accumulate + message scatter
  (oliveKernel.h:67-106); the shuffle IS the outbox/inbox transfer
  (messageBox.h:90-105).

- ``vertexMap``/``vertexFilter`` (conditional state update + next
  frontier — oliver.h:92-170) becomes a left join of state with acc and
  ``when(cond, update)`` column expressions; the next frontier is the
  set of rows where ``cond`` held.

- ``vertexReduce`` (oliver.h:176-183) is the ``halt_agg`` aggregate
  Column, folded into the single per-superstep barrier action together
  with the snapshot materialization and the frontier count — exactly
  like the reference's D2H fold doubling as the superstep barrier.

Scale design:
- The edge table is cached hash-partitioned by ``src`` once (Graph);
  each superstep shuffles only the narrow vertex-state table.
- Small frontiers are broadcast (explicit ``F.broadcast`` hint) up to
  ``BROADCAST_THRESHOLD`` rows — the dense-frontier fast path
  (vertexSubset.h:87-95) and the north-rule "broadcast of hub
  frontiers". Above the threshold the state probes the cached
  src-partitioned edge table via a co-partitioned SHUFFLE_HASH join
  (zero exchange on either side). Threshold 100k (r6 A/B:
  at 500k full-frontier rows the per-superstep driver broadcast
  build costs ~25% of the superstep; at <=16k the two are at parity
  with a slight broadcast edge for sparse frontiers).
- Lineage is truncated every superstep via ``localCheckpoint`` (or a
  durable parquet checkpoint through ``CheckpointStore``), otherwise
  the logical plan grows per iteration and Catalyst analysis time
  dominates after ~30 supersteps.
- Skew: Tungsten partial aggregation pre-combines hub in-degree mass
  before the shuffle; AQE skew-join splits oversized partitions on the
  frontier-edges join (hub out-degree).
"""

from __future__ import annotations

import itertools
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, Row
from pyspark.sql import functions as F

from olive_spark.graph import Graph
from olive_spark.metrics import SuperstepMetricsCollector


@contextmanager
def stable_partitioning(spark, disable_aqe: bool = False,
                        shuffle_partitions: int | None = None):
    """Disable AQE partition coalescing — or AQE outright — for an
    iterative section.

    AQE's post-shuffle coalescing is right for one-shot queries but
    wrong inside a superstep loop: coalescing the message aggregation's
    output breaks the hash(id, P) co-partitioning between the vertex
    state and the accumulator, forcing an extra low-parallelism
    exchange of the state every superstep. Measured on the 64M-edge
    scaling workload: local[8] throughput +17% with coalescing off, and
    the 2->8-core speedup rises 2.18x -> 2.83x (BENCH.md).

    disable_aqe=True (round-6) turns AQE off entirely for the section.
    Rationale, measured in plans: a localCheckpoint taken while the
    query compiles under AQE records UNKNOWN output partitioning on its
    LogicalRDD (the physical root is an AdaptiveSparkPlan), so every
    superstep re-exchanged the V-row state side of the vertex-phase
    join; with AQE off at snapshot-planning time the hash(id, P)
    partitioning is preserved and the exchange disappears
    (plans/r06/*_superstep_after.txt). Inside the loop AQE had nothing
    left to offer anyway — both joins carry explicit broadcast /
    SHUFFLE_HASH hints, skew-join splitting cannot act on joins whose
    big side is a cached (never exchanged) scan, AQE does not split
    skewed aggregations, and its stage-by-stage re-planning adds
    per-superstep scheduling latency. One-shot queries (triangles,
    ingest) keep AQE on.

    The conf is session-global, so the section assumes one driver
    thread drives the session: a concurrent query on another thread
    would see the section's settings. However the section exits
    (normally or by an exception), every key it set is restored to its
    outer value; sections nest (e.g. ``Graph.degrees()`` inside a
    loop).
    """
    sets = {
        (
            "spark.sql.adaptive.enabled"
            if disable_aqe
            else "spark.sql.adaptive.coalescePartitions.enabled"
        ): "false"
    }
    if shuffle_partitions is not None:
        # pin the section's shuffle width to the loop graph's layout:
        # the message aggregate's exchange then lands co-partitioned
        # with the cached edge/state layout BY CONSTRUCTION instead of
        # by the session-conf coincidence shuffle.partitions == P
        # (r6; required for compact loop layouts, see Graph.loop_layout)
        sets["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    prev: dict[str, str | None] = {}
    for key, val in sets.items():
        try:
            prev[key] = spark.conf.get(key)
        except Exception:
            prev[key] = None
        spark.conf.set(key, val)
    try:
        yield
    finally:
        for key, v in prev.items():
            if v is not None:
                spark.conf.set(key, v)


def src(name: str) -> Column:
    """Reference a source-vertex state column inside a gather expression.

    Mirrors the ``srcValue`` argument of the reference gather hook
    (oliverKernel.h:77, README.md:75-82). ``src("outdeg")`` is the
    out-degree (oliverKernel.h:71-73).
    """
    return F.col(f"s.{name}")


def edge(name: str = "weight") -> Column:
    """Reference an edge column inside a gather expression (EdgeValue)."""
    return F.col(f"e.{name}")


def ACCUM() -> Column:
    """The per-vertex accumulator column inside update/cond expressions
    (the reference's ``AccumValue`` argument, BFS.cu:63-64). A function,
    not a constant: classic PySpark cannot build Columns before a
    SparkContext exists."""
    return F.col("accum")


@dataclass
class PregelProgram:
    """The four user hooks of the reference functor contract (SURVEY.md §2.5).

    init:   state column name -> init expression over the vertex table
            (may use ``F.col("id")`` and ``F.col("outdeg")``).
    gather: Column over the joined (frontier-state ⋈ edges) row; use
            ``src("col")`` for source state, ``edge()`` for edge weight.
            [gather hook — e.g. rank/outdeg, PageRank.cu:53-55]
    agg:    aggregate over the gathered column — F.sum / F.min / F.max,
            or label propagation's ``F.mode(g, True)``. Must be
            mergeable map-side, like the reference's atomic reduce
            (README.md:73). BFS's benign-race overwrite (BFS.cu:52-55)
            is expressed deterministically as F.min.
    update: state column name -> new-value expression over
            (old state columns, ``ACCUM``). [update hook, BFS.cu:63-64]
    cond:   gate Column over (old state, ``ACCUM``); rows failing it
            keep their state and stay out of the next frontier.
            [cond hook — e.g. level == INF, BFS.cu:66-69]
    accum_default: value coalesced into ``accum`` for vertices that
            received no message (the reference resets accumulators to a
            default before each gather, oliver.h:66/127/186). When None,
            ``cond`` is automatically ANDed with ``accum IS NOT NULL``.
    full_frontier: True = every superstep processes all vertices
            (PageRank's universal VertexSubset, PageRank.cu:114);
            False = frontier-driven (BFS/SSSP/CC).
    halt_agg / halt_pred: folded convergence check (vertexReduce +
            epsilon test, PageRank.cu:126-127). ``halt_agg`` is an
            aggregate Column over the NEW state (e.g.
            ``F.sum(F.abs(F.col("delta")))``); it is computed INSIDE
            the single per-superstep barrier action (the same job that
            materializes the state snapshot and counts the frontier),
            so convergence checking costs zero extra jobs.
            ``halt_pred(value, superstep) -> True`` stops the loop.
    """

    init: dict[str, Column]
    gather: Column
    agg: Callable[[Column], Column]
    update: dict[str, Column]
    cond: Column | None = None
    accum_default: Any = None
    full_frontier: bool = False
    halt_agg: Column | None = None
    halt_pred: Callable[[Any, int], bool] | None = None


class _LazyMetricsList(list):
    """Per-superstep metrics whose shuffle/comp fields are filled from
    the AppStatusStore on FIRST READ instead of inside the loop.

    Rationale (r6, measured): each in-loop ``collect()`` costs ~40-80ms
    of driver-side py4j round trips (~8 accessor calls per stage across
    the superstep's jobs), i.e. ~0.6s of a 10-superstep PageRank whose
    whole gated median is ~4s — pure critical-path overhead for fields
    most callers (the bench, entry queries) never read. The job tags
    are still applied per superstep during the loop (a free
    driver-local property), so the deferred store read returns the
    exact same numbers; only WHEN they are read moves. ``superstep`` /
    ``ms`` / ``active`` / ``compiles`` stay eagerly recorded in the loop.

    Caveat (documented best-effort contract of metrics.py): the
    AppStatusStore retains a bounded number of jobs/stages (Spark
    defaults: 1000 each); reading ``.metrics`` only after thousands of
    further jobs may find evicted stages and degrade to absent fields —
    same degradation mode the inline path already had for listener-bus
    races. The durable-checkpoint path still collects inline because
    ``CheckpointStore.log_superstep`` persists the fields per superstep.
    """

    def __init__(self, steps, collector):
        super().__init__(steps)
        self._collector = collector

    def _fill(self):
        c = self._collector
        if c is None:
            return
        self._collector = None
        for m in list.__iter__(self):
            m.update(c.collect(m["superstep"]))

    def __iter__(self):
        self._fill()
        return list.__iter__(self)

    def __getitem__(self, i):
        self._fill()
        return list.__getitem__(self, i)

    def __len__(self):
        self._fill()
        return list.__len__(self)


@dataclass
class PregelResult:
    """Result of :func:`run_loop` (and so of :func:`pregel`)."""

    state: DataFrame  # (id, *state_cols)
    supersteps: int
    metrics: list[dict] = field(default_factory=list)
    converged: bool = True
    # SSSP only: loop hit the |V|-iteration Bellman-Ford bound with a
    # non-empty frontier — the reference's negative-cycle break
    # (SSSP.cu:153-157), surfaced explicitly instead of just
    # converged=False.
    negative_cycle_suspected: bool = False

    # count of _free_checkpoint calls whose unpersist raised and was
    # swallowed (best-effort cleanup) — nonzero means superseded
    # snapshots may still be resident, i.e. the O(1)-snapshot claim is
    # at risk; surfaced so an RDD-leak regression is observable.
    free_failures: int = 0

    # the raw checkpointed snapshot behind `state` (which is a projection)
    _raw_state: DataFrame | None = None

    def free(self) -> None:
        """Release the final state snapshot's storage (call after the
        caller has consumed/written `state`)."""
        if not _free_checkpoint(self._raw_state or self.state):
            self.free_failures += 1


#: frontier-driven programs broadcast the active state up to this many
#: rows; above it the state probes the edges by a shuffled-hash join
#: (r6 A/B: OPTIMIZATION_r06.md)
BROADCAST_THRESHOLD = 100_000

#: per-run_loop-invocation counter feeding the job-tag prefix: id(graph)
#: alone can be reused and would fold one run's jobs into another's metrics
_RUN_COUNTER = itertools.count()


def _free_checkpoint(df: DataFrame | None) -> bool:
    """Unpersist the RDD behind a localCheckpointed DataFrame.

    localCheckpoint stores partitions at MEMORY_AND_DISK and only frees
    them when the JVM RDD is garbage-collected — in a superstep loop
    that lags far behind allocation (observed: GC-thrash and 2-3x
    superstep-time degradation at 32M edges). Freeing the superseded
    snapshot explicitly keeps resident state at O(1) snapshots.

    Returns False when the unpersist raised and was swallowed (cleanup
    is best-effort and never fails the loop, but callers count the
    failures into PregelResult so a leak regression is observable).
    """
    if df is None:
        return True
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            plan.rdd().unpersist(False)
        return True
    except Exception:
        return False  # best effort — never fail the loop over cleanup


def _uses_outdeg(program: PregelProgram) -> bool:
    """True when any program expression references the ``outdeg`` column.

    Detection is textual over the Column trees' string forms: a Column
    that references ``outdeg`` always prints the name, so false
    negatives are impossible; a user state column merely *containing*
    the substring keeps the degree column (safe direction). Programs
    that never touch degrees (BFS/CC/SSSP/label propagation) then skip
    the whole degree aggregation — one groupBy over E + join + cache —
    and drop a dead long column from every per-superstep snapshot and
    shuffle (guide §2.3: shuffle fewer bytes / don't compute what you
    throw away).
    """
    exprs: list[Any] = list(program.init.values())
    exprs.append(program.gather)
    exprs.extend(program.update.values())
    if program.cond is not None:
        exprs.append(program.cond)
    if program.halt_agg is not None:
        exprs.append(program.halt_agg)
    return any("outdeg" in str(e) for e in exprs)


def _init_state(
    graph: Graph,
    program: PregelProgram,
    vertex_attrs: DataFrame | None = None,
    with_outdeg: bool = True,
) -> DataFrame:
    """state = vertices [⋈ degrees] + init columns (vertexMap init,
    PageRank.cu:77-87 / BFS.cu:101-109).

    vertex_attrs: optional (id, *attr) DataFrame broadcast-left-joined
    into the init base so init expressions can reference per-vertex
    static attributes (seed membership, priors, weights) without plan
    literals — the scale-safe alternative to an `isin([...])` list for
    10^5+ seed sets. Attr columns not captured by an init expression
    are dropped from the state.

    with_outdeg=False (program never references degrees) builds from
    the cached vertex table directly — no degree aggregation, no
    ``outdeg`` column in the state. Both bases are cached DataFrames
    hash-partitioned by ``id`` into ``graph.num_partitions``, so the
    state inherits the co-partitioning the vertex-phase join relies on.
    """
    base = graph.degrees() if with_outdeg else graph.vertices
    if vertex_attrs is not None:
        base = base.join(F.broadcast(vertex_attrs), "id", "left")
    cols = [F.col("id")] + ([F.col("outdeg")] if with_outdeg else [])
    cols += [expr.alias(name) for name, expr in program.init.items()]
    return base.select(*cols)


def _prepare_superstep_exprs(
    program: PregelProgram,
    state_cols: list[str],
    with_outdeg: bool,
) -> dict:
    """Loop-invariant Column trees for ``_build_superstep``, built ONCE
    per pregel invocation (r6).

    Rationale (measured): constructing the superstep DataFrame costs
    ~85ms of driver-side py4j round trips (~50 Column/DataFrame calls)
    on a ~0.4s superstep — pure fixed overhead repeated every
    superstep. Columns are immutable unresolved expression trees, so
    building them once and reusing them across supersteps is safe (the
    ``program.gather`` expression was already reused this way); only
    the DataFrame operators (join/select/groupBy) must be re-applied
    per superstep.

    The vertex phase is also restructured from three projections
    (withColumn accum → withColumn _upd → select) to two selects with
    the update gate inlined — fewer py4j calls and fewer analysis
    nodes; the optimizer collapsed the adjacent Projects anyway
    (CollapseProject), so the executed plan is unchanged.
    """
    join_cond = F.col("s.id") == F.col("e.src")
    msg_cols = [F.col("e.dst").alias("id"), program.gather.alias("g")]
    agg_col = program.agg(F.col("g")).alias("accum")

    # post-join projection: old state + the (possibly defaulted) accum.
    # The superseded `_active` is NOT carried: the new frontier flag is
    # recomputed below, and programs cannot reference the internal
    # `_active` column in their hooks.
    accum = F.col("accum")
    if program.accum_default is not None:
        accum = F.coalesce(accum, F.lit(program.accum_default))
    base = ["id"] + (["outdeg"] if with_outdeg else [])
    carried = [c for c in state_cols if c != "_active"]
    post_join_cols = [F.col(c) for c in base + carried] + [accum.alias("accum")]

    cond = program.cond
    if cond is None:
        cond = F.lit(True)
    if program.accum_default is None:
        cond = cond & F.col("accum").isNotNull()

    final_cols = [F.col("id")] + ([F.col("outdeg")] if with_outdeg else [])
    for name in state_cols:
        if name == "_active":
            # next frontier = rows the cond admits this superstep
            final_cols.append(cond.alias("_active"))
            continue
        expr = program.update.get(name)
        if expr is None:
            final_cols.append(F.col(name))
        else:
            final_cols.append(
                F.when(cond, expr).otherwise(F.col(name)).alias(name)
            )
    return {
        "join_cond": join_cond,
        "msg_cols": msg_cols,
        "agg_col": agg_col,
        "post_join_cols": post_join_cols,
        "final_cols": final_cols,
    }


def _build_superstep(
    edges: DataFrame,
    state: DataFrame,
    program: PregelProgram,
    exprs: dict,
    frontier_size: int,
) -> DataFrame:
    """One superstep's edge phase + vertex phase as a lazy DataFrame.

    ``exprs`` is the loop-invariant Column set built once per run by
    _prepare_superstep_exprs.

    Join-strategy policy (measured, see BENCH.md): the active-state
    side is broadcast while small (dense-frontier fast path); above
    ``BROADCAST_THRESHOLD`` it is SHUFFLE_HASH — built per-partition in
    parallel against the cached src-partitioned edge table, which
    then needs neither an exchange nor a sort. A driver-side
    broadcast build of multi-million-row state is serial and caps
    scaling (Amdahl) — never let Catalyst pick it implicitly here.
    """
    # ---- edge phase: gather + reduce --------------------------------
    # Full-frontier programs ALWAYS take the co-partitioned
    # shuffled-hash probe: the state snapshot carries hash(id, P)
    # (AQE-off loops, r6) and the edge cache hash(src, P), so the join
    # needs zero exchange on either side, while a driver broadcast
    # build is serial per superstep (r6 A/B: shuffle-hash wins at 500k
    # rows by ~25% AND at 16k rows by ~10%). Frontier-driven programs
    # keep the broadcast fast path for small frontiers (measured
    # parity-to-slight-edge for sparse BFS frontiers).
    if program.full_frontier:
        act_hinted = state.hint("shuffle_hash")
    else:
        act = state.filter(F.col("_active"))
        act_hinted = (
            F.broadcast(act)
            if frontier_size <= BROADCAST_THRESHOLD
            else act.hint("shuffle_hash")
        )
    j = act_hinted.alias("s").join(edges.alias("e"), exprs["join_cond"])
    acc = j.select(*exprs["msg_cols"]).groupBy("id").agg(exprs["agg_col"])

    # ---- vertex phase: conditional update ---------------------------
    # acc is at most V rows; shuffle-hash build on it avoids sorting
    # both sides every superstep.
    joined = state.join(acc.hint("shuffle_hash"), "id", "left")
    return joined.select(*exprs["post_join_cols"]).select(*exprs["final_cols"])


def run_loop(
    graph: Graph,
    init: Callable[[Graph], DataFrame | None],
    step: Callable[..., DataFrame],
    barrier: list[Column],
    stop: Callable[[Row, Row | None, int], bool],
    max_steps: int,
    checkpoint_store=None,
    resume: bool = False,
    checkpoint_every: int = 1,
) -> PregelResult:
    """The one superstep loop every iterative algorithm runs through
    (the driver-side while of PageRank.cu:122-133; Oliver's
    edgeMap/vertexMap/vertexReduce skeleton, oliver.h:56-183, once).

    The caller supplies only its own parts:

    - ``init(g) -> state``: the initial state over the loop graph ``g``
      (or None when the first step builds its input itself);
    - ``step(g, state, row, snap) -> new_state``: one superstep as a
      lazy DataFrame. ``row`` is the previous barrier row; ``snap(df)``
      returns a lazy snapshot of an intermediate the step reuses, freed
      together with the step's state once the next step supersedes it;
    - ``barrier``: aggregate Columns over the new state, evaluated in
      the step's ONE action (a column aliased ``active`` is recorded as
      the step's ``active`` count);
    - ``stop(row, prev_row, n) -> bool``: convergence after step ``n``.

    The core owns everything else: the scale-adaptive loop layout
    (``graph.loop_layout()``); the AQE-off ``stable_partitioning`` scope
    pinned to the layout's partition count, so every snapshot keeps its
    hash(id, P) partitioning; the lazy ``localCheckpoint`` per step, or
    with ``checkpoint_store`` a durable checkpoint every
    ``checkpoint_every`` steps (``resume=True`` continues from the
    store's latest committed step, and stops at once if ``stop`` holds
    there); the single barrier action, which also materializes the
    snapshots; on a durable step that action is the snapshot write
    itself, with the barrier folded in as observed metrics
    (``DataFrame.observe``, so no distinct aggregates) and its row read
    once the write has returned: one job per durable step, no re-scan
    of the written snapshot (the resume load still runs an aggregate
    over it); freeing the superseded snapshots (failures counted in
    ``free_failures``); and per-step job tags with one metrics record
    per step ({superstep, ms, active, compiles} plus the stage totals of
    the step's jobs, read lazily — see _LazyMetricsList — or inline on
    the durable path, where ``CheckpointStore.log_superstep`` persists
    them). ``compiles`` is the change over the step in the JVM's count
    of generated classes compiled (one py4j read per step, no job); 0
    once the step's plan is in Spark's codegen class cache. Like the
    conf scope, it assumes one driver thread drives the session: the
    count is JVM-wide, so another thread's queries would be counted too.

    The initial state is snapshotted and passed through the barrier
    too (one job), so step 1 sees ``row`` of the init state. The
    returned ``state`` is the last snapshot itself.
    """
    graph = graph.loop_layout()
    spark = graph.edges.sparkSession
    collector = SuperstepMetricsCollector(
        spark, prefix=f"olive-loop-r{next(_RUN_COUNTER)}-"
    )
    with stable_partitioning(spark, disable_aqe=True,
                             shuffle_partitions=graph.num_partitions), collector:
        n, row = 0, None
        last = checkpoint_store.latest_superstep() if resume and checkpoint_store else None
        if last is not None:
            state, _ = checkpoint_store.load(last)
            n, row = last, state.agg(*barrier).first()
            if stop(row, None, n):
                return PregelResult(state=state, supersteps=n)
        else:
            state = init(graph)
            if state is not None:
                state = state.localCheckpoint(eager=False)
                row = state.agg(*barrier).first()

        metrics: list[dict] = []
        converged = False
        free_failures = 0
        live = [state]  # snapshots the current state is built from
        fresh: list[DataFrame] = []

        def snap(df: DataFrame) -> DataFrame:
            df = df.localCheckpoint(eager=False)
            fresh.append(df)
            return df

        compiled = collector.compile_count()
        while n < max_steps:
            t0 = time.monotonic()
            n += 1
            # every job this step submits carries this step's tag
            collector.tag(n)
            new_state = step(graph, state, row, snap)
            # ---- the ONE action per step: materializes the snapshot(s)
            # and folds the barrier aggregates in the same job (the
            # reference's barrier + D2H vertexReduce fold,
            # oliver.h:176-183)
            durable = checkpoint_store is not None and n % checkpoint_every == 0
            if durable:
                # the parquet write is the action; the barrier rides in
                # it as observed metrics, complete once the write returns
                obs = Observation()
                new_state, _ = checkpoint_store.checkpoint(
                    n, new_state.observe(obs, *barrier), None)
                prev, row = row, Row(**obs.get)
            else:
                new_state = new_state.localCheckpoint(eager=False)
                prev, row = row, new_state.agg(*barrier).first()
            fresh.append(new_state)
            # the superseded snapshots are no longer referenced
            free_failures += sum(not _free_checkpoint(df) for df in live)
            live, fresh, state = fresh, [], new_state
            converged = stop(row, prev, n)
            count = collector.compile_count()
            record = {
                "superstep": n,
                "ms": None,
                "active": int(row["active"] or 0) if "active" in row.__fields__ else None,
                "compiles": None if None in (count, compiled) else count - compiled,
            }
            compiled = count
            if checkpoint_store is not None:
                record.update(collector.collect(n))
            record["ms"] = (time.monotonic() - t0) * 1000.0
            metrics.append(record)
            if durable:
                checkpoint_store.log_superstep(record)
            if converged:
                break

    if checkpoint_store is None:
        metrics = _LazyMetricsList(metrics, collector)
    return PregelResult(
        state=state,
        supersteps=n,
        metrics=metrics,
        converged=converged,
        free_failures=free_failures,
    )


def pregel(
    graph: Graph,
    program: PregelProgram,
    max_iterations: int = 100,
    checkpoint_store=None,
    checkpoint_every: int = 1,
    resume: bool = False,
    vertex_attrs: DataFrame | None = None,
) -> PregelResult:
    """Run ``program`` through :func:`run_loop`.

    checkpoint_store: optional olive_spark.checkpoint.CheckpointStore —
    when given, state+frontier are durably checkpointed every
    ``checkpoint_every`` supersteps with per-partition lineage metrics
    (north rule); otherwise lineage is truncated with localCheckpoint.
    resume=True picks up from the store's latest committed superstep —
    a resumed run is bit-identical to a straight run (tested).
    vertex_attrs: optional static per-vertex attribute DataFrame
    broadcast-joined into the init base (see _init_state).
    """
    state_cols = list(program.init.keys())
    with_outdeg = _uses_outdeg(program)
    frontier_driven = not program.full_frontier
    # The frontier lives IN the state as the `_active` boolean column
    # (seeded by an `_active` init expression, else all-active). Keeping
    # it in-row instead of as a separate DataFrame lets ONE action per
    # superstep materialize the snapshot, count the frontier, and
    # evaluate halt_agg — r1 spent three jobs (state checkpoint,
    # frontier checkpoint, frontier count) on the same barrier, and that
    # fixed ~0.5s/superstep overhead capped raw scaling efficiency.
    if frontier_driven and "_active" not in state_cols:
        state_cols.append("_active")

    def init(g: Graph) -> DataFrame:
        # No repartition: the init base (cached degrees or vertex table)
        # is already hash(id, num_partitions)-partitioned, narrow
        # projections and the broadcast attr join preserve that, and the
        # snapshot records it (guide §2.4: remove shuffles the data's
        # existing partitioning already provides).
        state = _init_state(g, program, vertex_attrs, with_outdeg=with_outdeg)
        if frontier_driven and "_active" not in program.init:
            state = state.withColumn("_active", F.lit(True))
        return state

    # loop-invariant Column trees, built once (r6: the per-superstep
    # py4j construction was ~85ms of a ~0.4s superstep)
    exprs = _prepare_superstep_exprs(program, state_cols, with_outdeg)

    def step(g: Graph, state: DataFrame, row: Row, _snap) -> DataFrame:
        frontier_size = int(row["active"] or 0) if frontier_driven else 0
        return _build_superstep(g.edges, state, program, exprs, frontier_size)

    barrier: list[Column] = []
    if frontier_driven:
        barrier.append(F.sum(F.col("_active").cast("long")).alias("active"))
    if program.halt_agg is not None:
        barrier.append(program.halt_agg.alias("_halt"))
    if not barrier:
        barrier.append(F.count(F.lit(1)).alias("_n"))

    def stop(row: Row, _prev, n: int) -> bool:
        if frontier_driven and not row["active"]:
            return True
        return (program.halt_agg is not None and program.halt_pred is not None
                and program.halt_pred(row["_halt"], n))

    res = run_loop(graph, init, step, barrier, stop, max_iterations,
                   checkpoint_store=checkpoint_store, resume=resume,
                   checkpoint_every=checkpoint_every)
    res._raw_state = res.state
    res.state = res.state.select("id", *[c for c in state_cols if c != "_active"])
    return res

