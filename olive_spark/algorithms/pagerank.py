"""PageRank with exact reference semantics (PageRank.cu).

- init: rank = delta = 1/N                       (PR_init_F, PageRank.cu:77-87)
- gather: rank/outdegree per out-edge            (PR_edge_F, PageRank.cu:53-55)
- reduce: sum (atomicAdd)                        (PageRank.cu:57-60)
- update: new = 0.85*accum + 0.15/N; delta       (PR_vertex_F, PageRank.cu:63-75)
- halt: sum(|delta|) < 1e-7, max 100 rounds      (PageRank.cu:106-108,126-127)
- NO dangling redistribution: sinks contribute nothing, ranks need not
  sum to 1 (testPageRank.cu:79-85; SURVEY.md §1.4) — replicated here.
- duplicate edges counted multiply (no dedup in csrGraph.h:106-171).

Scale: full-frontier program — every superstep is
state ⋈ edges (edges cached, pre-partitioned by src; only the narrow
(id, rank) side shuffles) → groupBy(dst).sum (map-side partial agg
pre-combines hub in-degree mass) → withColumn update → ONE action that
both materializes the snapshot and folds the convergence err (the
superstep barrier + vertexReduce, oliver.h:176-183, fused).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from olive_spark.graph import Graph
from olive_spark.pregel import ACCUM, PregelProgram, PregelResult, edge, pregel, src


def _rank_program(
    gather: Column,
    rank0: Column,
    teleport: Column,
    damping: float,
    epsilon: float | None,
    static: dict[str, Column] | None = None,
) -> PregelProgram:
    """The one PageRank program: rank starts at ``rank0`` and becomes
    ``damping * accum + teleport`` (PR_vertex_F, PageRank.cu:63-75);
    ``static`` columns are set once and carried unchanged.

    delta exists only to drive convergence (PR_vertex_F records it for
    the vertexReduce fold, PageRank.cu:69-74). With epsilon=None
    (fixed-round/bench runs) it is dead state: dropping it narrows the
    per-superstep snapshot — the V-proportional weakly-scaling term —
    by one double column and one subtraction per row. With epsilon,
    err = sum|delta| < eps is evaluated inside the superstep barrier
    action (zero extra jobs) — the reference's vertexReduce fold
    (PageRank.cu:126-127).
    """
    new_rank = F.lit(damping) * ACCUM() + teleport
    init = {**(static or {}), "rank": rank0}
    update = {"rank": new_rank}
    halt_agg = halt_pred = None
    if epsilon is not None:
        init["delta"] = rank0
        update["delta"] = new_rank - F.col("rank")
        halt_agg = F.sum(F.abs(F.col("delta")))

        def halt_pred(err, _step):
            return err is not None and err < epsilon
    return PregelProgram(
        init=init,
        gather=gather,
        agg=F.sum,
        update=update,
        cond=None,
        accum_default=0.0,  # vertices with no in-edges gather 0 (oliver.h:127)
        full_frontier=True,
        halt_agg=halt_agg,
        halt_pred=halt_pred,
    )


def pagerank(
    graph: Graph,
    damping: float = 0.85,
    epsilon: float | None = 1e-7,
    max_iterations: int = 100,
    checkpoint_store=None,
    checkpoint_every: int = 1,
    resume: bool = False,
) -> PregelResult:
    one_over_n = 1.0 / graph.vertex_count()
    program = _rank_program(
        src("rank") / src("outdeg"), F.lit(one_over_n),
        F.lit((1.0 - damping) * one_over_n), damping, epsilon,
    )
    return pregel(
        graph,
        program,
        max_iterations=max_iterations,
        checkpoint_store=checkpoint_store,
        checkpoint_every=checkpoint_every,
        resume=resume,
    )


def pagerank_fixed(graph: Graph, iterations: int, damping: float = 0.85) -> PregelResult:
    """Exactly `iterations` supersteps, no convergence action — used for
    oracle-parity runs and benchmarking steady-state superstep cost."""
    return pagerank(graph, damping=damping, epsilon=None, max_iterations=iterations)


#: seed lists at or below this size are inlined as an `isin` literal
#: (cheapest: no extra scan or broadcast build); above it, or for a
#: DataFrame seed set, a broadcast semi-join supplies the pref column so
#: a 10^5+ seed set never bloats the plan or analysis time.
PPR_SEED_LITERAL_MAX = 1000


def personalized_pagerank(
    graph: Graph,
    sources,
    damping: float = 0.85,
    epsilon: float | None = 1e-7,
    max_iterations: int = 100,
    **kwargs,
) -> PregelResult:
    """PageRank with teleport restricted to a source set (random walk
    with restart): rank = d * gathered + (1-d) * pref(v), where
    pref(v) = 1/|S| for v in sources, else 0.

    ``sources`` is a Python list of vertex ids OR a DataFrame with an
    ``id`` column (deduplicated here either way). Small lists become an
    `isin` literal; large lists and DataFrames become a broadcast
    left join in the init base (pregel's ``vertex_attrs`` hook) — same
    semantics, no plan literals at any seed cardinality.

    Same plan shape and cost as global PageRank — the preference vector
    is one extra static DOUBLE column in the vertex state (no extra
    per-superstep join or shuffle). This is the standard
    seeded-relevance query over a link graph (e.g. ranking pages
    relative to a trusted seed set); the reference's PageRank app
    generalizes to it by changing only the init/update constants
    (PageRank.cu:77-87,63-75).
    """
    seed_df = None
    if isinstance(sources, DataFrame):
        seed_df = sources.select(F.col("id").cast("long").alias("id")).distinct()
        n_seeds = seed_df.count()  # one tiny job on the (small) seed side
    else:
        srcs = sorted(set(int(s) for s in sources))
        n_seeds = len(srcs)
        if n_seeds > PPR_SEED_LITERAL_MAX:
            seed_df = graph.edges.sparkSession.createDataFrame(
                [(s,) for s in srcs], schema="id long"
            )
    if n_seeds == 0:
        raise ValueError("sources must be non-empty")
    pref = 1.0 / n_seeds
    vertex_attrs = None
    if seed_df is None:
        is_seed = F.col("id").isin(srcs)
    else:
        vertex_attrs = seed_df.withColumn("_is_seed", F.lit(True))
        is_seed = F.coalesce(F.col("_is_seed"), F.lit(False))
    pref_expr = F.when(is_seed, F.lit(pref)).otherwise(F.lit(0.0))

    program = _rank_program(
        src("rank") / src("outdeg"), pref_expr,
        F.lit(1.0 - damping) * F.col("pref"), damping, epsilon,
        static={"pref": pref_expr},
    )
    return pregel(
        graph,
        program,
        max_iterations=max_iterations,
        vertex_attrs=vertex_attrs,
        **kwargs,
    )


def weighted_pagerank(
    graph: Graph,
    damping: float = 0.85,
    epsilon: float | None = 1e-7,
    max_iterations: int = 100,
    **kwargs,
) -> PregelResult:
    """PageRank with edge-weight-proportional mass splitting:
    gather = rank * w / sum(out-weights of src).

    The reference parses but discards edge weights (csrGraph.h:139);
    this is the natural weighted generalization for a link graph where
    edges carry link multiplicity or trust weights. Implemented by
    normalizing the edge weights ONCE (one join, cached) so the
    superstep gather is `rank * weight` — same plan shape and cost as
    unweighted PageRank.
    """
    wdeg = graph.edges.groupBy("src").agg(F.sum("weight").alias("wdeg"))
    norm_edges = (
        # SHUFFLE_HASH hint: both sides are hash(src, P) so the join is
        # co-partitioned either way, but unhinted the planner may pick
        # sort-merge, which would sort the E-row side now that the edge
        # cache is unsorted (r6) — hash-build on the V-row wdeg side
        # keeps the layout build exchange- and sort-free.
        graph.edges.join(wdeg.hint("shuffle_hash"), "src")
        .select("src", "dst", (F.col("weight") / F.col("wdeg")).alias("weight"))
        # the parent edge cache is already hash(src, P): the wdeg join
        # is co-partitioned and its output keeps that partitioning, so
        # cache the normalized layout directly — no repartition, and no
        # re-partition/re-cache of the shared vertex table (r6; the old
        # path went through Graph.from_edges and paid both)
        .cache()
    )
    g = Graph(
        vertices=graph.vertices,
        edges=norm_edges,
        num_partitions=graph.num_partitions,
        _vertex_count=graph._vertex_count,
        _edge_count=graph._edge_count,
    )
    one_over_n = 1.0 / g.vertex_count()
    program = _rank_program(
        src("rank") * edge("weight"), F.lit(one_over_n),
        F.lit((1.0 - damping) * one_over_n), damping, epsilon,
    )
    res = pregel(g, program, max_iterations=max_iterations, **kwargs)
    # release only the normalized edge layout (and any compact loop
    # layout pregel memoized on this per-call wrapper) — the vertex
    # table is the parent graph's shared cache
    norm_edges.unpersist()
    if g._compact is not None:
        g._compact.unpersist()
        g._compact = None
    return res
