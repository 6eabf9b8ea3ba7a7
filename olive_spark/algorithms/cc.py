"""Connected components via min-label propagation (north rule).

Not in the reference repo, but it is the identical operator skeleton as
BFS/SSSP (SSSP.cu:54-76 with `label` for `distance` — SURVEY.md §7 M1):
- closure: undirected (edges ∪ reversed), FIXTURES.md cc_out
- init: label = id, all vertices active
- gather: src.label            reduce: min     cond: accum < label
- terminate on empty frontier -> label = min id reachable = component.

Converges in O(diameter) supersteps. For high-diameter graphs at scale,
pair with the large-star/small-star contraction variant (future work);
the frontier shrinks monotonically so late supersteps broadcast tiny
frontiers against the cached edge table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from olive_spark.graph import Graph
from olive_spark.pregel import ACCUM, PregelProgram, PregelResult, pregel, run_loop, src


def connected_components(
    graph: Graph,
    max_iterations: int | None = None,
    checkpoint_store=None,
    checkpoint_every: int = 1,
    resume: bool = False,
) -> PregelResult:
    """Min-label components; ``max_iterations=k`` stops after k
    synchronous rounds with the same labels as k full-frontier rounds
    (``oracle.cc_min_label_fixed``): a vertex whose label did not change
    has nothing new to send."""
    g = graph.symmetrized()
    if max_iterations is None:
        max_iterations = graph.vertex_count() + 1
    program = PregelProgram(
        init={"component": F.col("id")},
        gather=src("component"),
        agg=F.min,
        update={"component": ACCUM()},
        cond=ACCUM() < F.col("component"),
        accum_default=None,
        full_frontier=False,
    )
    # NOTE: the symmetrized closure is memoized on `graph` (shared with
    # label propagation etc.); graph.unpersist() releases it. A
    # two-probe alternative (forward cache + reversed layout, messages
    # unioned — message-multiset-identical, half the one-time layout
    # exchange) was A/B'd in r6 and REJECTED: the doubled probe stages
    # cost ~+0.4s/superstep at bench scale, far exceeding the one-time
    # saving (OPTIMIZATION_r06.md "rejected").
    return pregel(g, program, max_iterations=max_iterations,
                  checkpoint_store=checkpoint_store, checkpoint_every=checkpoint_every,
                  resume=resume)


def connected_components_stars(
    graph: Graph,
    max_rounds: int = 50,
    round_metrics: list | None = None,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    contraction — O(log n) rounds instead of O(diameter) supersteps.

    The min-label propagation above needs one superstep per hop of the
    component diameter (a 10^6-vertex chain needs 10^6 supersteps); this
    is the standard MapReduce-style cure (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): each round every
    vertex links its larger (resp. not-larger) neighbors directly to its
    minimum neighbor, halving path lengths geometrically until the edge
    set is a star forest rooted at component minima.

    Per round: two groupBy(u).min + join passes over the (shrinking)
    edge set. The round loop is :func:`olive_spark.pregel.run_loop`
    over the canonical edge set; convergence is detected by an
    order-insensitive checksum of the edge multiset, folded into the
    round's one barrier action.

    Returns a snapshot (id, component) — exact, same contract as
    `connected_components(...).state`, and like it a materialized
    ``localCheckpoint``: a caller that joins it back to tables sharing
    scans with ``graph`` (``dedup_clusters`` joins it to the corpus its
    pairs came from) gets no lineage re-run of the loop's input.

    round_metrics: optional caller-supplied list; one dict per
    contraction round is appended ({round, edges, ms}) so scale runs
    can record the O(log n) convergence directly (the per-round edge
    count comes from the convergence checksum — no extra job).
    """
    def canonical(df: DataFrame, p: int) -> DataFrame:
        # undirected pairs as (u > v), deduplicated, partitioned by u:
        # the small-star input convention
        return (
            df.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
            .repartition(p, "u")
        )

    def init(g: Graph) -> DataFrame:
        e = g.edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        return canonical(e.filter(F.col("u") != F.col("v")), g.num_partitions)

    def large_star(df: DataFrame) -> DataFrame:
        # neighborhoods over BOTH directions; connect strictly-larger
        # neighbors to min(N(u) ∪ {u})
        sym = df.unionByName(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
        out = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        return out.filter(F.col("u") != F.col("v")).distinct()

    def small_star(df: DataFrame) -> DataFrame:
        # df is canonical (u > v): neighbors-not-larger of u are exactly
        # the v's; connect them (and u) to the minimum
        mins = df.groupBy("u").agg(F.min("v").alias("m"))
        nbrs = df.join(mins, "u").filter(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        selfe = mins.select("u", F.col("m").alias("v"))
        out = nbrs.unionByName(selfe)
        return out.filter(F.col("u") != F.col("v")).distinct()

    def step(g: Graph, edges: DataFrame, _row, _snap) -> DataFrame:
        ls = large_star(edges)
        ss = small_star(
            ls.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")).distinct()
        )
        return canonical(ss, g.num_partitions)

    res = run_loop(
        graph, init, step,
        [F.count("*").alias("active"),
         F.sum(F.xxhash64("u", "v") % F.lit(1_000_000_007)).alias("h")],
        lambda row, prev, _n: row == prev, max_rounds,
    )
    if round_metrics is not None:
        round_metrics.extend(
            {"round": m["superstep"], "edges": m["active"], "ms": round(m["ms"], 1)}
            for m in res.metrics
        )

    # star forest: every u points at its root v; isolated vertices map to self
    roots = res.state.groupBy("u").agg(F.min("v").alias("component")).select(
        F.col("u").alias("id"), "component"
    )
    return (
        graph.vertices.join(roots, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
        .localCheckpoint(eager=True)
    )
