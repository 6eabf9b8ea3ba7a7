"""Single-source shortest paths with reference semantics (SSSP.cu).

Bellman-Ford with frontier pruning:
- init: distance = INF except source = 0           (SSSP.cu:106-130)
- edge weights: initialized to 1 at runtime via an edgeMap over the
  universal set (SSSP.cu:90-103, SSSP.cu:131) — here `unit_weights=True`
  gathers ``distance + 1``, so no edge column is read; pass False to
  honor the edge table's weights (the general engine).
- gather: distance + weight                        (SSSP.cu:56-58)
- reduce: atomicMin -> F.min                       (SSSP.cu:60-63)
- cond: distance > accum                           (SSSP.cu:72-75)
- negative-cycle break at iterations == vertexCount (SSSP.cu:153-157).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from olive_spark.graph import Graph
from olive_spark.pregel import ACCUM, PregelProgram, PregelResult, pregel, edge, src

INF32 = 2147483647
INF_D = float("inf")


def _bellman_ford(graph: Graph, source: int, zero, inf, dtype: str, weight: Column,
                  max_iterations: int | None, **kwargs) -> PregelResult:
    """Frontier-pruned Bellman-Ford: gather ``distance + weight``, min-reduce,
    relax where the accumulator is shorter. Sets ``negative_cycle_suspected``
    when the frontier is still non-empty after |V| rounds."""
    bound = graph.vertex_count()
    if max_iterations is None:
        max_iterations = bound  # negative-cycle break (SSSP.cu:153-157)
    program = PregelProgram(
        init={
            "distance": F.when(F.col("id") == source, F.lit(zero))
            .otherwise(F.lit(inf)).cast(dtype),
            "_active": F.col("id") == source,
        },
        gather=src("distance") + weight,
        agg=F.min,
        update={"distance": ACCUM()},
        cond=F.col("distance") > ACCUM(),
        accum_default=None,
        full_frontier=False,
    )
    res = pregel(graph, program, max_iterations=max_iterations, **kwargs)
    # still-relaxing after |V| rounds == a negative cycle is reachable
    # (distinct from "stopped early by a caller-chosen iteration cap")
    res.negative_cycle_suspected = (not res.converged) and max_iterations >= bound
    return res


def sssp(graph: Graph, source: int, unit_weights: bool = True,
         max_iterations: int | None = None,
         checkpoint_store=None, checkpoint_every: int = 1,
         resume: bool = False) -> PregelResult:
    """Integer distances (unreached = INF32). The loop runs on ``graph``
    itself, so it shares the graph's memoized loop layout."""
    weight = F.lit(1) if unit_weights else edge("weight").cast("long")
    return _bellman_ford(graph, source, 0, INF32, "long", weight, max_iterations,
                         checkpoint_store=checkpoint_store,
                         checkpoint_every=checkpoint_every, resume=resume)


def sssp_weighted(graph: Graph, source: int,
                  max_iterations: int | None = None, **kwargs) -> PregelResult:
    """SSSP over real-valued (double) edge weights — the general engine
    path the reference's int distances (SSSP.cu:38-52) cannot express.
    Same Bellman-Ford frontier pruning; unreached = +Infinity.
    ``negative_cycle_suspected`` is set when the frontier is still
    non-empty after |V| rounds (only possible with negative weights)."""
    return _bellman_ford(graph, source, 0.0, INF_D, "double", edge("weight"),
                         max_iterations, **kwargs)
