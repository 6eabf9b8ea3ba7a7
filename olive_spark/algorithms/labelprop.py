"""Synchronous label propagation (community detection flavor).

Not in the reference repo; included per the north rule. Same
edge-phase/vertex-phase skeleton as the other apps, but the reduce is a
frequency-argmax, expressed as ONE built-in aggregate (r6):

    msgs(id, g) -> groupBy(id).agg(mode(g, deterministic=True))

``mode(col, True)`` is Spark's typed-imperative frequency-argmax whose
tie-break (greatest frequency, then LOWEST value) is exactly this
algorithm's contract: higher count wins; equal counts -> smallest
label. With a fixed iteration count the algorithm is fully
deterministic (synchronous updates, no RNG), matching
olive_spark.oracle.label_propagation.

Scale: ONE shuffle per superstep with map-side partial aggregation (the
ObjectHashAggregate buffers are per-id label->count maps — the same
per-partition (id,label) state the old two-groupBy formulation held,
merged map-side before the exchange, so hub skew still collapses before
the shuffle). The old shape — groupBy(id, label).count() then max_by —
paid a second exchange + aggregate pair per superstep for the same
result; fresh-JVM A/B at sf0.1 (OPTIMIZATION_r06.md): cold 7.9-8.9s ->
5.3-5.6s, warm ~3.1 -> ~2.7s, outputs exactly equal; raising
spark.sql.objectHashAggregate.sortBased.fallbackThreshold showed no
additional win (clean reps at parity-to-worse), so the default
sort-based fallback stays — it is also the memory-safety story at
100TB group counts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from olive_spark.graph import Graph
from olive_spark.pregel import ACCUM, PregelProgram, PregelResult, pregel, src


def label_propagation(
    graph: Graph,
    iterations: int = 10,
    checkpoint_store=None,
    checkpoint_every: int = 1,
    resume: bool = False,
) -> PregelResult:
    """Exactly `iterations` synchronous rounds; vertices with no
    neighbors keep their own label."""
    g = graph.symmetrized()
    program = PregelProgram(
        init={"label": F.col("id")},
        gather=src("label"),
        # frequency-argmax in ONE exchange: most frequent label, ties
        # -> lowest label (module docstring)
        agg=lambda msg: F.mode(msg, True),
        update={"label": ACCUM()},
        cond=None,
        accum_default=None,  # no neighbors -> keep label (cond AND not-null)
        full_frontier=True,
    )
    # the symmetrized closure is memoized on `graph` (shared with CC
    # etc.); graph.unpersist() releases it (two-probe alternative
    # rejected in r6 — see cc.py / OPTIMIZATION_r06.md)
    return pregel(g, program, max_iterations=iterations,
                  checkpoint_store=checkpoint_store, checkpoint_every=checkpoint_every,
                  resume=resume)
