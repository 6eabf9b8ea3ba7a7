"""HITS (hubs & authorities) as a fixed-round DataFrame iteration.

The reference ships PageRank/BFS/SSSP as its example apps; HITS is the
other canonical link-analysis kernel a user of a link-graph engine
expects, and it exercises the one pattern PageRank does not: messages
flowing along BOTH edge directions in the same round (authority = sum
of in-neighbor hub scores, hub = sum of out-neighbor authority scores
— Kleinberg 1999, the public algorithm definition).

Semantics per round (synchronous, matching the unrolled SQL oracle in
__spark_entry__.py):

    a_raw(v) = sum over edges (u,v) of hub(u);        a = a_raw / ||a_raw||_2
    h_raw(u) = sum over edges (u,v) of a(v);          h = h_raw / ||h_raw||_2

init hub = 1.0. Vertices with no in-(out-)edges get 0 authority (hub).

Scale design:
- Both half-rounds are state ⋈ cached-edge joins + groupBy partial-agg
  shuffles — the same shape as the pregel edge phase (pregel.py:310-332);
  the narrow (id, score) state is the only moving side.
- The L2 norms are 1-row aggregates cross-joined back in (Catalyst
  broadcasts the single row) — NO driver-side collect per round.
- The round loop is :func:`olive_spark.pregel.run_loop` (loop layout,
  AQE-off conf scope, one barrier per round, snapshots freed when
  superseded). Its state is the raw hub aggregate; the authority
  aggregate is snapshotted through the core's ``snap`` callback.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from olive_spark.graph import Graph
from olive_spark.pregel import run_loop


def _normalize(scored: DataFrame, raw_col: str, out_col: str) -> DataFrame:
    """Divide by the global L2 norm without a driver action: the 1-row
    aggregate is cross-joined back (broadcast nested loop of 1 row)."""
    norm = scored.agg(
        F.sqrt(F.sum(F.col(raw_col) * F.col(raw_col))).alias("_norm")
    )
    return scored.crossJoin(norm).select(
        "id",
        F.when(F.col("_norm") > 0.0, F.col(raw_col) / F.col("_norm"))
        .otherwise(F.lit(0.0))
        .alias(out_col),
    )


def hits(graph: Graph, iterations: int = 3) -> DataFrame:
    """Run exactly ``iterations`` synchronous HITS rounds.

    Returns (id, hub, auth) for every vertex. Fixed-round (not
    convergence-driven) so results are deterministic and oracle-
    comparable; HITS converges geometrically, so small k is the
    practically-used form.
    """
    if iterations < 1:
        raise ValueError(f"hits requires iterations >= 1, got {iterations}")
    # run_loop's own layout (loop_layout is memoized and idempotent):
    # the final coverage joins below probe its vertex table
    graph = graph.loop_layout()
    auth = None  # the last round's normalized authority

    # Round-6 optimization (guide §1.2/§2.3): the iteration runs on the
    # RESTRICTED score tables — auth over vertices with in-edges, hub
    # over vertices with out-edges — instead of verts-complete tables.
    # Zero-score vertices contribute exactly 0.0 to every downstream sum
    # and to the L2 norm, and adding/removing exact +0.0 terms never
    # changes an IEEE-754 sum of non-negative values, so the scores are
    # BIT-IDENTICAL to the verts-complete iteration (hash-checked by the
    # hits_k3 oracle). Full vertex coverage (score 0.0) is restored by
    # two left joins ONCE at the end.
    #
    # Same explicit join-strategy policy as pregel's full-frontier path
    # (r6 A/B): the dense score tables ALWAYS take the co-partitioned
    # SHUFFLE_HASH probe of the cached edge layouts (forward: by src;
    # reversed: by its src = original dst) — zero per-round exchange of
    # the E-sized side, no serial driver broadcast build per half-round.
    def step(g: Graph, h_raw: DataFrame | None, _row, snap) -> DataFrame:
        nonlocal auth
        # round 1 starts from hub = 1.0 over the cached vertex table
        # (already hash(id, P); the narrow projection preserves it)
        hub = (g.vertices.select("id", F.lit(1.0).alias("hub")) if h_raw is None
               else _normalize(h_raw, "h_raw", "hub"))
        # ---- authority half-round: messages along forward edges -------
        # auth stays a lazy projection over the a_msg snapshot (its one
        # consumer per round is the hub half below; the norm aggregate
        # is one V-row scan of the snapshot — cheaper than a second
        # snapshot write)
        a_msg = snap(
            hub.hint("shuffle_hash").alias("s")
            .join(g.edges.alias("e"), F.col("s.id") == F.col("e.src"))
            .select(F.col("e.dst").alias("id"), F.col("s.hub").alias("g"))
            .groupBy("id")
            .agg(F.sum("g").alias("a_raw"))
        )
        auth = _normalize(a_msg, "a_raw", "auth")
        # ---- hub half-round: messages along REVERSE edges --------------
        # The cached reversed layout is partitioned by r.src (= original
        # dst), so this join probes the big side in place — only the
        # narrow auth state moves, same as the forward half.
        return (
            auth.hint("shuffle_hash").alias("a")
            .join(g.reversed_edges().alias("r"), F.col("a.id") == F.col("r.src"))
            .select(F.col("r.dst").alias("id"), F.col("a.auth").alias("g"))
            .groupBy("id")
            .agg(F.sum("g").alias("h_raw"))
        )

    res = run_loop(graph, lambda g: None, step, [F.count(F.lit(1)).alias("n")],
                   lambda *_: False, iterations)
    hub = _normalize(res.state, "h_raw", "hub")

    # full vertex coverage (0.0 for vertices with no in-/out-edges),
    # restored once instead of per half-round
    return (
        graph.vertices.join(auth.hint("shuffle_hash"), "id", "left")
        .join(hub.hint("shuffle_hash"), "id", "left")
        .select(
            "id",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("auth", F.lit(0.0)).alias("auth"),
        )
    )
