"""Explicit skew handling for web-scale degree distributions.

The reference's only skew tool is intra-warp degree parallelism
(GroupSize SIMD lanes, oliverKernel.h:63-75; topology-aware partitioning
is an unimplemented TODO, partitionStrategy.h:42-45). A web graph at
10^12 documents is power-law on both sides, so the Spark engine handles
skew in three explicit places:

1. **In-degree hubs (reduce side)** — a page linked from everywhere.
   First line of defense: Tungsten partial aggregation (map-side
   combine) collapses each shuffle-map task's contributions to a hub to
   ONE row before the exchange — the same idea as the reference's
   per-partition accumulate-then-message (oliveKernel.h:67-106). For
   pathological cases `salted_aggregate` adds an intermediate salt
   round: groupBy(key, salt) -> groupBy(key), bounding any single
   reducer's input to ~|maps|/n_salt rows.

2. **Out-degree hubs (scan/join side)** — a page with millions of
   outlinks, or a src-hash partition holding several hubs. AQE skew
   join (enabled in session.py) splits oversized partitions at runtime.
   Additionally `salted_edge_layout` spreads each hub's adjacency over
   ``n_salt`` sub-partitions at ingest; use together with broadcast
   frontiers (the layout no longer matches the join key, so it is the
   right layout when the frontier side is broadcast and the edge table
   is only scanned, never shuffled).

3. **Hub frontiers (broadcast)** — pregel() broadcasts any frontier
   up to ``pregel.BROADCAST_THRESHOLD`` rows, so late BFS/CC supersteps never
   shuffle the edge table.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_aggregate(
    df: DataFrame,
    key: str,
    value: str,
    agg_fn: Callable[[Column], Column],
    n_salt: int = 16,
    salt_on: str | None = None,
) -> DataFrame:
    """Two-phase aggregation: groupBy(key, salt) then groupBy(key).

    ``agg_fn`` must be commutative+associative AND idempotent-composable
    (sum, min, max, count via sum). The salt is deterministic —
    hash of ``salt_on`` (default: a second column if present, else
    spark_partition_id) — so results are reproducible.
    """
    if salt_on is not None:
        salt = F.pmod(F.xxhash64(F.col(salt_on)), F.lit(n_salt))
    else:
        salt = F.pmod(F.spark_partition_id(), F.lit(n_salt))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(agg_fn(F.col(value)).alias(value))
    )
    return partial.groupBy(key).agg(agg_fn(F.col(value)).alias(value))


def salted_edge_layout(
    edges: DataFrame, n_partitions: int, n_salt: int = 8
) -> DataFrame:
    """Hub-splitting edge layout: repartition by (src, salt-of-dst).

    Each high-out-degree vertex's adjacency is spread over up to
    ``n_salt`` partitions (dst-hash keeps duplicates of the same edge
    together, preserving locality of parallel edges). Use when the
    superstep joins broadcast the frontier — this layout trades
    co-partitioning on ``src`` for balanced scan partitions.
    """
    return edges.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("dst")), F.lit(n_salt))
    ).repartition(n_partitions, "src", "_salt").drop("_salt")


def degree_skew_report(degrees: DataFrame, top_k: int = 10) -> dict:
    """Diagnostics: max/p99/mean out-degree + top-k hubs — the planning
    input for choosing n_salt / broadcast thresholds."""
    stats = degrees.agg(
        F.max("outdeg").alias("max"),
        F.expr("percentile_approx(outdeg, 0.99)").alias("p99"),
        F.avg("outdeg").alias("mean"),
        F.count("*").alias("n"),
    ).first()
    hubs = [
        (r["id"], r["outdeg"])
        for r in degrees.orderBy(F.desc("outdeg")).limit(top_k).collect()
    ]
    return {
        "max": stats["max"],
        "p99": stats["p99"],
        "mean": stats["mean"],
        "n_vertices": stats["n"],
        "top_hubs": hubs,
    }
