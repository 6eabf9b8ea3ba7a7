"""Exact triangle counting via degree-oriented edge joins.

The one reference-app-suite algorithm that is NOT gather-apply-scatter
(SURVEY.md §7 M3). Standard distributed formulation:

1. simplify: drop self-loops, dedup the undirected edge set
   (canonical (min,max) pairs) — triangles are defined on the simple
   undirected graph.
2. orient every edge from the lower-(degree, id) endpoint to the
   higher one: each triangle then has exactly ONE wedge at its
   lowest-ranked vertex, and every vertex's oriented out-degree is
   O(sqrt(E)) — the classic skew cure that keeps hub adjacency
   manageable at web scale.
3. wedges = oriented ⋈ oriented on (a->b, a->c), b<c by id;
   triangles = wedges semi-joined against the canonical edge set (b,c).

Plan shape (round-6 optimization pass, guide §2.3/§2.4/§3.1):
- the canonical edge set ``und`` is cached once and reused by the
  degree aggregation, the orientation join and the closing-edge side;
- per-vertex simple degrees are one explode+groupBy (not a 2x union
  scan) and are BROADCAST onto the edge set when the vertex count is
  small enough (``TRI_DEG_BROADCAST_MAX``, 4M rows)
  — at web scale the fallback is the shuffle join;
- the oriented edge set is repartitioned by the wedge pivot ``u`` and
  cached, so the wedge self-join is a ZERO-exchange co-partitioned
  shuffled-hash join;
- the closing-edge semi join probes ``und`` directly (canonical (b,c)
  pairs, already hash-partitioned by (a,b) from the dedup exchange) —
  half the build rows of the old oriented ∪ reversed(oriented) union,
  and no exchange on the build side;
- the whole query runs under stable_partitioning so the cached
  layouts' partition counts line up (AQE skew handling stays on).

Per-vertex counts: each closed wedge (a,b,c) contributes one triangle
to a, b and c — explode + groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from olive_spark.graph import Graph
from olive_spark.pregel import stable_partitioning

#: broadcast the (vertex, degree) table onto the edge set below this
#: many vertices (~128MB built at the default); above it — or on a
#: cluster where executors are leaner — the degree attach falls back to
#: shuffle joins.
TRI_DEG_BROADCAST_MAX = 4_000_000


def _undirected_simple(graph: Graph) -> DataFrame:
    """Canonical simple undirected edge set: (a, b) with a < b,
    self-loops dropped, duplicates removed."""
    return (
        graph.edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )


def _oriented_edges(graph: Graph, und: DataFrame | None = None) -> DataFrame:
    """Canonical undirected edge set, oriented by (degree, id) rank."""
    if und is None:
        und = _undirected_simple(graph)
    # undirected degree on the simple graph: one explode + one groupBy
    # (map-side combined) instead of a two-scan union
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    if graph.vertex_count() <= TRI_DEG_BROADCAST_MAX:
        # deg is <= V rows of (long, long): broadcast both attach joins
        # so the E-sized edge set is never exchanged for them
        da, db = F.broadcast(da), F.broadcast(db)
    withdeg = und.join(da, "a").join(db, "b")
    # orient low (deg, id) -> high (deg, id); total order, no ties
    lo_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    return withdeg.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )


def triangle_count(graph: Graph) -> tuple[DataFrame, int]:
    """Returns (per_vertex: DataFrame(id, triangles), total: int).

    Every vertex of the graph appears in per_vertex (0 for none).
    """
    with stable_partitioning(graph.edges.sparkSession):
        return _triangle_count_impl(graph)


def _triangle_count_impl(graph: Graph) -> tuple[DataFrame, int]:
    und = _undirected_simple(graph).cache()
    oriented = (
        _oriented_edges(graph, und)
        .repartition(graph.num_partitions, "u")
        .cache()
    )

    e1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"))
    # co-partitioned self-join on the cached (u-partitioned) layout:
    # no exchange on either side; shuffled-hash build instead of
    # sorting both sides
    wedges = e1.join(e2.hint("shuffle_hash"), "a").filter(F.col("b") < F.col("c"))
    # a wedge's legs both point up in (deg, id) rank and b < c by id, so
    # the closing edge between b and c is exactly the canonical pair
    # (b, c) — probe ``und`` itself (half the rows of the old
    # oriented ∪ reversed union, and its dedup exchange already
    # partitioned it by these keys)
    closing = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
    tris = wedges.join(closing.hint("shuffle_hash"), ["b", "c"], "left_semi")

    per = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    per_all = (
        graph.vertices.join(per, "id", "left")
        .select("id", F.coalesce("triangles", F.lit(0)).alias("triangles"))
        .cache()
    )
    # one action materializes per_all; total = sum/3 (each triangle
    # contributes once to each of its three vertices)
    s = per_all.agg(F.sum("triangles").alias("s")).first()["s"] or 0
    und.unpersist()
    oriented.unpersist()
    return per_all, int(s) // 3


def local_clustering(graph: Graph) -> DataFrame:
    """Per-vertex local clustering coefficient on the simple undirected
    graph: lcc(v) = 2 * triangles(v) / (deg(v) * (deg(v) - 1)), defined
    as 0.0 where deg < 2. Returns DataFrame(id, triangles, deg, lcc)
    over ALL vertices.

    The closed-wedge count comes from :func:`triangle_count` (the
    degree-oriented join plan); the denominator's undirected simple
    degree is one extra dedup'd scan of the edge set — both sides are
    single groupBy aggregations, so the whole query is a handful of
    equi-join shuffles + two aggs, no UDFs. (Reference computes the same
    simple-graph statistics family from its CSR degrees,
    csrGraph.h:253-284.)
    """
    per, _ = triangle_count(graph)
    deg = (
        _undirected_simple(graph)
        .select(F.explode(F.array("a", "b")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    out = (
        per.join(deg, "id", "left")
        .select(
            "id",
            "triangles",
            F.coalesce("deg", F.lit(0)).alias("deg"),
        )
        .withColumn(
            "lcc",
            F.when(
                F.col("deg") >= 2,
                (F.lit(2.0) * F.col("triangles")) / (F.col("deg") * (F.col("deg") - 1)),
            ).otherwise(F.lit(0.0)),
        )
        .cache()
    )
    # materialize out so per (cached by triangle_count, no handle
    # returned to our caller) can be released here instead of leaking
    # one cached table per call
    out.count()
    per.unpersist()
    return out
