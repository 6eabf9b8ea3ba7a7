"""Link resolution: urls -> vertex ids -> edge table.

Two id-assignment strategies:

- ``sort``: id = rank of url in global lexicographic order (FIXTURES.md
  layer B). Deterministic and dense (0..N-1) — the reference's dense id
  space (csrGraph.h:129-135). Costs a global sort + one collect of
  per-partition counts; fine to ~10^9 urls, the strategy used for
  oracle-comparable tests.
- ``hash``: id = xxhash64(url) — shuffle-free, the 100TB path. It
  assumes no two urls share a hash (collision probability ~N^2/2^64,
  ≈3e-5 at 10^12 docs); nothing checks that, and a collision would
  merge two pages into one vertex. Detecting collisions is ROADMAP
  item 4. Ids are sparse, which the engine supports (vertex table is
  explicit).

Edges keep duplicates (reference semantics); links to urls outside the
page set are dropped (dangling *targets* — distinct from dangling
*vertices*, which are pages with no outlinks and are kept).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olive_spark.graph import Graph, number_rows
from olive_spark.ingest.extract import extract_links_df, hrefs


def assign_ids(urls: DataFrame, method: str = "sort", num_partitions: int | None = None) -> DataFrame:
    """urls(url) -> vertices(id, url). ``urls`` must be distinct.

    - ``hash``: id = xxhash64(url), shuffle-free (the 10^12-doc path).
    - ``sort``: id = global lexicographic rank, dense 0..N-1, computed
      scalably: range-partition by url, sort within partitions, then
      :func:`olive_spark.graph.number_rows` (one small collect of P
      per-partition counts, numbering in the JVM) — no single-partition
      window, O(N log N) distributed sort.
    """
    if method == "hash":
        return urls.select(F.xxhash64("url").alias("id"), "url")
    if method == "sort":
        spark = urls.sparkSession
        if num_partitions is None:
            num_partitions = spark.sparkContext.defaultParallelism
        parted = urls.repartitionByRange(num_partitions, "url").sortWithinPartitions("url")
        return number_rows(parted, "id").select("id", "url")
    raise ValueError(method)


def resolve_edges(
    links: DataFrame, vertices: DataFrame
) -> DataFrame:
    """links(src_url, dst_url) ⋈ vertices(id, url) twice -> (src, dst, weight).

    Inner joins drop links whose target is not a known page. At scale
    the vertex table is the smaller side; Catalyst broadcasts it when it
    fits, else a shuffle join with AQE skew splitting (hub pages are
    linked from everywhere — classic web skew).
    """
    v_src = vertices.select(F.col("url").alias("src_url"), F.col("id").alias("src"))
    v_dst = vertices.select(F.col("url").alias("dst_url"), F.col("id").alias("dst"))
    return (
        links.join(v_src, "src_url")
        .join(v_dst, "dst_url")
        .select("src", "dst", F.lit(1.0).alias("weight"))
    )


def build_graph_from_pages(
    spark: SparkSession,
    pages: DataFrame,
    id_method: str = "sort",
    num_partitions: int | None = None,
) -> tuple[Graph, DataFrame]:
    """Full ingest: pages -> links -> resolved, partitioned Graph.

    Returns (graph, vertices_with_urls) — the id<->url mapping is kept
    so results can be joined back to urls (the multi-GPU engine's
    global-id remap, olive.h:416-426, is exactly this join).

    Round-6 optimization pass (guide §4.1/§2.4): the url+href
    extraction is materialized ONCE (eager localCheckpoint of the
    narrow (url, hrefs) projection) and both the vertex branch
    (distinct urls) and the edge branch (exploded links) read that
    snapshot — previously each branch recomputed the full pages
    subtree, paying the link extraction (and, for synthetic page
    tables, the page generation itself) twice. The extraction is the
    native :func:`olive_spark.ingest.extract.hrefs` expression, so the
    graph build starts no Python worker, and the heavy ``html`` column
    never enters a shuffle.

    With ``hash`` ids the (id, url) mapping is returned LAZILY (unlike
    ``sort``, which caches it): the graph build itself never reads urls,
    so callers that skip the mapping skip its cost entirely; consumers
    that do join back to urls recompute it from the checkpointed
    extraction snapshot (one cheap scan).

    ``hash`` ids additionally skip the url-string joins entirely:
    id = xxhash64(url) is computable directly on the link rows
    (src_url is a page url by construction; dst resolution becomes a
    semi-join of 8-byte hashes against the vertex ids instead of an
    equi-join carrying url strings). Equivalent to the string join
    under the same no-collision assumption the hash id scheme itself
    already makes.
    """
    extracted = pages.select("url", hrefs("html").alias("hrefs")).localCheckpoint(eager=True)
    links = extracted.select(
        F.col("url").alias("src_url"), F.explode("hrefs").alias("dst_url")
    )
    urls = extracted.select("url").distinct()
    if id_method == "hash":
        if num_partitions is None:
            num_partitions = spark.sparkContext.defaultParallelism
        # Vertex ids in ONE exchange (r6, guide §2.4/§2.3): dedup on the
        # 8-byte hash instead of the url string — identical rows under
        # the no-collision assumption the hash id scheme already makes —
        # and key the dedup's exchange directly to the graph layout
        # (hash(id, P)), so Graph.from_edges caches it as-is. The old
        # path exchanged url strings for the distinct, cached an
        # (id, url) table the graph build never reads, then re-exchanged
        # ids a second time inside from_edges. The (id, url) mapping is
        # still returned, but LAZILY: callers that never join back to
        # urls (the pure link-graph build) no longer materialize it.
        vertex_ids = (
            extracted.select(F.xxhash64("url").alias("id"))
            .repartition(num_partitions, "id")
            .distinct()
            .cache()
        )
        edges = (
            links.select(
                F.xxhash64("src_url").alias("src"),
                F.xxhash64("dst_url").alias("dst"),
                F.lit(1.0).alias("weight"),
            )
            .join(vertex_ids.alias("v"), F.col("dst") == F.col("v.id"),
                  "left_semi")
            .repartition(num_partitions, "src")
            .cache()
        )
        graph = Graph(
            vertices=vertex_ids,
            edges=edges,
            num_partitions=num_partitions,
        )
        vertices = assign_ids(urls, method="hash")
        return graph, vertices
    vertices = assign_ids(urls, method=id_method).cache()
    edges = resolve_edges(links, vertices)
    graph = Graph.from_edges(
        spark,
        edges,
        vertices=vertices.select("id"),
        num_partitions=num_partitions,
    )
    return graph, vertices


def host_graph_edges(pages: DataFrame) -> DataFrame:
    """Roll the page-level link graph up to a host-level graph:
    (src_host, dst_host, n_links), one row per ordered host pair,
    n_links = number of page-level hyperlinks between them (duplicates
    and intra-host links counted — they are real link mass).

    This is the standard Common-Crawl "host graph" derivation. At
    10^12 pages the page graph has ~10^13 edges but only ~10^8 hosts:
    the rollup is ONE groupBy whose map-side partial aggregation
    collapses almost all rows before the shuffle (hosts repeat heavily
    within a page partition), so the exchange carries host-pair
    partials, not page edges. Host extraction is JVM-side `parse_url`
    (codegen, no Python).
    """
    links = extract_links_df(pages)
    return (
        links.select(
            F.parse_url(F.col("src_url"), F.lit("HOST")).alias("src_host"),
            F.parse_url(F.col("dst_url"), F.lit("HOST")).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


# ---------------------------------------------------------------------------
# Deterministic graph over the driver-provided TPC-H-ish testdata:
# a supplier->customer bipartite multigraph (one edge per lineitem via its
# order), dense ids: suppliers 0..S-1, customers S..S+C-1. The SAME SQL
# string runs on Spark (temp views) and DuckDB (oracle) — the correctness
# gate's common ground.
# ---------------------------------------------------------------------------
TESTDATA_EDGES_SQL = """
SELECT CAST(l.l_suppkey AS BIGINT) AS src,
       CAST((SELECT COUNT(*) FROM supplier) + o.o_custkey AS BIGINT) AS dst,
       CAST(1.0 AS DOUBLE) AS weight
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
""".strip()


# Weighted variant of the bipartite graph: weight = l_quantity (real-valued,
# 1..50) — exercises weighted PageRank / weighted SSSP against the oracle.
TESTDATA_WEIGHTED_EDGES_SQL = """
SELECT CAST(l.l_suppkey AS BIGINT) AS src,
       CAST((SELECT COUNT(*) FROM supplier) + o.o_custkey AS BIGINT) AS dst,
       CAST(l.l_quantity AS DOUBLE) AS weight
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
""".strip()


# Second derived graph with rich connectivity and triangles: a tripartite
# 3-cycle multigraph — every lineitem row (via its order) emits
# supplier->customer, customer->part, part->supplier. Id spaces:
# suppliers [0,S), customers [S,S+C), parts [S+C,S+C+P).
TESTDATA_TRI_EDGES_SQL = """
WITH n AS (
  SELECT (SELECT COUNT(*) FROM supplier) AS s,
         (SELECT COUNT(*) FROM customer) AS c
),
rows_ AS (
  SELECT l.l_suppkey AS supp,
         n.s + o.o_custkey AS cust,
         n.s + n.c + l.l_partkey AS part
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  CROSS JOIN n
)
SELECT CAST(supp AS BIGINT) AS src, CAST(cust AS BIGINT) AS dst,
       CAST(1.0 AS DOUBLE) AS weight FROM rows_
UNION ALL
SELECT CAST(cust AS BIGINT) AS src, CAST(part AS BIGINT) AS dst,
       CAST(1.0 AS DOUBLE) AS weight FROM rows_
UNION ALL
SELECT CAST(part AS BIGINT) AS src, CAST(supp AS BIGINT) AS dst,
       CAST(1.0 AS DOUBLE) AS weight FROM rows_
""".strip()


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    for name in ("region", "nation", "supplier", "customer", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{name}.parquet").createOrReplaceTempView(name)


def testdata_graph(spark: SparkSession, sf_dir: str, num_partitions: int | None = None) -> Graph:
    """The driver-testdata link graph (supplier+customer vertex space)."""
    register_testdata_views(spark, sf_dir)
    edges = spark.sql(TESTDATA_EDGES_SQL)
    s = spark.table("supplier").count()
    c = spark.table("customer").count()
    vertices = spark.range(s + c).select(F.col("id").cast("long").alias("id"))
    return Graph.from_edges(spark, edges, vertices=vertices, num_partitions=num_partitions)


def testdata_weighted_graph(spark: SparkSession, sf_dir: str,
                            num_partitions: int | None = None) -> Graph:
    """Bipartite testdata graph with l_quantity edge weights."""
    register_testdata_views(spark, sf_dir)
    edges = spark.sql(TESTDATA_WEIGHTED_EDGES_SQL)
    s = spark.table("supplier").count()
    c = spark.table("customer").count()
    vertices = spark.range(s + c).select(F.col("id").cast("long").alias("id"))
    return Graph.from_edges(spark, edges, vertices=vertices, num_partitions=num_partitions)


def testdata_tri_graph(spark: SparkSession, sf_dir: str, num_partitions: int | None = None) -> Graph:
    """The tripartite 3-cycle testdata graph (supplier+customer+part)."""
    register_testdata_views(spark, sf_dir)
    edges = spark.sql(TESTDATA_TRI_EDGES_SQL)
    n = (
        spark.table("supplier").count()
        + spark.table("customer").count()
        + spark.table("part").count()
    )
    vertices = spark.range(n).select(F.col("id").cast("long").alias("id"))
    return Graph.from_edges(spark, edges, vertices=vertices, num_partitions=num_partitions)
