"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-
insensitive value-hash -> CORRECTNESS_r{N}.json).

Graph queries run over two deterministic graphs derived from the
provided testdata tables (the engine's real input is a web-page table;
see olive_spark.ingest — exercised by the pages_* queries below and by
pytest):

- bipartite:  supplier -> customer, one edge per lineitem (via orders);
  ids: suppliers 0..S-1, customers S..S+C-1.
- tripartite: supplier -> customer -> part -> supplier 3-cycles, one
  triple per lineitem; ids extend with parts S+C..S+C+P-1.

Iterative algorithms are compared at a FIXED superstep count K: the
Spark engine runs exactly K supersteps and the DuckDB oracle unrolls K
chained CTEs with identical semantics — deterministic equality without
convergence guesswork. Floating-point ranks are compared as
round(rank*1e9) BIGINTs to keep value-hashes float-noise-free.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# importable regardless of the caller's CWD / sys.path
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olive_spark.ingest.resolve import (
    TESTDATA_EDGES_SQL,
    TESTDATA_TRI_EDGES_SQL,
    register_testdata_views,
    testdata_graph,
    testdata_tri_graph,
)

PR_K = 5       # pagerank supersteps for the parity check
CC_K = 8       # min-label supersteps
LP_K = 3       # label-propagation supersteps
BFS_K = 6      # bfs supersteps (bounded-hop levels)
BFS_SOURCE = 0


# ---------------------------------------------------------------------------
# Oracle SQL builders (DuckDB; ANSI + generate_series)
# ---------------------------------------------------------------------------

# Vertex id spaces, derived from the (dense, 0-based) key columns so the
# same SQL runs on DuckDB and matches spark.range(S+C[+P]) exactly.
_VERTS_BI = (
    "SELECT CAST(s_suppkey AS BIGINT) AS id FROM supplier "
    "UNION ALL SELECT CAST((SELECT COUNT(*) FROM supplier) + c_custkey AS BIGINT) "
    "FROM customer"
)
_VERTS_TRI = (
    _VERTS_BI
    + " UNION ALL SELECT CAST((SELECT COUNT(*) FROM supplier) "
    "+ (SELECT COUNT(*) FROM customer) + p_partkey AS BIGINT) FROM part"
)


def _pagerank_sql(k: int) -> str:
    """Unrolled k-iteration PageRank, reference semantics (damping .85,
    no dangling redistribution, duplicate edges kept)."""
    ctes = [
        f"e AS MATERIALIZED ({TESTDATA_EDGES_SQL})",
        f"v AS MATERIALIZED ({_VERTS_BI})",
        "nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM v)",
        "deg AS MATERIALIZED (SELECT v.id, CAST(COALESCE(d.cnt, 0) AS DOUBLE) AS outdeg "
        "FROM v LEFT JOIN (SELECT src, COUNT(*) AS cnt FROM e GROUP BY src) d "
        "ON v.id = d.src)",
        "r0 AS MATERIALIZED (SELECT id, (SELECT 1.0/n FROM nv) AS rank FROM v)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"m{i} AS MATERIALIZED (SELECT e.dst AS id, SUM(r.rank / deg.outdeg) AS acc "
            f"FROM e JOIN r{i-1} r ON e.src = r.id JOIN deg ON deg.id = e.src "
            f"GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT v.id, 0.85 * COALESCE(m{i}.acc, 0.0) "
            f"+ 0.15 * (SELECT 1.0/n FROM nv) AS rank "
            f"FROM v LEFT JOIN m{i} ON v.id = m{i}.id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, CAST(ROUND(rank * 1000000000) AS BIGINT) AS rank_e9 FROM r{k}"
    )


def _cc_sql(k: int) -> str:
    """Unrolled k rounds of synchronous min-label over the undirected
    closure of the tripartite graph."""
    ctes = [
        f"e0 AS MATERIALIZED ({TESTDATA_TRI_EDGES_SQL})",
        "sym AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)",
        f"v AS MATERIALIZED ({_VERTS_TRI})",
        "l0 AS MATERIALIZED (SELECT id, id AS label FROM v)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"m{i} AS MATERIALIZED (SELECT s.dst AS id, MIN(l.label) AS ml "
            f"FROM sym s JOIN l{i-1} l ON s.src = l.id GROUP BY s.dst)"
        )
        ctes.append(
            f"l{i} AS MATERIALIZED (SELECT v.id, CAST(LEAST(p.label, COALESCE(m{i}.ml, p.label)) AS BIGINT) AS label "
            f"FROM v JOIN l{i-1} p ON v.id = p.id LEFT JOIN m{i} ON v.id = m{i}.id)"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, label AS component FROM l{k}"


def _bfs_sql(k: int, source: int) -> str:
    """Unrolled k rounds of frontier BFS == min-distance within k hops;
    unreached = 2147483647 (BFS.cu:101). Tripartite graph, directed."""
    ctes = [
        f"e0 AS MATERIALIZED ({TESTDATA_TRI_EDGES_SQL})",
        f"v AS MATERIALIZED ({_VERTS_TRI})",
        f"l0 AS MATERIALIZED (SELECT id, CASE WHEN id = {source} THEN CAST(0 AS BIGINT) "
        "ELSE CAST(2147483647 AS BIGINT) END AS level FROM v)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"m{i} AS MATERIALIZED (SELECT e.dst AS id, MIN(l.level) + 1 AS ml "
            f"FROM e0 e JOIN l{i-1} l ON e.src = l.id "
            f"WHERE l.level < 2147483647 GROUP BY e.dst)"
        )
        ctes.append(
            f"l{i} AS MATERIALIZED (SELECT v.id, CAST(LEAST(p.level, COALESCE(m{i}.ml, p.level)) AS BIGINT) AS level "
            f"FROM v JOIN l{i-1} p ON v.id = p.id LEFT JOIN m{i} ON v.id = m{i}.id)"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, level FROM l{k}"


def _lp_sql(k: int) -> str:
    """Unrolled k rounds of synchronous mode-label propagation
    (tie-break: higher count, then smaller label), undirected closure."""
    ctes = [
        f"e0 AS MATERIALIZED ({TESTDATA_TRI_EDGES_SQL})",
        "sym AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)",
        f"v AS MATERIALIZED ({_VERTS_TRI})",
        "l0 AS MATERIALIZED (SELECT id, id AS label FROM v)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT s.dst AS id, l.label AS lab, COUNT(*) AS cnt "
            f"FROM sym s JOIN l{i-1} l ON s.src = l.id GROUP BY s.dst, l.label)"
        )
        ctes.append(
            f"b{i} AS MATERIALIZED (SELECT id, lab FROM (SELECT id, lab, ROW_NUMBER() OVER "
            f"(PARTITION BY id ORDER BY cnt DESC, lab ASC) AS rn FROM c{i}) t WHERE rn = 1)"
        )
        ctes.append(
            f"l{i} AS MATERIALIZED (SELECT v.id, CAST(COALESCE(b{i}.lab, p.label) AS BIGINT) AS label "
            f"FROM v JOIN l{i-1} p ON v.id = p.id LEFT JOIN b{i} ON v.id = b{i}.id)"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, label FROM l{k}"


_DEGREES_SQL = f"""
WITH e AS ({TESTDATA_EDGES_SQL}), v AS ({_VERTS_BI})
SELECT v.id, CAST(COALESCE(d.cnt, 0) AS BIGINT) AS outdeg
FROM v LEFT JOIN (SELECT src, COUNT(*) AS cnt FROM e GROUP BY src) d
ON v.id = d.src
""".strip()

_DEGREE_HIST_SQL = f"""
WITH e AS ({TESTDATA_EDGES_SQL}), v AS ({_VERTS_BI}),
deg AS (SELECT v.id, COALESCE(d.cnt, 0) AS outdeg
        FROM v LEFT JOIN (SELECT src, COUNT(*) AS cnt FROM e GROUP BY src) d
        ON v.id = d.src)
SELECT CAST(CASE WHEN outdeg = 0 THEN 0 ELSE FLOOR(LOG2(outdeg)) + 1 END AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_vertices
FROM deg GROUP BY 1
""".strip()

_TRI_TOTAL_SQL = f"""
WITH e AS ({TESTDATA_TRI_EDGES_SQL}),
und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM e WHERE src <> dst)
SELECT CAST(COUNT(*) AS BIGINT) AS triangles
FROM und e1
JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
""".strip()

_TRI_PER_VERTEX_SQL = f"""
WITH e AS ({TESTDATA_TRI_EDGES_SQL}),
v AS ({_VERTS_TRI}),
und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM e WHERE src <> dst),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
        JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
members AS (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
SELECT v.id, CAST(COALESCE(m.cnt, 0) AS BIGINT) AS triangles
FROM v LEFT JOIN (SELECT id, COUNT(*) AS cnt FROM members GROUP BY id) m
ON v.id = m.id
""".strip()

# --- pipeline oracles over documents/embeddings ----------------------------

_EXACT_DEDUP_SQL = """
SELECT md5(text) AS md5, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
""".strip()

_TOKEN_STATS_SQL = """
SELECT doc_id,
       CAST(LENGTH(text) AS BIGINT) AS n_chars,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '\\S+')) AS BIGINT) AS n_tokens
FROM documents
""".strip()

_LANG_MARKER_SQL = """
SELECT doc_id,
       CAST((LENGTH(t) - LENGTH(REPLACE(t, ' the ', ''))) / 5
          + (LENGTH(t) - LENGTH(REPLACE(t, ' and ', ''))) / 5
          + (LENGTH(t) - LENGTH(REPLACE(t, ' of ', ''))) / 4
          + (LENGTH(t) - LENGTH(REPLACE(t, ' to ', ''))) / 4 AS BIGINT) AS en_hits
FROM (SELECT doc_id, ' ' || LOWER(text) || ' ' AS t FROM documents) s
""".strip()

_COSINE_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       CAST(ROUND(
         CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) > 0
               AND list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) > 0
         THEN list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
              / (SQRT(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                 * SQRT(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))))
         ELSE 0.0 END * 10000) AS BIGINT) AS cosine_e4
FROM embeddings e, q
""".strip()


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------

def _q_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_testdata_views(spark, sf_dir)
    return spark.sql(TESTDATA_EDGES_SQL)


def _q_tri_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_testdata_views(spark, sf_dir)
    return spark.sql(TESTDATA_TRI_EDGES_SQL)


def _q_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = testdata_graph(spark, sf_dir)
    return g.degrees().select("id", F.col("outdeg").cast("long").alias("outdeg"))


def _q_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = testdata_graph(spark, sf_dir)
    return g.degree_histogram()


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.algorithms.pagerank import pagerank_fixed

    g = testdata_graph(spark, sf_dir)
    res = pagerank_fixed(g, iterations=PR_K)
    return res.state.select(
        "id", F.round(F.col("rank") * 1e9).cast("long").alias("rank_e9")
    )


def _q_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.algorithms.cc import connected_components

    g = testdata_tri_graph(spark, sf_dir)
    res = connected_components(g, max_iterations=CC_K)
    return res.state.select("id", F.col("component").cast("long").alias("component"))


def _q_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.algorithms.bfs import bfs

    g = testdata_tri_graph(spark, sf_dir)
    res = bfs(g, source=BFS_SOURCE, max_iterations=BFS_K)
    return res.state.select("id", F.col("level").cast("long").alias("level"))


def _q_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.algorithms.labelprop import label_propagation

    g = testdata_tri_graph(spark, sf_dir)
    res = label_propagation(g, iterations=LP_K)
    return res.state.select("id", F.col("label").cast("long").alias("label"))


def _q_tri_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.algorithms.triangles import triangle_count

    g = testdata_tri_graph(spark, sf_dir)
    per, total = triangle_count(g)
    per.unpersist()
    return spark.createDataFrame([(total,)], "triangles long")


def _q_tri_per_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.algorithms.triangles import triangle_count

    g = testdata_tri_graph(spark, sf_dir)
    per, _ = triangle_count(g)
    return per.select("id", F.col("triangles").cast("long").alias("triangles"))


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.pipeline.dedup import exact_duplicates

    register_testdata_views(spark, sf_dir)
    docs = spark.table("documents")
    return exact_duplicates(docs).select(
        "md5", "n_docs", F.col("min_doc_id").cast("long").alias("min_doc_id")
    )


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.pipeline.textstats import token_stats

    register_testdata_views(spark, sf_dir)
    return token_stats(spark.table("documents")).select("doc_id", "n_chars", "n_tokens")


def _q_lang_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.pipeline.textstats import _count_occurrences

    register_testdata_views(spark, sf_dir)
    docs = spark.table("documents")
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    hits = sum(
        (_count_occurrences(padded, m) for m in (" the ", " and ", " of ", " to ")),
        F.lit(0).cast("long"),
    )
    return docs.select("doc_id", hits.alias("en_hits"))


def _q_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.pipeline.similarity import cosine_scores

    register_testdata_views(spark, sf_dir)
    emb = spark.table("embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return cosine_scores(emb, [float(x) for x in qv], round_digits=None).select(
        "vec_id", F.round(F.col("cosine") * 1e4).cast("long").alias("cosine_e4")
    )


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-pruned, exactly-verified near-dup pairs. The LSH candidate
    step uses xxhash64 minhashes (no DuckDB twin), but the OUTPUT is
    exact Jaccard over the candidates, so the oracle is the exact
    all-pairs Jaccard SQL (_JACCARD_SQL): equality == LSH recall is 1
    on every pair with true J >= 0.5 (verified here and in pytest;
    banding 16 bands x 2 rows of 32 hashes)."""
    from olive_spark.pipeline.dedup import minhash_near_duplicates

    register_testdata_views(spark, sf_dir)
    docs = spark.table("documents")
    out = minhash_near_duplicates(docs, threshold=0.5, num_hashes=32, bands=16)
    return out.select(
        "doc_a", "doc_b",
        F.round(F.col("jaccard") * 1e6).cast("long").alias("jaccard_e6"),
    )


def _q_pages_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full web ingest path on a synthesized page table encoding the
    chain topology; returns per-page outlink counts (links from the
    native href expression); checked against the closed-form
    per-page degrees of the chain."""
    from olive_spark.fixtures import chain_graph
    from olive_spark.ingest.pages import synth_pages
    from olive_spark.ingest.resolve import build_graph_from_pages

    n, e = chain_graph(100)
    pages = synth_pages(spark, n, e, num_partitions=8)
    graph, _ = build_graph_from_pages(spark, pages, num_partitions=8)
    return graph.degrees().select("id", F.col("outdeg").cast("long").alias("outdeg"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: PageRank over the
    testdata link graph (driver checks rows > 0, stable schema)."""
    return _q_pagerank(spark, "/root/testdata/sf0.001")


# --- appended queries: kNN top-k with SQL oracle; simhash rows-only ---------

_KNN_SQL = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id IN (0, 1, 2)),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT q.query_id, c.vec_id,
         ROUND(CASE WHEN list_dot_product(c.v, c.v) > 0
                     AND list_dot_product(q.qv, q.qv) > 0
               THEN list_dot_product(c.v, q.qv)
                    / (SQRT(list_dot_product(c.v, c.v))
                       * SQRT(list_dot_product(q.qv, q.qv)))
               ELSE 0.0 END, 6) AS cos6
  FROM c, q WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos6,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos6 DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, CAST(rank AS INT) AS rank,
       CAST(ROUND(cos6 * 10000) AS BIGINT) AS cosine_e4
FROM ranked WHERE rank <= 5
""".strip()


def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.pipeline.similarity import brute_force_knn

    register_testdata_views(spark, sf_dir)
    emb = spark.table("embeddings")
    queries_df = emb.filter(F.col("vec_id").isin(0, 1, 2))
    out = brute_force_knn(emb, queries_df, k=5)
    return out.select(
        "query_id",
        "vec_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("cosine") * 1e4).cast("long").alias("cosine_e4"),
    )


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit simhash sketches — rows-only check (xxhash64 bit math has
    no DuckDB twin); determinism + hamming behavior pinned in pytest."""
    from olive_spark.pipeline.dedup import simhash_signatures

    register_testdata_views(spark, sf_dir)
    return simhash_signatures(spark.table("documents"))



# --- appended: weighted PageRank + weighted SSSP with SQL oracles -----------

from olive_spark.ingest.resolve import (  # noqa: E402
    TESTDATA_WEIGHTED_EDGES_SQL,
    testdata_weighted_graph,
)

WPR_K = 5
WSSSP_K = 6


def _wpagerank_sql(k: int) -> str:
    """Unrolled weighted PageRank: gather = rank * (w / wdeg(src))."""
    ctes = [
        f"e AS MATERIALIZED ({TESTDATA_WEIGHTED_EDGES_SQL})",
        f"v AS MATERIALIZED ({_VERTS_BI})",
        "nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM v)",
        "wd AS MATERIALIZED (SELECT src, SUM(weight) AS wdeg FROM e GROUP BY src)",
        # pre-normalized weights, matching the Spark path exactly
        "en AS MATERIALIZED (SELECT e.src, e.dst, e.weight / wd.wdeg AS w "
        "FROM e JOIN wd ON e.src = wd.src)",
        "r0 AS MATERIALIZED (SELECT id, (SELECT 1.0/n FROM nv) AS rank FROM v)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"m{i} AS MATERIALIZED (SELECT en.dst AS id, SUM(r.rank * en.w) AS acc "
            f"FROM en JOIN r{i-1} r ON en.src = r.id GROUP BY en.dst)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT v.id, 0.85 * COALESCE(m{i}.acc, 0.0) "
            f"+ 0.15 * (SELECT 1.0/n FROM nv) AS rank "
            f"FROM v LEFT JOIN m{i} ON v.id = m{i}.id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, CAST(ROUND(rank * 1000000000) AS BIGINT) AS rank_e9 FROM r{k}"
    )


def _wsssp_sql(k: int, source: int) -> str:
    """Unrolled k rounds of min-plus over double weights; unreached -> -1."""
    ctes = [
        f"e AS MATERIALIZED ({TESTDATA_WEIGHTED_EDGES_SQL})",
        f"v AS MATERIALIZED ({_VERTS_BI})",
        f"l0 AS MATERIALIZED (SELECT id, CASE WHEN id = {source} "
        "THEN CAST(0.0 AS DOUBLE) ELSE CAST('Infinity' AS DOUBLE) END AS dist FROM v)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"m{i} AS MATERIALIZED (SELECT e.dst AS id, MIN(l.dist + e.weight) AS md "
            f"FROM e JOIN l{i-1} l ON e.src = l.id "
            f"WHERE l.dist < CAST('Infinity' AS DOUBLE) GROUP BY e.dst)"
        )
        ctes.append(
            f"l{i} AS MATERIALIZED (SELECT v.id, LEAST(p.dist, COALESCE(m{i}.md, p.dist)) AS dist "
            f"FROM v JOIN l{i-1} p ON v.id = p.id LEFT JOIN m{i} ON v.id = m{i}.id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, CASE WHEN dist = CAST('Infinity' AS DOUBLE) THEN CAST(-1 AS BIGINT) "
        f"ELSE CAST(ROUND(dist * 1000000) AS BIGINT) END AS dist_e6 FROM l{k}"
    )


def _q_wpagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.algorithms.pagerank import weighted_pagerank

    g = testdata_weighted_graph(spark, sf_dir)
    res = weighted_pagerank(g, epsilon=None, max_iterations=WPR_K)
    return res.state.select(
        "id", F.round(F.col("rank") * 1e9).cast("long").alias("rank_e9")
    )


def _q_wsssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.algorithms.sssp import INF_D, sssp_weighted

    g = testdata_weighted_graph(spark, sf_dir)
    res = sssp_weighted(g, source=0, max_iterations=WSSSP_K)
    return res.state.select(
        "id",
        F.when(F.col("distance") == float("inf"), F.lit(-1).cast("long"))
        .otherwise(F.round(F.col("distance") * 1e6).cast("long"))
        .alias("dist_e6"),
    )



# --- appended: exact n-gram Jaccard near-dup pairs with SQL oracle ----------

_JACCARD_SQL = r"""
WITH w AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS words
  FROM documents
),
sh AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, greatest(len(words) - 3, 0) + 2),
                          i -> array_to_string(words[i:i+2], ' ')))) AS shingle
  FROM w
),
shf AS (SELECT doc_id, shingle FROM sh WHERE length(shingle) > 0),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
j AS (
  SELECT i.doc_a, i.doc_b,
         ROUND(i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE), 6) AS jac
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
)
SELECT doc_a, doc_b, CAST(ROUND(jac * 1000000) AS BIGINT) AS jaccard_e6
FROM j WHERE jac >= 0.5
""".strip()


def _q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.pipeline.dedup import ngram_jaccard_pairs

    register_testdata_views(spark, sf_dir)
    docs = spark.table("documents")
    out = ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.5)
    return out.select(
        "doc_a", "doc_b",
        F.round(F.col("jaccard") * 1e6).cast("long").alias("jaccard_e6"),
    )



# --- appended (r2): oracles for every remaining query + IVF kNN -------------
#
# doc_simhash: the sketch hash is md5-based (dedup.SIMHASH_BITS = 60 bits
# from the first 15 hex chars), so DuckDB reproduces it bit-for-bit.
# doc_minhash_lsh: output = exactly-verified near-dup pairs, so the exact
# all-pairs Jaccard SQL is the oracle (equality <=> LSH recall 1 at J>=0.5).
# pages_ingest_degrees: the synthesized page fixture encodes the
# bidirectional 100-vertex chain, whose degree table is closed-form.
# emb_ivf_top5: IVF with n_probe = n_lists probes every list ==
# exhaustive search == the brute-force kNN oracle (_KNN_SQL).

def _simhash_sql() -> str:
    from olive_spark.pipeline.dedup import SIMHASH_BITS

    sums = ",\n       ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(SIMHASH_BITS)
    )
    sketch = "\n     + ".join(
        f"CASE WHEN b{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE CAST(0 AS BIGINT) END"
        for i in range(SIMHASH_BITS)
    )
    return rf"""
WITH w AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS words
  FROM documents
),
sh AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, greatest(len(words) - 2, 0) + 2),
                          i -> array_to_string(words[i:i+1], ' ')))) AS shingle
  FROM w
),
shf AS (SELECT doc_id, shingle FROM sh WHERE length(shingle) > 0),
hh AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM shf),
bits AS (SELECT doc_id, {sums} FROM hh GROUP BY doc_id)
SELECT doc_id, {sketch} AS simhash
FROM bits
""".strip()


# The page fixture realizes the bidirectional 100-vertex chain; vertex ids
# are the lexicographic rank of the page urls (assign_ids method="sort"),
# and url_of() spreads pages over 97 hosts — the oracle rebuilds the exact
# same urls and ranks them, then maps the closed-form chain degrees
# (ends = 1, middle = 2) through that permutation.
_PAGES_DEGREES_SQL = """
WITH p AS (
  SELECT r.range AS i,
         'https://site' || CAST(r.range % 97 AS VARCHAR)
           || '.example/p' || lpad(CAST(r.range AS VARCHAR), 8, '0') AS url
  FROM range(100) r
),
ids AS (SELECT i, ROW_NUMBER() OVER (ORDER BY url) - 1 AS id FROM p)
SELECT CAST(ids.id AS BIGINT) AS id,
       CAST(CASE WHEN ids.i = 0 OR ids.i = 99 THEN 1 ELSE 2 END AS BIGINT) AS outdeg
FROM ids
""".strip()


def _q_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.pipeline.similarity import ivf_knn

    register_testdata_views(spark, sf_dir)
    emb = spark.table("embeddings")
    queries_df = emb.filter(F.col("vec_id").isin(0, 1, 2))
    out = ivf_knn(emb, queries_df, k=5, n_lists=8, n_probe=8)
    return out.select(
        "query_id",
        "vec_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("cosine") * 1e4).cast("long").alias("cosine_e4"),
    )



# --- appended (r2): embedding near-dup pairs + content fingerprints ---------

_EMB_NEARDUP_SQL = """
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       CAST(ROUND(ROUND(
         CASE WHEN list_dot_product(a.v, a.v) > 0 AND list_dot_product(b.v, b.v) > 0
         THEN list_dot_product(a.v, b.v)
              / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v)))
         ELSE 0.0 END, 6) * 1000000) AS BIGINT) AS cosine_e6
FROM c a JOIN c b ON a.vec_id < b.vec_id
WHERE ROUND(
  CASE WHEN list_dot_product(a.v, a.v) > 0 AND list_dot_product(b.v, b.v) > 0
  THEN list_dot_product(a.v, b.v)
       / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v)))
  ELSE 0.0 END, 6) >= 0.5
""".strip()

_FINGERPRINT_SQL = r"""
SELECT doc_id, md5(text) AS md5,
       md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_md5
FROM documents
""".strip()


def _q_emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs at threshold 0.5 (the
    all-pairs baseline; the LSH-pruned scale path is recall-tested in
    pytest — recall < 1 by construction, so the exact method is the
    oracle-parity contract)."""
    from olive_spark.pipeline.similarity import embedding_near_duplicates

    register_testdata_views(spark, sf_dir)
    out = embedding_near_duplicates(
        spark.table("embeddings"), threshold=0.5, method="exact"
    )
    return out.select(
        "vec_id_a", "vec_id_b",
        F.round(F.col("cosine") * 1e6).cast("long").alias("cosine_e6"),
    )


def _q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints (md5 + normalized md5; the xxhash64 column
    is dropped here — no DuckDB twin — and covered by pytest)."""
    from olive_spark.pipeline.textstats import document_fingerprint

    register_testdata_views(spark, sf_dir)
    return document_fingerprint(spark.table("documents")).select(
        "doc_id", "md5", "norm_md5"
    )



# --- appended (r2): HITS, personalized PageRank, host-graph rollup ----------

HITS_K = 3
PPR_K = 5
PPR_SOURCES = [0, 1, 2]


def _hits_sql(k: int) -> str:
    """Unrolled k synchronous HITS rounds (auth from hubs, then hubs
    from NEW auths, L2-normalized after each half-round) — identical
    semantics to olive_spark.algorithms.hits."""
    ctes = [
        f"e AS MATERIALIZED ({TESTDATA_EDGES_SQL})",
        f"v AS MATERIALIZED ({_VERTS_BI})",
        "h0 AS MATERIALIZED (SELECT id, 1.0 AS hub FROM v)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"ar{i} AS MATERIALIZED (SELECT v.id, COALESCE(m.s, 0.0) AS araw "
            f"FROM v LEFT JOIN (SELECT e.dst AS id, SUM(h.hub) AS s "
            f"FROM e JOIN h{i-1} h ON e.src = h.id GROUP BY e.dst) m ON v.id = m.id)"
        )
        ctes.append(f"an{i} AS (SELECT SQRT(SUM(araw * araw)) AS nrm FROM ar{i})")
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT id, CASE WHEN (SELECT nrm FROM an{i}) > 0 "
            f"THEN araw / (SELECT nrm FROM an{i}) ELSE 0.0 END AS auth FROM ar{i})"
        )
        ctes.append(
            f"hr{i} AS MATERIALIZED (SELECT v.id, COALESCE(m.s, 0.0) AS hraw "
            f"FROM v LEFT JOIN (SELECT e.src AS id, SUM(a.auth) AS s "
            f"FROM e JOIN a{i} a ON e.dst = a.id GROUP BY e.src) m ON v.id = m.id)"
        )
        ctes.append(f"hn{i} AS (SELECT SQRT(SUM(hraw * hraw)) AS nrm FROM hr{i})")
        ctes.append(
            f"h{i} AS MATERIALIZED (SELECT id, CASE WHEN (SELECT nrm FROM hn{i}) > 0 "
            f"THEN hraw / (SELECT nrm FROM hn{i}) ELSE 0.0 END AS hub FROM hr{i})"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT h{k}.id, CAST(ROUND(h{k}.hub * 1000000) AS BIGINT) AS hub_e6, "
        f"CAST(ROUND(a{k}.auth * 1000000) AS BIGINT) AS auth_e6 "
        f"FROM h{k} JOIN a{k} ON h{k}.id = a{k}.id"
    )


def _ppr_sql(k: int, sources: list[int]) -> str:
    """Unrolled k-iteration personalized PageRank: teleport mass goes
    only to the seed set (pref = 1/|S| on seeds, 0 elsewhere)."""
    srcs = sorted(set(sources))  # match personalized_pagerank's dedup
    src_list = ", ".join(str(s) for s in srcs)
    pref = 1.0 / len(srcs)
    pref_of = f"CASE WHEN {{col}} IN ({src_list}) THEN {pref!r} ELSE 0.0 END"
    ctes = [
        f"e AS MATERIALIZED ({TESTDATA_EDGES_SQL})",
        f"v AS MATERIALIZED ({_VERTS_BI})",
        "deg AS MATERIALIZED (SELECT v.id, CAST(COALESCE(d.cnt, 0) AS DOUBLE) AS outdeg "
        "FROM v LEFT JOIN (SELECT src, COUNT(*) AS cnt FROM e GROUP BY src) d "
        "ON v.id = d.src)",
        f"r0 AS MATERIALIZED (SELECT id, {pref_of.format(col='id')} AS rank FROM v)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"m{i} AS MATERIALIZED (SELECT e.dst AS id, SUM(r.rank / deg.outdeg) AS acc "
            f"FROM e JOIN r{i-1} r ON e.src = r.id JOIN deg ON deg.id = e.src "
            f"GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT v.id, 0.85 * COALESCE(m{i}.acc, 0.0) "
            f"+ 0.15 * {pref_of.format(col='v.id')} AS rank "
            f"FROM v LEFT JOIN m{i} ON v.id = m{i}.id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, CAST(ROUND(rank * 1000000000) AS BIGINT) AS rank_e9 FROM r{k}"
    )


# The page fixture realizes the bidirectional 100-vertex chain over 97
# hosts (url_of: host = page % 97) — the host-level rollup is closed-form.
_HOST_GRAPH_SQL = """
WITH le AS (
  SELECT r.range AS s, r.range + 1 AS d FROM range(99) r
  UNION ALL
  SELECT r.range + 1 AS s, r.range AS d FROM range(99) r
)
SELECT 'site' || CAST(s % 97 AS VARCHAR) || '.example' AS src_host,
       'site' || CAST(d % 97 AS VARCHAR) || '.example' AS dst_host,
       CAST(COUNT(*) AS BIGINT) AS n_links
FROM le GROUP BY 1, 2
""".strip()


def _q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.algorithms.hits import hits

    g = testdata_graph(spark, sf_dir)
    out = hits(g, iterations=HITS_K)
    return out.select(
        "id",
        F.round(F.col("hub") * 1e6).cast("long").alias("hub_e6"),
        F.round(F.col("auth") * 1e6).cast("long").alias("auth_e6"),
    )


def _q_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.algorithms.pagerank import personalized_pagerank

    g = testdata_graph(spark, sf_dir)
    res = personalized_pagerank(
        g, sources=PPR_SOURCES, epsilon=None, max_iterations=PPR_K
    )
    return res.state.select(
        "id", F.round(F.col("rank") * 1e9).cast("long").alias("rank_e9")
    )


def _q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ingest on the synthesized chain-topology page table, rolled
    up to the host-level link graph (the Common-Crawl host graph)."""
    from olive_spark.fixtures import chain_graph
    from olive_spark.ingest.pages import synth_pages
    from olive_spark.ingest.resolve import host_graph_edges

    n, e = chain_graph(100)
    pages = synth_pages(spark, n, e, num_partitions=8)
    return host_graph_edges(pages)



# --- appended (r2): k-core peeling over the chain page graph ----------------

KCORE_K = 3
KCORE_R = 5

# The chain fixture stores each undirected edge as two directed rows
# and kcore symmetrizes again (multigraph semantics): chain ends have
# degree 2, interior vertices 4. At k=3 the 100-vertex chain peels
# exactly one vertex per end per round, so after R rounds the surviving
# core candidate set is {R .. 99-R} in closed form (pytest pins the
# general engine-vs-numpy parity on non-chain shapes; the contract pins
# the exact bounded-round semantics).
_KCORE_SQL = f"""
SELECT CAST(r.range AS BIGINT) AS id,
       CAST(CASE WHEN r.range BETWEEN {KCORE_R} AND {99 - KCORE_R}
            THEN 1 ELSE 0 END AS INT) AS in_core
FROM range(100) r
""".strip()


def _q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.algorithms.kcore import kcore
    from olive_spark.fixtures import chain_graph
    from olive_spark.graph import Graph

    n, e = chain_graph(100)
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=8)
    res = kcore(g, k=KCORE_K, max_rounds=KCORE_R)
    return res.state.select("id", F.col("in_core").cast("int").alias("in_core"))



# --- appended (r2): near-dup clustering + corpus n-gram counts --------------

DEDUP_CC_K = 6


def _dedup_clusters_sql(k: int) -> str:
    """Canonical-doc assignment: exact all-pairs Jaccard >= 0.5 pairs
    (the verified-pair oracle, == minhash_near_duplicates output) as an
    undirected graph, then k unrolled min-label rounds — identical
    semantics to dedup_clusters(iterations=k)."""
    ctes = [
        f"pe AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM ({_JACCARD_SQL}) jj)",
        "sym AS MATERIALIZED (SELECT src, dst FROM pe "
        "UNION ALL SELECT dst AS src, src AS dst FROM pe)",
        "v AS MATERIALIZED (SELECT DISTINCT CAST(doc_id AS BIGINT) AS id FROM documents)",
        "l0 AS MATERIALIZED (SELECT id, id AS label FROM v)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"m{i} AS MATERIALIZED (SELECT s.dst AS id, MIN(l.label) AS ml "
            f"FROM sym s JOIN l{i-1} l ON s.src = l.id GROUP BY s.dst)"
        )
        ctes.append(
            f"l{i} AS MATERIALIZED (SELECT v.id, "
            f"CAST(LEAST(p.label, COALESCE(m{i}.ml, p.label)) AS BIGINT) AS label "
            f"FROM v JOIN l{i-1} p ON v.id = p.id LEFT JOIN m{i} ON v.id = m{i}.id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id AS doc_id, label AS canonical_id FROM l{k}"
    )


_NGRAM_COUNTS_SQL = r"""
WITH w AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS words
  FROM documents
),
g AS (
  SELECT doc_id, unnest(
           list_transform(range(1, greatest(len(words) - 2, 0) + 2),
                          i -> array_to_string(words[i:i+1], ' '))) AS ngram
  FROM w
),
gf AS (SELECT doc_id, ngram FROM g WHERE length(ngram) > 0)
SELECT ngram,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM gf GROUP BY ngram HAVING COUNT(*) >= 5
""".strip()


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.pipeline.dedup import dedup_clusters, minhash_near_duplicates

    register_testdata_views(spark, sf_dir)
    docs = spark.table("documents")
    pairs = minhash_near_duplicates(docs, threshold=0.5, num_hashes=32, bands=16)
    return dedup_clusters(docs, pairs, iterations=DEDUP_CC_K)


def _q_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.pipeline.textstats import ngram_counts

    register_testdata_views(spark, sf_dir)
    return ngram_counts(spark.table("documents"), n=2, min_count=5)



# ---------------------------------------------------------------------------
# Round 4: per-vertex local clustering coefficient — the classic
# web-graph cohesion statistic (2*tri / (deg*(deg-1)) on the simple
# undirected graph; 0 where deg < 2). Shares the degree-oriented
# triangle plan; lcc fixed-point rounded to e9 like rank_e9 so the
# hash compare is exact across engines.
# ---------------------------------------------------------------------------

_CLUSTERING_SQL = f"""
WITH e AS ({TESTDATA_TRI_EDGES_SQL}),
v AS ({_VERTS_TRI}),
und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM e WHERE src <> dst),
deg AS (SELECT id, COUNT(*) AS deg FROM (
          SELECT a AS id FROM und UNION ALL SELECT b FROM und) s GROUP BY id),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
        JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
members AS (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
pv AS (SELECT v.id, COALESCE(m.cnt, 0) AS t, COALESCE(deg.deg, 0) AS d
       FROM v LEFT JOIN (SELECT id, COUNT(*) AS cnt FROM members GROUP BY id) m
         ON v.id = m.id
       LEFT JOIN deg ON v.id = deg.id)
SELECT id, CAST(t AS BIGINT) AS triangles, CAST(d AS BIGINT) AS deg,
       CAST(ROUND(CASE WHEN d >= 2 THEN (2.0 * t) / (d * (d - 1)) ELSE 0.0 END * 1000000000) AS BIGINT) AS lcc_e9
FROM pv
""".strip()


def _q_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.algorithms.triangles import local_clustering

    g = testdata_tri_graph(spark, sf_dir)
    out = local_clustering(g)
    return out.select(
        "id",
        F.col("triangles").cast("long").alias("triangles"),
        F.col("deg").cast("long").alias("deg"),
        F.round(F.col("lcc") * 1e9).cast("long").alias("lcc_e9"),
    )



# ---------------------------------------------------------------------------
# Round 4: per-target anchor-text profile over the ingest path — the
# web ranking / query-expansion signal. The page fixture encodes the
# bidirectional 100-chain with anchor text "Link from {i} to page {j}"
# (pages.html_of), so the oracle is closed-form SQL.
# ---------------------------------------------------------------------------

_ANCHOR_STATS_SQL = """
WITH r AS (SELECT range AS i FROM range(99)),
e AS (SELECT i AS src, i + 1 AS dst FROM r
      UNION ALL SELECT i + 1 AS src, i AS dst FROM r),
a AS (SELECT 'https://site' || CAST(dst % 97 AS VARCHAR) || '.example/p'
               || lpad(CAST(dst AS VARCHAR), 8, '0') AS dst_url,
             'Link from ' || CAST(src AS VARCHAR) || ' to page '
               || CAST(dst AS VARCHAR) AS anchor
      FROM e)
SELECT dst_url,
       CAST(COUNT(*) AS BIGINT) AS n_anchors,
       CAST(COUNT(DISTINCT anchor) AS BIGINT) AS n_unique_anchors,
       MIN(anchor) AS first_anchor,
       CAST(SUM(len(string_split(anchor, ' '))) AS BIGINT) AS anchor_tokens
FROM a GROUP BY dst_url
""".strip()


def _q_anchor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.fixtures import chain_graph
    from olive_spark.ingest.extract import anchor_stats, extract_anchors_df
    from olive_spark.ingest.pages import synth_pages

    n, e = chain_graph(100)
    pages = synth_pages(spark, n, e, num_partitions=8)
    out = anchor_stats(extract_anchors_df(pages))
    return out.select(
        "dst_url",
        F.col("n_anchors").cast("long").alias("n_anchors"),
        F.col("n_unique_anchors").cast("long").alias("n_unique_anchors"),
        "first_anchor",
        F.col("anchor_tokens").cast("long").alias("anchor_tokens"),
    )



# --- round 5: BLAS brute-force kNN (Arrow matmul path) ----------------------
# Same contract as emb_knn_top5 (so it shares _KNN_SQL verbatim): the
# mapInPandas/BLAS baseline must be row-identical to the SQL cross-join
# baseline — the strongest cross-path equivalence statement available
# for the similarity family.


def _q_knn_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olive_spark.pipeline.similarity import brute_force_knn_arrow

    register_testdata_views(spark, sf_dir)
    emb = spark.table("embeddings")
    queries_df = emb.filter(F.col("vec_id").isin(0, 1, 2))
    out = brute_force_knn_arrow(emb, queries_df, k=5)
    return out.select(
        "query_id",
        "vec_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("cosine") * 1e4).cast("long").alias("cosine_e4"),
    )


# ---------------------------------------------------------------------------
# The contract registry: query name -> Spark query, and query name ->
# DuckDB oracle SQL.
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "edge_build": _q_edges,
        "edge_build_tri": _q_tri_edges,
        "out_degrees": _q_degrees,
        "degree_histogram": _q_degree_hist,
        "pagerank_k5": _q_pagerank,
        "cc_k8": _q_cc,
        "bfs_k6": _q_bfs,
        "labelprop_k3": _q_lp,
        "triangle_total": _q_tri_total,
        "triangle_per_vertex": _q_tri_per_vertex,
        "doc_exact_dedup": _q_exact_dedup,
        "doc_token_stats": _q_token_stats,
        "doc_lang_markers": _q_lang_markers,
        "emb_cosine_scores": _q_cosine,
        "doc_minhash_lsh": _q_minhash_lsh,
        "pages_ingest_degrees": _q_pages_ingest,
        "emb_knn_top5": _q_knn,
        "doc_simhash": _q_simhash,
        "weighted_pagerank_k5": _q_wpagerank,
        "weighted_sssp_k6": _q_wsssp,
        "doc_ngram_jaccard": _q_jaccard,
        "emb_ivf_top5": _q_ivf,
        "emb_near_dup_pairs": _q_emb_neardup,
        "doc_fingerprints": _q_fingerprints,
        "hits_k3": _q_hits,
        "ppr_k5": _q_ppr,
        "pages_host_graph": _q_host_graph,
        "kcore3_chain_r5": _q_kcore,
        "doc_dedup_clusters": _q_dedup_clusters,
        "doc_ngram_counts": _q_ngram_counts,
        "clustering_coeff": _q_clustering,
        "pages_anchor_stats": _q_anchor_stats,
        "emb_knn_blas_top5": _q_knn_blas,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "edge_build": TESTDATA_EDGES_SQL,
        "edge_build_tri": TESTDATA_TRI_EDGES_SQL,
        "out_degrees": _DEGREES_SQL,
        "degree_histogram": _DEGREE_HIST_SQL,
        "pagerank_k5": _pagerank_sql(PR_K),
        "cc_k8": _cc_sql(CC_K),
        "bfs_k6": _bfs_sql(BFS_K, BFS_SOURCE),
        "labelprop_k3": _lp_sql(LP_K),
        "triangle_total": _TRI_TOTAL_SQL,
        "triangle_per_vertex": _TRI_PER_VERTEX_SQL,
        "doc_exact_dedup": _EXACT_DEDUP_SQL,
        "doc_token_stats": _TOKEN_STATS_SQL,
        "doc_lang_markers": _LANG_MARKER_SQL,
        "emb_cosine_scores": _COSINE_SQL,
        "emb_knn_top5": _KNN_SQL,
        "weighted_pagerank_k5": _wpagerank_sql(WPR_K),
        "weighted_sssp_k6": _wsssp_sql(WSSSP_K, 0),
        "doc_ngram_jaccard": _JACCARD_SQL,
        "doc_simhash": _simhash_sql(),
        "doc_minhash_lsh": _JACCARD_SQL,
        "pages_ingest_degrees": _PAGES_DEGREES_SQL,
        "emb_ivf_top5": _KNN_SQL,
        "emb_near_dup_pairs": _EMB_NEARDUP_SQL,
        "doc_fingerprints": _FINGERPRINT_SQL,
        "hits_k3": _hits_sql(HITS_K),
        "ppr_k5": _ppr_sql(PPR_K, PPR_SOURCES),
        "pages_host_graph": _HOST_GRAPH_SQL,
        "kcore3_chain_r5": _KCORE_SQL,
        "doc_dedup_clusters": _dedup_clusters_sql(DEDUP_CC_K),
        "doc_ngram_counts": _NGRAM_COUNTS_SQL,
        "clustering_coeff": _CLUSTERING_SQL,
        "pages_anchor_stats": _ANCHOR_STATS_SQL,
        "emb_knn_blas_top5": _KNN_SQL,
    }
