"""BFS and SSSP vs oracles (testBFS.cu semantics; SSSP.cu semantics)."""

from __future__ import annotations

import numpy as np
import pytest

from olive_spark import oracle
from olive_spark.algorithms.bfs import INF32, bfs
from olive_spark.algorithms.sssp import sssp
from olive_spark.fixtures import (
    acyclic_graph,
    chain_graph,
    grid_graph,
    maxflow_graph,
    ordered_graph_9,
    star_graph,
)
from olive_spark.graph import Graph


def vec(res, col, n):
    d = {r["id"]: r[col] for r in res.state.collect()}
    assert len(d) == n
    return np.array([d[i] for i in range(n)])


CASES = [
    ("ordered9", ordered_graph_9(), 0),
    ("grid15", grid_graph(), 7),
    ("chain16", chain_graph(16), 0),
    ("star100", star_graph(100), 5),
    ("maxflow100", maxflow_graph(), 0),
    ("acyclic30_mid", acyclic_graph(30), 15),  # vertices < 15 unreachable
]


@pytest.mark.parametrize("name,fix,source", CASES, ids=[c[0] for c in CASES])
def test_bfs(spark, name, fix, source):
    n, e = fix
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    res = bfs(g, source=source)
    assert res.converged  # empty-frontier termination (BFS.cu:142)
    got = vec(res, "level", n)
    exp = oracle.bfs(n, e, source)
    assert (got == exp).all()


@pytest.mark.parametrize("name,fix,source", CASES[:4], ids=[c[0] for c in CASES[:4]])
def test_sssp_unit_weights(spark, name, fix, source):
    """Unit weights (SSSP.cu:131) — distances == BFS levels."""
    n, e = fix
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    res = sssp(g, source=source)
    got = vec(res, "distance", n)
    exp = oracle.sssp(n, e, source)
    assert (got == exp).all()


def test_sssp_reuses_parent_loop_layout(spark):
    """Unit-weight SSSP loops on the graph itself: the compact loop
    layout it builds is memoized on the caller's graph, where the next
    loop reuses it, instead of on a per-call wrapper graph."""
    n, e = chain_graph(20)
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    assert g._compact is None
    res = sssp(g, source=0)
    assert (vec(res, "distance", n) == oracle.sssp(n, e, 0)).all()
    assert g._compact is not None and g._compact is g.loop_layout()
    g.unpersist()


def test_sssp_real_weights(spark):
    """General engine path: honor the edge table's weights."""
    from pyspark.sql import types as T

    rows = [(0, 1, 10.0), (0, 2, 1.0), (2, 1, 1.0), (1, 3, 1.0), (2, 3, 100.0)]
    schema = T.StructType(
        [
            T.StructField("src", T.LongType()),
            T.StructField("dst", T.LongType()),
            T.StructField("weight", T.DoubleType()),
        ]
    )
    edges = spark.createDataFrame(rows, schema)
    g = Graph.from_edges(spark, edges, vertices=spark.range(4).selectExpr("id"),
                         num_partitions=2)
    res = sssp(g, source=0, unit_weights=False)
    got = {r["id"]: r["distance"] for r in res.state.collect()}
    assert got == {0: 0, 1: 2, 2: 1, 3: 3}


def test_bfs_unreachable_is_inf(spark):
    n, e = 4, [(0, 1)]
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=2)
    got = vec(bfs(g, source=0), "level", n)
    assert got[2] == INF32 and got[3] == INF32


def test_weighted_pagerank_and_sssp(spark):
    """Weighted variants vs numpy oracles on a small weighted digraph."""
    import numpy as np
    from pyspark.sql import types as T

    from olive_spark import oracle
    from olive_spark.algorithms.pagerank import weighted_pagerank
    from olive_spark.algorithms.sssp import sssp_weighted

    rows = [(0, 1, 2.5), (0, 2, 7.5), (1, 2, 1.0), (2, 3, 0.5),
            (3, 0, 4.0), (1, 3, 10.0), (0, 1, 2.5)]  # duplicate kept
    schema = T.StructType([
        T.StructField("src", T.LongType()),
        T.StructField("dst", T.LongType()),
        T.StructField("weight", T.DoubleType()),
    ])
    edges = spark.createDataFrame(rows, schema)
    g = Graph.from_edges(spark, edges, vertices=spark.range(5).selectExpr("id"),
                         num_partitions=2)

    res = weighted_pagerank(g, epsilon=None, max_iterations=8)
    got = vec(res, "rank", 5)
    exp = oracle.weighted_pagerank_fixed(5, rows, iterations=8)
    assert np.allclose(got, exp, atol=1e-12, rtol=1e-9)

    res = sssp_weighted(g, source=0)
    got = vec(res, "distance", 5)
    exp = oracle.sssp_weighted(5, rows, 0)
    finite = np.isfinite(exp)
    assert np.allclose(got[finite], exp[finite])
    assert np.isinf(got[~finite]).all()


def test_sssp_negative_cycle_flag(spark):
    """Bellman-Ford still relaxing after |V| rounds -> the reference's
    negative-cycle break (SSSP.cu:153-157), surfaced explicitly."""
    from olive_spark.algorithms.sssp import sssp_weighted
    from olive_spark.graph import Graph

    # 3-cycle with total weight -1 reachable from source 0
    neg = Graph.from_edges(
        spark,
        spark.createDataFrame(
            [(0, 1, 1.0), (1, 2, 1.0), (2, 0, -3.0)],
            "src long, dst long, weight double",
        ),
        num_partitions=2,
    )
    res = sssp_weighted(neg, source=0)
    assert not res.converged
    assert res.negative_cycle_suspected

    # same shape, positive weights -> converges, no flag
    pos = Graph.from_edges(
        spark,
        spark.createDataFrame(
            [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 3.0)],
            "src long, dst long, weight double",
        ),
        num_partitions=2,
    )
    res2 = sssp_weighted(pos, source=0)
    assert res2.converged and not res2.negative_cycle_suspected

    # caller-chosen small cap: NOT a negative-cycle signal
    res3 = sssp_weighted(neg, source=0, max_iterations=2)
    assert not res3.converged and not res3.negative_cycle_suspected
