"""PageRank vs the numpy oracle (reference semantics, testPageRank.cu)."""

from __future__ import annotations

import numpy as np
import pytest

from olive_spark import oracle
from olive_spark.algorithms.pagerank import pagerank, pagerank_fixed
from olive_spark.fixtures import (
    acyclic_graph,
    all_fixtures,
    grid_graph,
    isolated_graph,
    ordered_graph_9,
    singleton_graph,
    star_graph,
)
from olive_spark.graph import Graph


def ranks_vec(res, n):
    d = {r["id"]: r["rank"] for r in res.state.collect()}
    assert len(d) == n
    return np.array([d[i] for i in range(n)])


def test_converged_grid(spark):
    """Full convergence run: err < 1e-7 (PageRank.cu:106-108)."""
    n, e = grid_graph()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    res = pagerank(g, epsilon=1e-7, max_iterations=100)
    assert res.converged
    got = ranks_vec(res, n)
    exp = oracle.pagerank(n, e)
    assert np.allclose(got, exp, atol=1e-6)


@pytest.mark.parametrize(
    "fix",
    [
        ordered_graph_9(),
        acyclic_graph(30),
        star_graph(100),
        isolated_graph(50),
        singleton_graph(),
    ],
    ids=["ordered9", "acyclic30", "star100", "isolated50", "singleton"],
)
def test_fixed_iterations_parity(spark, fix):
    """Exactly-K-round parity: Spark == numpy to float noise.

    Covers: dangling sink (acyclic: last vertex outdeg 0 -> mass lost,
    SURVEY.md §1.4), hub skew (star), no-edge graphs (isolated rank =
    (1-d)/N after round 1), N=1 degenerate."""
    n, e = fix
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    res = pagerank_fixed(g, iterations=12)
    got = ranks_vec(res, n)
    exp = oracle.pagerank_fixed(n, e, iterations=12)
    assert np.allclose(got, exp, atol=1e-12, rtol=1e-9)


def test_duplicate_edges_counted(spark):
    """Duplicate edges are NOT deduped (csrGraph.h:106-171 keeps them)."""
    e = [(0, 1), (0, 1), (0, 2)]  # 0 sends 2/3 of its rank to 1
    g = Graph.from_edge_list(spark, e, n_vertices=3, num_partitions=2)
    res = pagerank_fixed(g, iterations=8)
    got = ranks_vec(res, 3)
    exp = oracle.pagerank_fixed(3, e, iterations=8)
    assert np.allclose(got, exp, atol=1e-12, rtol=1e-9)
    assert got[1] > got[2]  # the duplicate edge doubled 1's share


def test_order_independence(spark):
    """disorderedGraph_9 == orderedGraph_9 (same graph, shuffled input) —
    a case the reference *loader* mishandles (csrGraph.h:149-160); our
    engine defines truth on the graph (SURVEY.md §5)."""
    fx = all_fixtures()
    results = []
    for name in ("orderedGraph_9", "disorderedGraph_9"):
        n, e = fx[name]
        g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
        results.append(ranks_vec(pagerank_fixed(g, iterations=10), n))
    assert np.allclose(results[0], results[1], atol=0, rtol=0)


def test_partition_count_invariance(spark):
    """Same result at 2 vs 8 partitions (bitwise-tolerant: float sums may
    associate differently across partitionings; 1e-12 tolerance)."""
    n, e = grid_graph()
    outs = []
    for p in (2, 8):
        g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=p)
        outs.append(ranks_vec(pagerank_fixed(g, iterations=10), n))
    assert np.allclose(outs[0], outs[1], atol=1e-12)
