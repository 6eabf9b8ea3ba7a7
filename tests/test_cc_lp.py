"""Connected components + label propagation vs oracles."""

from __future__ import annotations

import numpy as np
import pytest

from olive_spark import oracle
from olive_spark.algorithms.cc import connected_components
from olive_spark.algorithms.labelprop import label_propagation
from olive_spark.fixtures import (
    chain_graph,
    grid_graph,
    isolated_graph,
    maxflow_graph,
    ordered_graph_9,
    star_graph,
)
from olive_spark.graph import Graph


def vec(res, col, n):
    d = {r["id"]: r[col] for r in res.state.collect()}
    assert len(d) == n
    return np.array([d[i] for i in range(n)])


def two_components():
    # chain 0-4 and chain 10-14 (directed one-way: closure must symmetrize),
    # plus isolated vertices 20..22
    e = [(i, i + 1) for i in range(4)] + [(i, i + 1) for i in range(10, 14)]
    return 23, e


CASES = [
    ("ordered9", ordered_graph_9()),
    ("grid15", grid_graph()),
    ("star100", star_graph(100)),
    ("maxflow100", maxflow_graph()),
    ("two_comp", two_components()),
    ("isolated50", isolated_graph(50)),
]


@pytest.mark.parametrize("name,fix", CASES, ids=[c[0] for c in CASES])
def test_cc(spark, name, fix):
    n, e = fix
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    res = connected_components(g)
    assert res.converged
    got = vec(res, "component", n)
    exp = oracle.connected_components(n, e)
    assert (got == exp).all()


def test_cc_fixed_rounds_parity(spark):
    """K frontier-driven min-label rounds == K synchronous full-frontier
    rounds (numpy), mid-convergence: an unchanged label has nothing new
    to send."""
    for n, e in (maxflow_graph(), chain_graph(40)):
        g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
        for k in (1, 3):
            got = vec(connected_components(g, max_iterations=k), "component", n)
            exp = oracle.cc_min_label_fixed(n, e, iterations=k)
            assert (got == exp).all(), (n, k)


@pytest.mark.parametrize(
    "name,fix,iters",
    [
        ("ordered9", ordered_graph_9(), 5),
        ("grid15", grid_graph(), 4),
        ("star60", star_graph(60), 3),
        ("two_comp", two_components(), 6),
    ],
    ids=["ordered9", "grid15", "star60", "two_comp"],
)
def test_label_propagation(spark, name, fix, iters):
    """Synchronous LP, deterministic min-label tie-break, fixed rounds."""
    n, e = fix
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    res = label_propagation(g, iterations=iters)
    got = vec(res, "label", n)
    exp = oracle.label_propagation(n, e, iters)
    assert (got == exp).all()


@pytest.mark.parametrize("name,fix", CASES, ids=[c[0] + "_stars" for c in CASES])
def test_cc_stars(spark, name, fix):
    """Alternating-star contraction CC == union-find oracle (O(log n)
    rounds; covers the high-diameter regime min-label cannot)."""
    from olive_spark.algorithms.cc import connected_components_stars

    n, e = fix
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    out = connected_components_stars(g)
    got = np.array([r["component"] for r in out.orderBy("id").collect()])
    exp = oracle.connected_components(n, e)
    assert (got == exp).all()


def test_cc_stars_long_chain(spark):
    """1000-vertex chain: diameter 999, star contraction converges in
    O(log n) rounds (frontier min-label would need 1000 supersteps)."""
    from olive_spark.algorithms.cc import connected_components_stars
    from olive_spark.fixtures import chain_graph

    n, e = chain_graph(1000)
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    rounds: list = []
    out = connected_components_stars(g, round_metrics=rounds)
    assert out.filter("component != 0").count() == 0  # single component, min id 0
    # one {round, edges, ms} record per round; the last round repeats
    # the previous edge set (the star rooted at 0: n-1 edges)
    assert [set(r) for r in rounds] == [{"round", "edges", "ms"}] * len(rounds)
    assert [r["round"] for r in rounds] == list(range(1, len(rounds) + 1))
    assert 2 <= len(rounds) <= 20
    assert rounds[-1]["edges"] == rounds[-2]["edges"] == n - 1
