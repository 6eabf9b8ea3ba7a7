"""HITS and personalized PageRank vs numpy oracles; host-graph rollup
vs the closed-form chain fixture."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from olive_spark import oracle
from olive_spark.algorithms.hits import hits
from olive_spark.algorithms.pagerank import personalized_pagerank
from olive_spark.fixtures import (
    acyclic_graph,
    grid_graph,
    isolated_graph,
    ordered_graph_9,
    star_graph,
)
from olive_spark.graph import Graph


def _vec(rows, n, col):
    d = {r["id"]: r[col] for r in rows}
    assert len(d) == n
    return np.array([d[i] for i in range(n)])


@pytest.mark.parametrize(
    "fix",
    [ordered_graph_9(), star_graph(60), acyclic_graph(25), isolated_graph(20)],
    ids=["ordered9", "star60", "acyclic25", "isolated20"],
)
def test_hits_parity(spark, fix):
    """Exactly-K-round HITS == numpy to float noise. Covers hub skew
    (star), dangling (acyclic) and the all-zero no-edge case (isolated:
    norms are 0, scores must be 0, not NaN)."""
    n, e = fix
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    rows = hits(g, iterations=3).collect()
    exp_hub, exp_auth = oracle.hits_fixed(n, e, iterations=3)
    assert np.allclose(_vec(rows, n, "hub"), exp_hub, atol=1e-9)
    assert np.allclose(_vec(rows, n, "auth"), exp_auth, atol=1e-9)


def test_hits_zero_iterations_raises(spark):
    """ADVICE r2: iterations=0 used to crash with auth=None at the final
    join; now it is rejected up front."""
    n, e = ordered_graph_9()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    with pytest.raises(ValueError):
        hits(g, iterations=0)


def test_reversed_edges_layout(spark):
    """Graph.reversed_edges(): same multiset of edges with src/dst
    swapped, weights preserved, duplicates kept."""
    n, e = ordered_graph_9()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    fwd = sorted((r["src"], r["dst"], r["weight"]) for r in g.edges.collect())
    rev = sorted((r["dst"], r["src"], r["weight"])
                 for r in g.reversed_edges().collect())
    assert fwd == rev


def test_hits_star_shape(spark):
    """On the star graph the center receives links from every spoke, so
    it dominates authority; hub scores are symmetric (every spoke points
    at the one big authority, and the center's hub mass spreads over 39
    tiny authorities — both L2-normalize to ~1/sqrt(n))."""
    n, e = star_graph(40)
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    rows = {r["id"]: r for r in hits(g, iterations=3).collect()}
    assert rows[0]["auth"] > rows[1]["auth"] * 2
    hubs = [rows[i]["hub"] for i in range(n)]
    assert max(hubs) == pytest.approx(min(hubs), rel=0.2)


@pytest.mark.parametrize(
    "fix, sources",
    [(grid_graph(), [0]), (ordered_graph_9(), [0, 3]), (star_graph(50), [5])],
    ids=["grid-single", "ordered9-multi", "star-spoke"],
)
def test_personalized_pagerank_parity(spark, fix, sources):
    n, e = fix
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    res = personalized_pagerank(g, sources=sources, epsilon=None, max_iterations=8)
    got = _vec(res.state.collect(), n, "rank")
    exp = oracle.personalized_pagerank_fixed(n, e, sources, iterations=8)
    assert np.allclose(got, exp, atol=1e-9)


def test_personalized_pagerank_seeds_dominate(spark):
    """Teleport mass only reaches the component of the seed: on the
    isolated graph only seeds have non-zero rank."""
    n, e = isolated_graph(30)
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    res = personalized_pagerank(g, sources=[7], epsilon=None, max_iterations=5)
    d = {r["id"]: r["rank"] for r in res.state.collect()}
    assert d[7] == pytest.approx(0.15, abs=1e-12)  # (1-d)*1 after round 1+
    assert all(v == 0.0 for i, v in d.items() if i != 7)


def test_personalized_pagerank_dataframe_seeds_match_list(spark):
    """DataFrame seed sets (broadcast-join path) == list seeds (isin
    literal path), including seed dedup."""
    n, e = grid_graph()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    seeds = [0, 3, 3, 7]  # dup on purpose
    a = personalized_pagerank(g, sources=seeds, epsilon=None, max_iterations=6)
    seed_df = spark.createDataFrame([(s,) for s in seeds], schema="id long")
    b = personalized_pagerank(g, sources=seed_df, epsilon=None, max_iterations=6)
    va = _vec(a.state.collect(), n, "rank")
    vb = _vec(b.state.collect(), n, "rank")
    assert np.allclose(va, vb, atol=1e-12)


def test_personalized_pagerank_large_seed_set_no_literals(spark):
    """A seed list above PPR_SEED_LITERAL_MAX routes through the
    broadcast vertex_attrs join: the optimized init plan contains no
    giant In-list, and the result still matches the oracle."""
    from olive_spark.algorithms.pagerank import PPR_SEED_LITERAL_MAX
    from olive_spark.pregel import PregelProgram, _init_state

    n = PPR_SEED_LITERAL_MAX + 500
    e = [(i, (i + 1) % n) for i in range(n)]  # ring
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    sources = list(range(PPR_SEED_LITERAL_MAX + 100))
    res = personalized_pagerank(g, sources=sources, epsilon=None, max_iterations=3)
    got = _vec(res.state.collect(), n, "rank")
    exp = oracle.personalized_pagerank_fixed(n, e, sources, iterations=3)
    assert np.allclose(got, exp, atol=1e-12)
    # plan check: init base with a DataFrame attr side shows a broadcast
    # join, not an In(...) literal over the seed ids
    seed_df = spark.createDataFrame([(s,) for s in sources], schema="id long")
    attrs = seed_df.withColumn("_is_seed", F.lit(True))
    prog = PregelProgram(
        init={"pref": F.coalesce(F.col("_is_seed"), F.lit(False)).cast("double")},
        gather=F.lit(0.0), agg=F.sum, update={},
    )
    plan = _init_state(g, prog, attrs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert " IN (" not in plan


def test_personalized_pagerank_empty_sources(spark):
    n, e = ordered_graph_9()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    with pytest.raises(ValueError):
        personalized_pagerank(g, sources=[])


def test_host_graph_rollup(spark):
    """Chain(12) pages over 97 hosts -> host pairs with exact counts;
    with n < 97 every page is its own host, so the rollup equals the
    page-level edge multiset."""
    from olive_spark.fixtures import chain_graph
    from olive_spark.ingest.pages import synth_pages
    from olive_spark.ingest.resolve import host_graph_edges

    n, e = chain_graph(12)
    pages = synth_pages(spark, n, e, num_partitions=4)
    hosts = host_graph_edges(pages)
    got = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in hosts.collect()
    }
    exp = {}
    for s, d in e:
        key = (f"site{s % 97}.example", f"site{d % 97}.example")
        exp[key] = exp.get(key, 0) + 1
    assert got == exp
    # the host parse stays JVM-side (F.parse_url): the only Python nodes
    # are the Arrow-batch page synth and link extraction, never a
    # row-at-a-time BatchEvalPython
    plan = hosts._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan


def test_host_graph_aggregates_across_pages(spark):
    """Pages 1 and 98 share host site1.example (98 % 97 == 1): links
    from both pages to page 0's host must aggregate into ONE row."""
    from olive_spark.ingest.pages import synth_pages
    from olive_spark.ingest.resolve import host_graph_edges

    edges = [(1, 0), (98, 0), (98, 0)]
    pages = synth_pages(spark, 99, edges, num_partitions=4)
    got = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in host_graph_edges(pages).collect()
    }
    assert got == {("site1.example", "site0.example"): 3}
