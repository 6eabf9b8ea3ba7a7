"""Round-6 optimization regression guards.

Each test pins an internal behavior changed by the optimization round:
outdeg elimination, symmetrized-closure memoization, the AQE-off loop
snapshot partitioning (the per-superstep state exchange), the hits
restricted-table bit-identity, the triangles degree-broadcast fallback,
and the ingest hash fast path's dangling-target semantics.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import olive_spark.graph as graph_module
from olive_spark.graph import Graph


@pytest.fixture(scope="module")
def spark():
    from olive_spark.session import get_spark

    return get_spark(app_name="test_r06_opt", master="local[4]",
                     shuffle_partitions=4)


def _ring(n):
    return [(i, (i + 1) % n) for i in range(n)]


# --- outdeg elimination ----------------------------------------------------

def test_uses_outdeg_detection(spark):
    from olive_spark.pregel import ACCUM, PregelProgram, _uses_outdeg, src

    pr = PregelProgram(
        init={"rank": F.lit(0.1)},
        gather=src("rank") / src("outdeg"),
        agg=F.sum,
        update={"rank": ACCUM()},
    )
    assert _uses_outdeg(pr)
    cc = PregelProgram(
        init={"component": F.col("id")},
        gather=src("component"),
        agg=F.min,
        update={"component": ACCUM()},
        cond=ACCUM() < F.col("component"),
    )
    assert not _uses_outdeg(cc)


def test_degree_free_program_skips_degree_aggregation(spark):
    """A program that never references outdeg must not force the degree
    aggregation: its init state comes straight from the vertex table."""
    from olive_spark.pregel import PregelProgram, _init_state, _uses_outdeg

    g = Graph.from_edge_list(spark, _ring(64), n_vertices=64, num_partitions=4)
    prog = PregelProgram(
        init={"label": F.col("id")},
        gather=F.col("s.label"),
        agg=F.min,
        update={"label": F.col("accum")},
    )
    assert not _uses_outdeg(prog)
    st = _init_state(g, prog, None, with_outdeg=False)
    assert st.columns == ["id", "label"]
    # and the graph's lazily-cached degrees were never materialized
    assert g._degrees is None


# --- symmetrized memoization ----------------------------------------------

def test_symmetrized_memoized_and_shared_vertices(spark):
    g = Graph.from_edge_list(spark, _ring(32), n_vertices=32, num_partitions=4)
    s1 = g.symmetrized()
    s2 = g.symmetrized()
    assert s1 is s2, "closure layout must be built once per graph"
    assert s1.vertices is g.vertices, "closure shares the cached vertex table"
    assert s1.edges.count() == 2 * g.edges.count()
    # unpersist cascades and clears the memo
    g.unpersist()
    assert g._symmetrized is None


def test_cc_and_labelprop_share_one_closure(spark):
    from olive_spark.algorithms.cc import connected_components
    from olive_spark.algorithms.labelprop import label_propagation

    g = Graph.from_edge_list(spark, _ring(48), n_vertices=48, num_partitions=4)
    cc = connected_components(g)
    assert cc.state.filter(F.col("component") != 0).count() == 0
    sym_after_cc = g._symmetrized
    assert sym_after_cc is not None, "cc must leave the memoized closure in place"
    lp = label_propagation(g, iterations=2)
    assert g._symmetrized is sym_after_cc, "labelprop must reuse cc's closure"
    assert lp.state.count() == 48
    g.unpersist()


# --- AQE-off loop snapshots keep their partitioning ------------------------

def test_superstep_state_side_has_no_exchange(spark):
    """The r6 plan finding: under AQE a localCheckpoint records unknown
    partitioning and the vertex-phase join re-exchanges the state every
    superstep. The loops run AQE-off; pin that the steady-state
    superstep plan has NO Exchange above the state-side scan — its only
    Exchange is the message aggregate."""
    import re

    from olive_spark.pregel import (
        ACCUM,
        PregelProgram,
        _build_superstep,
        _init_state,
        _prepare_superstep_exprs,
        src,
        stable_partitioning,
    )

    g = Graph.from_edge_list(spark, _ring(64), n_vertices=64, num_partitions=4)
    g.degrees().count()
    prog = PregelProgram(
        init={"rank": F.lit(1.0 / 64)},
        gather=src("rank") / src("outdeg"),
        agg=F.sum,
        update={"rank": F.lit(0.85) * ACCUM() + F.lit(0.15 / 64)},
        accum_default=0.0,
        full_frontier=True,
    )
    with stable_partitioning(spark, disable_aqe=True):
        state = _init_state(g, prog, None, with_outdeg=True).localCheckpoint(
            eager=False
        )
        state.count()
        exprs = _prepare_superstep_exprs(prog, ["rank"], True)
        new_state = _build_superstep(g.edges, state, prog, exprs, 64)
        plan = new_state._jdf.queryExecution().executedPlan().toString()
    # exactly one planner-inserted shuffle in the whole superstep (the
    # message aggregate); the cached edge relation's stored build plan
    # (REPARTITION_BY_NUM) is not a per-superstep exchange
    n_ex = len(re.findall(r"ENSURE_REQUIREMENTS", plan))
    assert n_ex == 1, plan
    # the superstep itself compiles without AQE (root is codegen, not
    # AdaptiveSparkPlan; the substring may appear inside the cached
    # relation's stored plan)
    assert not plan.lstrip().startswith("AdaptiveSparkPlan"), plan


# --- hits restricted iteration bit-identity --------------------------------

def test_hits_restricted_tables_bit_identical_to_dense(spark):
    """The r6 hits iterates on restricted score tables; zero-score rows
    contribute exact +0.0 terms, so scores must be BIT-identical to a
    dense verts-complete reference implementation."""
    from olive_spark.algorithms.hits import hits

    # ragged digraph incl. a sink (no out-edges), a source (no
    # in-edges) and an isolated vertex 9
    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (4, 2), (5, 6), (7, 0), (0, 1)]
    n = 10
    g = Graph.from_edge_list(spark, edges, n_vertices=n, num_partitions=4)
    got = {r["id"]: (r["hub"], r["auth"]) for r in hits(g, iterations=3).collect()}

    # dense numpy reference with the same semantics
    hub = np.ones(n)
    auth = np.zeros(n)
    for _ in range(3):
        a_raw = np.zeros(n)
        for s, d in edges:
            a_raw[d] += hub[s]
        nrm = np.sqrt((a_raw ** 2).sum())
        auth = a_raw / nrm if nrm > 0 else np.zeros(n)
        h_raw = np.zeros(n)
        for s, d in edges:
            h_raw[s] += auth[d]
        nrm = np.sqrt((h_raw ** 2).sum())
        hub = h_raw / nrm if nrm > 0 else np.zeros(n)

    assert set(got) == set(range(n))
    for i in range(n):
        assert got[i][0] == pytest.approx(hub[i], abs=1e-12), f"hub {i}"
        assert got[i][1] == pytest.approx(auth[i], abs=1e-12), f"auth {i}"
    # the isolated vertex and the pure source/sink rows exist with 0.0
    assert got[9] == (0.0, 0.0)


# --- triangles: broadcast degree attach vs shuffle fallback ----------------

def test_triangles_broadcast_and_fallback_agree(spark, monkeypatch):
    import olive_spark.algorithms.triangles as T

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (5, 0), (1, 0)]
    g = Graph.from_edge_list(spark, edges, n_vertices=8, num_partitions=4)
    per_b, tot_b = T.triangle_count(g)
    rows_b = sorted((r["id"], r["triangles"]) for r in per_b.collect())
    monkeypatch.setattr(T, "TRI_DEG_BROADCAST_MAX", 0)  # force fallback
    per_s, tot_s = T.triangle_count(g)
    rows_s = sorted((r["id"], r["triangles"]) for r in per_s.collect())
    assert tot_b == tot_s == 2
    assert rows_b == rows_s


# --- ingest hash fast path: dangling targets dropped identically -----------

def test_ingest_hash_fast_path_drops_dangling_targets(spark):
    """Pages link to a url OUTSIDE the page set; the hash fast path's
    semi-join must drop it exactly like the string-join resolve."""
    from olive_spark.ingest.extract import extract_links_df
    from olive_spark.ingest.pages import synth_pages, url_of
    from olive_spark.ingest.resolve import (
        assign_ids,
        build_graph_from_pages,
        resolve_edges,
    )

    n = 30
    # edges reference page 40/45 which do NOT exist in the page table
    edges = [(i, i + 1) for i in range(n - 1)] + [(3, 40), (7, 45), (3, 40)]
    pages = synth_pages(spark, n, edges, num_partitions=4)
    g, verts = build_graph_from_pages(spark, pages, id_method="hash",
                                      num_partitions=4)
    # reference: string-join resolve over the same pages
    links = extract_links_df(pages)
    vertices = assign_ids(pages.select("url").distinct(), method="hash")
    ref = resolve_edges(links, vertices)
    got = sorted((r["src"], r["dst"]) for r in g.edges.collect())
    exp = sorted((r["src"], r["dst"]) for r in ref.collect())
    assert got == exp
    assert len(got) == n - 1  # the three dangling-target links dropped
    assert verts.count() == n
    # sanity: the dangling url really was emitted by the extractor
    assert links.filter(F.col("dst_url") == url_of(40)).count() == 2


def test_shuffle_metrics_collected_lazily(spark, monkeypatch):
    """Without a checkpoint store, the AppStatusStore reads happen on
    first .metrics access, not inside the superstep loop (the in-loop
    reads cost ~40-80ms/superstep of py4j round trips); the deferred
    read returns the same per-superstep fields."""
    from olive_spark import metrics as M
    from olive_spark.algorithms.pagerank import pagerank_fixed

    calls: list[int] = []
    orig = M.SuperstepMetricsCollector.collect

    def counting(self, superstep):
        calls.append(superstep)
        return orig(self, superstep)

    monkeypatch.setattr(M.SuperstepMetricsCollector, "collect", counting)
    # pin the compact loop layout OFF: at the default target this tiny
    # ring would compact to ONE partition, where the message aggregate
    # needs no exchange at all and shuffle_read_bytes is legitimately 0
    # — this test wants a real shuffle to assert the deferred fields on
    monkeypatch.setattr(graph_module, "LOOP_ROWS_PER_PARTITION", 1)
    g = Graph.from_edge_list(spark, _ring(12), n_vertices=12, num_partitions=4)
    res = pagerank_fixed(g, iterations=3)
    # loop finished without a single store read...
    assert calls == []
    ms = list(res.metrics)
    # ...first access reads every superstep exactly once, same fields
    assert calls == [1, 2, 3]
    assert len(ms) == 3
    for m in ms:
        assert m["shuffle_read_bytes"] > 0
        assert m["executor_run_ms"] > 0
        assert m["ms"] > 0
    # repeated access does not re-read
    _ = len(res.metrics)
    assert calls == [1, 2, 3]
    res.free()
    g.unpersist()


# --- compact loop layout (scale-adaptive partitioning) ---------------------

def test_loop_layout_hysteresis_and_memo(spark, monkeypatch):
    """loop_layout compacts only when it at least halves the partition
    count, derives P from the measured edge count, memoizes the layout,
    and graph.unpersist() cascades to it."""
    g = Graph.from_edge_list(spark, _ring(64), n_vertices=64, num_partitions=4)
    # target below E/2 per partition -> p > num_partitions//2 -> no-op
    monkeypatch.setattr(graph_module, "LOOP_ROWS_PER_PARTITION", 22)  # p=3 > 2
    assert g.loop_layout() is g
    # default target -> p=1 <= 2 -> compact
    monkeypatch.undo()
    c = g.loop_layout()
    assert c is not g
    assert c.num_partitions == 1
    assert c.edges.rdd.getNumPartitions() == 1
    # memoized: same object on re-request
    assert g.loop_layout() is c
    # same rows, either layout
    assert c.edge_count() == g.edge_count() == 64
    assert c.vertex_count() == 64
    # cascade release
    g.unpersist()
    assert g._compact is None


def test_pregel_on_compact_layout_matches_uncompacted(spark, monkeypatch):
    """PageRank over the compacted loop layout is value-identical to the
    run with compaction pinned off (same program, same graph)."""
    from olive_spark.algorithms.pagerank import pagerank_fixed

    edges = _ring(50) + [(0, 25), (25, 0), (7, 7)]
    monkeypatch.setattr(graph_module, "LOOP_ROWS_PER_PARTITION", 1)  # off
    g1 = Graph.from_edge_list(spark, edges, n_vertices=50, num_partitions=4)
    r1 = pagerank_fixed(g1, iterations=8)
    plain = {row["id"]: row["rank"] for row in r1.state.collect()}
    r1.free(); g1.unpersist()

    monkeypatch.undo()  # default: compacts
    g2 = Graph.from_edge_list(spark, edges, n_vertices=50, num_partitions=4)
    assert g2.loop_layout().num_partitions == 1
    r2 = pagerank_fixed(g2, iterations=8)
    compact = {row["id"]: row["rank"] for row in r2.state.collect()}
    r2.free(); g2.unpersist()

    assert set(plain) == set(compact)
    for k in plain:
        assert abs(plain[k] - compact[k]) < 1e-12
