"""The shared loop core: job tags, conf scoping and per-step records."""

from __future__ import annotations

import pytest

from olive_spark.algorithms.cc import connected_components
from olive_spark.algorithms.kcore import kcore
from olive_spark.algorithms.pagerank import pagerank_fixed
from olive_spark.fixtures import chain_graph
from olive_spark.graph import Graph
from olive_spark.pregel import stable_partitioning

_KEYS = (
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.shuffle.partitions",
)


def _chain(spark):
    n, e = chain_graph(30)
    return Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)


def test_loops_keep_callers_job_group(spark):
    """Loop steps are told apart by job tags, which stack on top of the
    caller's job group instead of replacing it: the group is still set
    after the loops, and every loop job belongs to it (so
    ``sc.cancelJobGroup`` reaches a running loop)."""
    sc = spark.sparkContext
    g = _chain(spark)
    sched = sc._jsc.sc().dagScheduler()
    sc.setJobGroup("caller-group", "a caller's own job group")
    try:
        j0 = sched.nextJobId()
        pagerank_fixed(g, 2).free()
        kcore(g, 3, max_rounds=2)
        j1 = sched.nextJobId()
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        in_group = set(sc.statusTracker().getJobIdsForGroup("caller-group"))
    finally:
        sc._jsc.clearJobGroup()
    assert j1 > j0
    assert set(range(j0, j1)) <= in_group
    g.unpersist()


@pytest.fixture
def outer_conf(spark):
    """Outer values that differ from every value a section sets."""
    saved = {k: spark.conf.get(k) for k in _KEYS}
    outer = dict(zip(_KEYS, ("true", "true", "5")))
    for k, v in outer.items():
        spark.conf.set(k, v)
    yield outer
    for k, v in saved.items():
        spark.conf.set(k, v)


def test_conf_restored_when_section_raises(spark, outer_conf):
    for kwargs in ({}, {"disable_aqe": True, "shuffle_partitions": 3}):
        with pytest.raises(RuntimeError):
            with stable_partitioning(spark, **kwargs):
                raise RuntimeError("section failed")
        assert {k: spark.conf.get(k) for k in _KEYS} == outer_conf


def test_nested_degrees_scope_restores_outer_conf(spark, outer_conf):
    g = _chain(spark)  # fresh graph: degrees() builds inside the loop scope
    with stable_partitioning(spark, disable_aqe=True, shuffle_partitions=3):
        loop = {k: spark.conf.get(k) for k in _KEYS}
        assert loop["spark.sql.shuffle.partitions"] == "3"
        g.degrees()
        assert {k: spark.conf.get(k) for k in _KEYS} == loop
    assert {k: spark.conf.get(k) for k in _KEYS} == outer_conf
    g.unpersist()


def test_degrees_cached_on_graph_width(spark, outer_conf):
    """Graph.degrees() pins the shuffle width to the graph's P: the
    cached table is hash(id, P) by construction even when the session
    width (5 here, AQE on) is not P and the edge table is not laid out
    by src, so the out-degree aggregate has to exchange."""
    from pyspark.sql import functions as F

    p = 3
    edges = spark.range(30).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % 30).alias("dst"), F.lit(1.0).alias("weight")
    )
    g = Graph(vertices=spark.range(30).repartition(p, "id").cache(), edges=edges, num_partitions=p)
    deg = g.degrees()
    placed = deg.select("outdeg", (F.spark_partition_id() == F.pmod(F.hash("id"), F.lit(p))).alias("ok"))
    assert [tuple(r) for r in placed.distinct().collect()] == [(1, True)]
    g.unpersist()


def test_loop_records_share_one_key_set(spark):
    """pregel programs and k-core report the same per-step record, and
    a step whose plan an earlier step compiled compiles no class."""
    g = _chain(spark)
    runs = [pagerank_fixed(g, 3), connected_components(g), kcore(g, 3, max_rounds=2)]
    key_sets = {frozenset(m) for r in runs for m in r.metrics}
    assert len(key_sets) == 1, key_sets
    assert {"superstep", "ms", "active", "compiles", "stages", "tasks"} <= next(iter(key_sets))
    assert [m["compiles"] for m in runs[0].metrics][1:] == [0, 0]
    kc = runs[2]
    assert [m["superstep"] for m in kc.metrics] == [1, 2]
    assert [m["active"] for m in kc.metrics] == [2, 2]  # one peel per chain end
    assert kc.free_failures == 0
    runs[0].free()
    runs[1].free()
    g.unpersist()
