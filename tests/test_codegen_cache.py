"""Spark's codegen class cache holds the engine's working set.

``spark.sql.codegen.cache.maxEntries`` is a static conf that
``get_spark`` sets. At Spark's default of 100 the whole-stage classes of
the six algorithms below do not fit: the cache evicts classes before
they are reused, and a repeated run recompiles them all with Janino.
"""

from __future__ import annotations

from olive_spark.algorithms.cc import connected_components
from olive_spark.algorithms.hits import hits
from olive_spark.algorithms.kcore import kcore
from olive_spark.algorithms.labelprop import label_propagation
from olive_spark.algorithms.pagerank import pagerank_fixed
from olive_spark.algorithms.triangles import triangle_count
from olive_spark.fixtures import chain_graph, grid_graph, star_graph
from olive_spark.graph import Graph


def _compiles(spark) -> int:
    """Generated classes the JVM has compiled so far."""
    return int(spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
               .METRIC_COMPILATION_TIME().getCount())


def _fixture_pass(spark) -> int:
    """Run six algorithms on three fixtures; returns the compiles."""
    c0 = _compiles(spark)
    for n, edges in (grid_graph(), chain_graph(12), star_graph(12)):
        g = Graph.from_edge_list(spark, edges, n_vertices=n, num_partitions=4)
        pagerank_fixed(g, 3).free()
        hits(g, 2).collect()
        label_propagation(g, 2).free()
        triangle_count(g)
        kcore(g, 2)
        connected_components(g).free()
        g.unpersist()
    return _compiles(spark) - c0


def test_codegen_cache_holds_the_working_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    _fixture_pass(spark)
    assert _fixture_pass(spark) == 0
