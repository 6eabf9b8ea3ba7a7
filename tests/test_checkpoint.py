"""Durable checkpoints: lineage metrics + resume-equals-straight-run."""

from __future__ import annotations

import importlib
import os
import re

import numpy as np
from pyspark.sql import Observation, Row
from pyspark.sql import functions as F

from olive_spark.algorithms.pagerank import pagerank
from olive_spark.algorithms.bfs import bfs
from olive_spark.algorithms.cc import connected_components
from olive_spark.checkpoint import _LINEAGE_SCHEMA, CheckpointStore
from olive_spark.fixtures import grid_graph, chain_graph
import olive_spark.graph as graph_module
from olive_spark.graph import Graph
from olive_spark.metrics import SuperstepMetricsCollector


def ranks(res):
    return {r["id"]: r["rank"] for r in res.state.collect()}


def test_checkpoint_and_lineage(spark, tmp_path):
    n, e = grid_graph()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    store = CheckpointStore(spark, str(tmp_path / "ckpt"), run_id="r1")
    res = pagerank(g, epsilon=None, max_iterations=5, checkpoint_store=store,
                   checkpoint_every=1)
    assert res.supersteps == 5
    assert store.latest_superstep() == 5
    lin = store.lineage()
    cols = set(lin.columns)
    assert cols == {"run_id", "superstep", "partition_id", "rows", "bytes", "ms"}
    # every superstep logged; row counts sum to N per superstep
    per_step = {r["superstep"]: r["total"] for r in
                lin.groupBy("superstep").sum("rows").withColumnRenamed("sum(rows)", "total").collect()}
    assert set(per_step) == {1, 2, 3, 4, 5}
    assert all(v == n for v in per_step.values())


def test_superstep_shuffle_metrics(spark, tmp_path, monkeypatch):
    """comp/comm split per superstep (olive.h:131-150 analogue): the
    multi-partition run must record nonzero shuffle read+write bytes
    and executor time for every superstep, both in PregelResult.metrics
    and in the CheckpointStore supersteps log. The compact loop layout
    is held off, so the run really is multi-partition (the 15-vertex
    grid would otherwise loop at P=1)."""
    monkeypatch.setattr(graph_module, "LOOP_ROWS_PER_PARTITION", 1)
    n, e = grid_graph()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    store = CheckpointStore(spark, str(tmp_path / "ckpt_sh"), run_id="rsh")
    res = pagerank(g, epsilon=None, max_iterations=3, checkpoint_store=store)
    assert len(res.metrics) == 3
    for m in res.metrics:
        assert m["shuffle_read_bytes"] > 0
        assert m["shuffle_write_bytes"] > 0
        assert m["executor_run_ms"] > 0
        assert m["tasks"] > 0
        assert m["comp_ms"] >= 0
    logged = store.superstep_metrics()
    assert len(logged) == 3
    assert all(m["shuffle_read_bytes"] > 0 for m in logged)


def test_resume_equals_straight_run(spark, tmp_path):
    """Kill after superstep k, resume from checkpoint -> identical final
    state (north-rule resumability; SURVEY.md §5 property test)."""
    n, e = grid_graph()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)

    straight = pagerank(g, epsilon=None, max_iterations=10)
    r_straight = ranks(straight)

    store = CheckpointStore(spark, str(tmp_path / "ckpt2"), run_id="r2")
    partial = pagerank(g, epsilon=None, max_iterations=4, checkpoint_store=store)
    assert store.latest_superstep() == 4

    resumed = pagerank(g, epsilon=None, max_iterations=10, checkpoint_store=store,
                       checkpoint_every=1, resume=True)
    assert resumed.supersteps == 10
    r_resumed = ranks(resumed)
    for i in range(n):
        assert r_straight[i] == r_resumed[i], i  # bit-identical


def test_resume_frontier_algorithm(spark, tmp_path):
    """Frontier state survives the checkpoint too (BFS mid-traversal)."""
    n, e = chain_graph(12)
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)

    straight = bfs(g, source=0)
    exp = {r["id"]: r["level"] for r in straight.state.collect()}

    store = CheckpointStore(spark, str(tmp_path / "ckpt3"), run_id="r3")
    bfs(g, source=0, max_iterations=4, checkpoint_store=store)
    resumed = bfs(g, source=0, checkpoint_store=store, resume=True)
    got = {r["id"]: r["level"] for r in resumed.state.collect()}
    assert got == exp
    assert resumed.converged


def test_crash_safety_marker(spark, tmp_path):
    """A snapshot without the commit marker is invisible to resume."""
    import os, shutil
    n, e = grid_graph()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=2)
    store = CheckpointStore(spark, str(tmp_path / "ckpt4"), run_id="r4")
    pagerank(g, epsilon=None, max_iterations=3, checkpoint_store=store)
    assert store.latest_superstep() == 3
    # simulate crash mid-write of superstep 4: dir exists, no marker
    os.makedirs(store._step_dir(4) + "/state", exist_ok=True)
    assert store.latest_superstep() == 3


def test_checkpoint_file_uri_root(spark, tmp_path):
    """The store speaks the Hadoop FileSystem API: a file:// URI root
    (the object-store code path) works end-to-end, including resume."""
    n, e = grid_graph()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    store = CheckpointStore(spark, f"file://{tmp_path}/ckpt_uri", run_id="r5")
    partial = pagerank(g, epsilon=None, max_iterations=3, checkpoint_store=store)
    assert store.latest_superstep() == 3
    resumed = pagerank(g, epsilon=None, max_iterations=6, checkpoint_store=store,
                       resume=True)
    straight = pagerank(g, epsilon=None, max_iterations=6)
    assert ranks(resumed) == ranks(straight)
    # driver-side metrics landed one object per superstep
    ms = store.superstep_metrics()
    assert [m["superstep"] for m in ms] == [1, 2, 3, 4, 5, 6]


def test_lineage_attributes_written_partitions(spark, tmp_path):
    """Lineage rows describe the WRITTEN files: distinct partition ids,
    per-file byte sizes that sum to the snapshot's real size."""
    import os

    n, e = grid_graph()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    store = CheckpointStore(spark, str(tmp_path / "ckpt_lin"), run_id="r6")
    pagerank(g, epsilon=None, max_iterations=2, checkpoint_store=store)
    lin = store.lineage().filter("superstep = 1").collect()
    assert sum(r["rows"] for r in lin) == n
    assert len({r["partition_id"] for r in lin}) == len(lin)
    state_dir = store._step_dir(1) + "/state"
    disk = sum(
        os.path.getsize(os.path.join(state_dir, f))
        for f in os.listdir(state_dir) if f.startswith("part-")
    )
    assert sum(r["bytes"] for r in lin) == disk


def _part_id(path):
    return int(re.match(r"part-(\d+)", os.path.basename(path)).group(1))


def test_lineage_rows_match_written_files(spark, tmp_path):
    """Each lineage row describes one written file: its ``rows`` equal
    that file's row count in a scan, its ``bytes`` the file's length, and
    partition ids are distinct. The state has four partitions, one of
    them empty, so several files are seen and one partition writes none
    (Spark writes a schema-only file for an empty partition 0 only)."""
    state = (
        spark.range(0, 40, 1, 4)
        .filter("id < 20 OR id >= 30")
        .withColumn("x", F.col("id") * 0.5)
    )
    assert [len(p) for p in state.rdd.glom().collect()] == [10, 10, 0, 10]
    store = CheckpointStore(spark, str(tmp_path / "ckpt_files"), run_id="r7")
    snap, _ = store.checkpoint(1, state)

    lin = store.lineage().collect()
    scanned = {
        _part_id(r["f"]): r["n"]
        for r in snap.groupBy(F.input_file_name().alias("f")).agg(F.count("*").alias("n")).collect()
    }
    state_dir = store._step_dir(1) + "/state"
    on_disk = {
        _part_id(f): os.path.getsize(os.path.join(state_dir, f))
        for f in os.listdir(state_dir) if f.startswith("part-")
    }
    assert sorted(on_disk) == [0, 1, 3]
    assert {r["partition_id"]: r["rows"] for r in lin} == scanned
    assert {r["partition_id"]: r["bytes"] for r in lin} == on_disk
    assert len({r["partition_id"] for r in lin}) == len(lin)
    assert {(r["run_id"], r["superstep"]) for r in lin} == {("r7", 1)}


def test_lineage_of_empty_snapshot(spark, tmp_path):
    """A zero-row state still appends a typed lineage row: the single
    schema-only file Spark writes, with 0 rows and its real length."""
    state = spark.range(0, 0, 1, 4).withColumn("x", F.col("id") * 0.5)
    store = CheckpointStore(spark, str(tmp_path / "ckpt_empty"), run_id="r8")
    snap, _ = store.checkpoint(1, state)
    assert snap.count() == 0

    lin = store.lineage()
    assert [(f.name, f.dataType) for f in lin.schema] == [
        (f.name, f.dataType) for f in _LINEAGE_SCHEMA
    ]
    state_dir = store._step_dir(1) + "/state"
    (only,) = [f for f in os.listdir(state_dir) if f.startswith("part-")]
    assert [tuple(r)[:5] for r in lin.collect()] == [
        ("r8", 1, _part_id(only), 0, os.path.getsize(os.path.join(state_dir, only)))
    ]


def test_durable_superstep_has_no_python_round_trip(spark, tmp_path, monkeypatch):
    """No driver rows go through a Python RDD on the durable path: once
    the graph is built, a durable PageRank runs with
    ``SparkContext.parallelize`` disabled."""
    from pyspark import SparkContext

    n, e = grid_graph()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    g.edges.count()

    def no_parallelize(*args, **kwargs):
        raise AssertionError("SparkContext.parallelize on the durable path")

    monkeypatch.setattr(SparkContext, "parallelize", no_parallelize)
    store = CheckpointStore(spark, str(tmp_path / "ckpt_jvm"), run_id="r9")
    res = pagerank(g, epsilon=None, max_iterations=2, checkpoint_store=store)
    assert res.supersteps == 2
    assert store.latest_superstep() == 2
    per_step = {r["superstep"]: r["total"] for r in
                store.lineage().groupBy("superstep").agg(F.sum("rows").alias("total")).collect()}
    assert per_step == {1: n, 2: n}


def test_repeated_superstep_lineage_is_idempotent(spark, tmp_path):
    """Re-running a step (a resume after a crash between the lineage
    write and the commit marker) replaces that step's lineage rows
    instead of adding a second copy."""
    state = spark.range(0, 40, 1, 4).withColumn("x", F.col("id") * 0.5)
    store = CheckpointStore(spark, str(tmp_path / "ckpt_rerun"), run_id="r10")
    store.checkpoint(3, state)
    store.checkpoint(3, state)
    parts = [r["partition_id"] for r in store.lineage().filter("superstep = 3").collect()]
    assert parts and len(parts) == len(set(parts))


def test_observed_barrier_of_empty_snapshot(spark, tmp_path):
    """The barrier observed in a zero-row snapshot write is a row with
    count 0, as the aggregate over an empty state would be."""
    state = spark.range(0, 0, 1, 4).withColumn("x", F.col("id") * 0.5)
    store = CheckpointStore(spark, str(tmp_path / "ckpt_obs"), run_id="r11")
    obs = Observation()
    store.checkpoint(1, state.observe(obs, F.count(F.lit(1)).alias("n")))
    assert Row(**obs.get) == state.agg(F.count(F.lit(1)).alias("n")).first() == Row(n=0)


def _active_per_step(res):
    return [m["active"] for m in res.metrics]


def test_durable_and_local_barriers_agree(spark, tmp_path):
    """The barrier observed in the durable write gives the same
    per-step frontier counts as the local path's barrier aggregate."""
    n, e = chain_graph(12)
    chain = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    n, e = grid_graph()
    grid = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    runs = {
        "bfs": lambda store: bfs(chain, source=0, checkpoint_store=store),
        "cc": lambda store: connected_components(grid, checkpoint_store=store),
    }
    for name, run in runs.items():
        local = run(None)
        store = CheckpointStore(spark, str(tmp_path / f"ckpt_{name}"), run_id=name)
        durable = run(store)
        assert _active_per_step(durable) == _active_per_step(local), name
        assert durable.supersteps == local.supersteps and durable.converged, name
        assert [m["active"] for m in store.superstep_metrics()] == _active_per_step(local)


def test_durable_convergence_stops_at_same_step(spark, tmp_path):
    """An epsilon-halted PageRank stops at the same superstep whether
    its halting sum is observed in the durable write or aggregated."""
    n, e = grid_graph()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    local = pagerank(g, epsilon=1e-7, max_iterations=100)
    store = CheckpointStore(spark, str(tmp_path / "ckpt_eps"), run_id="eps")
    durable = pagerank(g, epsilon=1e-7, max_iterations=100, checkpoint_store=store)
    assert local.converged and durable.converged
    assert durable.supersteps == local.supersteps
    assert store.latest_superstep() == local.supersteps


def test_logged_metrics_are_settled(spark, tmp_path, monkeypatch):
    """Each persisted superstep record holds its jobs' final stage
    totals: a re-read once the listener bus has drained gives the same
    numbers."""
    collectors = []

    class Recording(SuperstepMetricsCollector):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            collectors.append(self)

    # the module, not the ``olive_spark.pregel`` function the package exports
    loop_core = importlib.import_module("olive_spark.pregel")
    monkeypatch.setattr(loop_core, "SuperstepMetricsCollector", Recording)
    monkeypatch.setattr(graph_module, "LOOP_ROWS_PER_PARTITION", 1)
    n, e = grid_graph()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    store = CheckpointStore(spark, str(tmp_path / "ckpt_settled"), run_id="settled")
    pagerank(g, epsilon=None, max_iterations=3, checkpoint_store=store).free()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    (collector,) = collectors
    logged = store.superstep_metrics()
    assert [m["superstep"] for m in logged] == [1, 2, 3]
    for m in logged:
        again = collector.collect(m["superstep"])
        assert again["tasks"] > 0
        assert {k: m[k] for k in again} == again
