"""Loop plan shapes and jobs per step, pinned.

Each loop's per-step physical plan is read back from Spark's SQL status
store: a step's lazy snapshot records the full plan of the step when it
is planned, so the test sees exactly the plan the engine executes, not a
re-derivation of it. Pinned per plan:

- the number of Exchange, Sort and SortMergeJoin nodes OUTSIDE
  cached-relation subtrees (a layout's one-time build inside an
  InMemoryRelation is amortized, not per step);
- no Exchange between a cached-relation scan and the join or aggregate
  that consumes it, i.e. no cached edge layout is re-shuffled per step.

Jobs per step are counted from the scheduler's job ids, as the
difference between two calls on warm layouts that differ by one step.

The graphs are small in-repo fixtures at 4 partitions; the compact loop
layout is held off (``graph.LOOP_ROWS_PER_PARTITION = 1``) so the pinned
plans are the multi-partition shapes, not the 1-partition shortcut.
"""

from __future__ import annotations

import importlib
import itertools
import re

import pytest
from pyspark.sql import functions as F

from olive_spark.algorithms.hits import hits
from olive_spark.algorithms.kcore import kcore
from olive_spark.algorithms.labelprop import label_propagation
from olive_spark.algorithms.pagerank import pagerank, pagerank_fixed
from olive_spark.algorithms.triangles import triangle_count
from olive_spark.checkpoint import CheckpointStore
from olive_spark.fixtures import chain_graph, grid_graph
import olive_spark.graph as graph_module
from olive_spark.graph import Graph
from olive_spark.pregel import ACCUM, PregelProgram, pregel, src

# the module, not the ``olive_spark.pregel`` function the package exports
loop_core = importlib.import_module("olive_spark.pregel")

_NODE = re.compile(r"^([\s:+|-]*)(?:\*(?:\(\d+\))?\s*)?([A-Za-z]+)")


def _nodes(plan: str, inside_cache: bool = False) -> list[tuple[int, str]]:
    """(depth, operator) of every plan node outside cached-relation
    subtrees. ``inside_cache``: the plan is a cached DataFrame's; take
    the first cached relation's own plan instead (still skipping any
    relation cached inside it)."""
    tree = plan.split("== Physical Plan ==")[-1].strip("\n").split("\n\n")[0]
    nodes = []
    for line in tree.splitlines():
        m = _NODE.match(line)
        if m:
            nodes.append((len(m.group(1)), m.group(2)))
    if inside_cache:
        first = next(i for i, (_, n) in enumerate(nodes) if n == "InMemoryRelation")
        nodes = nodes[first + 1:]
    out, skip = [], None
    for d, n in nodes:
        if skip is not None and d > skip:
            continue
        skip = d if n == "InMemoryRelation" else None
        out.append((d, n))
    return out


def _shape(plans: list[str], inside_cache: bool = False) -> dict:
    """Summed operator counts over ``plans``; asserts the cached-scan
    invariant on each."""
    counts = {"Exchange": 0, "Sort": 0, "SortMergeJoin": 0}
    for plan in plans:
        nodes = _nodes(plan, inside_cache)
        for i, (d, n) in enumerate(nodes):
            if n in counts:
                counts[n] += 1
            if n != "InMemoryTableScan":
                continue
            for dj, nj in reversed(nodes[:i]):
                if dj >= d:
                    continue
                if "Join" in nj or nj.endswith("Aggregate"):
                    break
                assert nj != "Exchange", f"Exchange above a cached scan:\n{plan}"
                d = dj
    return counts


def _snapshot_plans(spark, fn):
    """Run ``fn``; return its result and the plans of the lazy snapshots
    (``localCheckpoint``) it planned, in order. Executions are told
    apart by id: the store keeps only the most recent ones, so its list
    length stops growing in a long session."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def newest_first():
        ex = store.executionsList()
        return (ex.apply(i) for i in range(ex.size() - 1, -1, -1))

    bus.waitUntilEmpty()
    last = next((e.executionId() for e in newest_first()), -1)
    out = fn()
    bus.waitUntilEmpty()
    new = itertools.takewhile(lambda e: e.executionId() > last, newest_first())
    plans = [e.physicalPlanDescription() for e in new
             if e.description().startswith("localCheckpoint")]
    return out, plans[::-1]


def _jobs(spark, fn) -> int:
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    fn()
    return sched.nextJobId() - j0


@pytest.fixture(scope="module")
def graphs(spark):
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graph_module, "LOOP_ROWS_PER_PARTITION", 1)
        n, e = grid_graph(4, 6)
        grid = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
        n, e = chain_graph(30)
        chain = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
        yield {"grid": grid, "chain": chain}
        grid.unpersist()
        chain.unpersist()


def _cc_program():
    return PregelProgram(
        init={"component": F.col("id")},
        gather=src("component"),
        agg=F.min,
        update={"component": ACCUM()},
        cond=ACCUM() < F.col("component"),
        full_frontier=False,
    )


def test_pagerank_step_plan(spark, graphs):
    res, plans = _snapshot_plans(spark, lambda: pagerank_fixed(graphs["grid"], 2))
    res.free()
    assert _shape(plans[-1:]) == {"Exchange": 1, "Sort": 0, "SortMergeJoin": 0}


@pytest.mark.parametrize("threshold, join", [(10**9, "BroadcastHashJoin"),
                                             (-1, "ShuffledHashJoin")])
def test_cc_step_plan(spark, graphs, threshold, join, monkeypatch):
    g = graphs["chain"].symmetrized()
    monkeypatch.setattr(loop_core, "BROADCAST_THRESHOLD", threshold)
    res, plans = _snapshot_plans(spark, lambda: pregel(g, _cc_program(), max_iterations=2))
    res.free()
    assert join in plans[-1].split("\n\n")[0]
    # the broadcast is a BroadcastExchange, not a shuffle Exchange
    assert _shape(plans[-1:]) == {"Exchange": 1, "Sort": 0, "SortMergeJoin": 0}


def test_labelprop_step_plan(spark, graphs):
    res, plans = _snapshot_plans(spark, lambda: label_propagation(graphs["grid"], 2))
    res.free()
    assert _shape(plans[-1:]) == {"Exchange": 1, "Sort": 0, "SortMergeJoin": 0}


def test_hits_round_plan(spark, graphs):
    # round 2: both half-round snapshots (authority, hub) of one round
    _, plans = _snapshot_plans(spark, lambda: hits(graphs["grid"], 2))
    assert _shape(plans[-2:]) == {"Exchange": 4, "Sort": 0, "SortMergeJoin": 0}


def test_kcore_round_plan(spark, graphs):
    _, plans = _snapshot_plans(spark, lambda: kcore(graphs["chain"], 3, max_rounds=2))
    assert _shape(plans[-1:]) == {"Exchange": 1, "Sort": 0, "SortMergeJoin": 0}


def test_triangles_plan(spark, graphs):
    per, _ = triangle_count(graphs["grid"])
    plan = per._jdf.queryExecution().executedPlan().toString()
    per.unpersist()
    assert _shape([plan], inside_cache=True) == {"Exchange": 2, "Sort": 0, "SortMergeJoin": 0}


def test_ingest_edge_table_plan(spark):
    from olive_spark.ingest.pages import synth_pages
    from olive_spark.ingest.resolve import build_graph_from_pages

    n, e = chain_graph(200)
    pages = synth_pages(spark, n, e, num_partitions=4)
    g, _ = build_graph_from_pages(spark, pages, id_method="hash", num_partitions=4)
    plan = g.edges._jdf.queryExecution().executedPlan().toString()
    g.unpersist()
    assert _shape([plan], inside_cache=True) == {"Exchange": 1, "Sort": 0, "SortMergeJoin": 0}


def test_jobs_per_step(spark, graphs, tmp_path):
    g, chain = graphs["grid"], graphs["chain"]
    # warm the layouts every call below reuses, so each difference counts
    # steps only (HITS builds the reversed layout on its first call)
    pagerank_fixed(g, 1).free()
    hits(g, 1)
    kcore(chain, 3, max_rounds=1)

    def durable(k):
        store = CheckpointStore(spark, f"file://{tmp_path}/ckpt{k}", run_id="jobs")
        pagerank(g, epsilon=None, max_iterations=k, checkpoint_store=store).free()

    per_step = {
        "local": _jobs(spark, lambda: pagerank_fixed(g, 3).free())
        - _jobs(spark, lambda: pagerank_fixed(g, 2).free()),
        "durable": _jobs(spark, lambda: durable(3)) - _jobs(spark, lambda: durable(2)),
        "hits": _jobs(spark, lambda: hits(g, 3)) - _jobs(spark, lambda: hits(g, 2)),
        "kcore": _jobs(spark, lambda: kcore(chain, 3, max_rounds=3))
        - _jobs(spark, lambda: kcore(chain, 3, max_rounds=2)),
    }
    # a durable step's one job is its snapshot write (the barrier is
    # observed in it); a HITS round is one barrier job plus one broadcast
    # job for each of its two L2-norm rows (the 1-row norms are
    # broadcast-joined back)
    assert per_step == {"local": 1, "durable": 1, "hits": 3, "kcore": 1}
