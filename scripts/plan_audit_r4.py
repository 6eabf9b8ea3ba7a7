"""Round-4 plan audit: the round-4 plan guarantees. (The round-3
invariants — no per-round Exchange above a cached edge scan in the
HITS and k-core rounds — are pinned by tests/test_loop_plans.py.)

Checks:
1. Personalized PageRank with a large seed set (> PPR_SEED_LITERAL_MAX)
   builds its init base via a BROADCAST join of the seed DataFrame —
   no In-list literal of seed ids anywhere in the optimized plan
   (round-3 finding #2).
2. The CSR gather (cogroup-applyInPandas) plan re-exchanges only the
   narrow per-partition PARTIALS and the (id, value) state — the
   cached E-sized block table is scanned in place.

Usage: python scripts/plan_audit_r4.py  (exit 0 = all invariants hold)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def audit_ppr_seed_plan(spark) -> None:
    from olive_spark.algorithms.pagerank import PPR_SEED_LITERAL_MAX
    from olive_spark.graph import Graph
    from olive_spark.pregel import PregelProgram, _init_state

    n = PPR_SEED_LITERAL_MAX + 500
    e = [(i, (i + 1) % n) for i in range(n)]
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    seeds = spark.createDataFrame(
        [(s,) for s in range(PPR_SEED_LITERAL_MAX + 100)], schema="id long"
    ).withColumn("_is_seed", F.lit(True))
    prog = PregelProgram(
        init={"pref": F.coalesce(F.col("_is_seed"), F.lit(False)).cast("double")},
        gather=F.lit(0.0), agg=F.sum, update={},
    )
    plan = _init_state(g, prog, seeds)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert " IN (" not in plan, "seed ids leaked into an In-list literal"
    print("=== ppr large-seed init: ok (broadcast join, no In-list literal)")


def audit_csr_gather_plan(spark) -> None:
    from olive_spark.csr import build_blocks, gather_sum
    from olive_spark.fixtures import grid_graph
    from olive_spark.graph import Graph

    n, e = grid_graph()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    blocks = build_blocks(g)
    blocks.count()  # materialize the cache, as the superstep loop does
    state = g.degrees().withColumn("rank", (F.col("id") + 1).cast("double"))
    acc = gather_sum(blocks, state, "rank", g.num_partitions)
    plan = acc._jdf.queryExecution().executedPlan().toString()
    # Outer region (everything above the cache-build InMemoryRelation):
    # the only Exchanges allowed are hash exchanges of the NARROW sides —
    # the (id, value, pid) state entering the cogroup and the (id,
    # partial) partial sums entering the final aggregate. The cached
    # block table must be scanned via InMemoryTableScan with no Exchange
    # between it and the cogroup.
    outer = plan.split("InMemoryRelation")[0]
    assert "InMemoryTableScan" in plan, plan
    lines = outer.splitlines()
    scan_idx = [i for i, l in enumerate(lines) if "InMemoryTableScan" in l]
    assert scan_idx, "cached block scan missing from outer plan"
    import re

    def indent(line: str) -> int:
        m = re.match(r"^[\s:+|-]*", line)
        return len(m.group(0)) if m else 0

    for i in scan_idx:
        d = indent(lines[i])
        for j in range(i - 1, -1, -1):
            dj = indent(lines[j])
            if dj < d:
                if "FlatMapCoGroupsInPandas" in lines[j] or "CoGroup" in lines[j]:
                    break
                assert "Exchange" not in lines[j] or "ReusedExchange" in lines[j], (
                    f"Exchange above cached CSR block scan: {lines[j].strip()}"
                )
                d = dj
    blocks.unpersist()
    print("=== csr gather: ok (cached blocks scanned in place; only narrow sides exchange)")


def main():
    from olive_spark.session import get_spark

    spark = get_spark(app_name="plan_audit_r4", master="local[4]",
                      shuffle_partitions=4)
    audit_ppr_seed_plan(spark)
    audit_csr_gather_plan(spark)
    print("plan_audit_r4: all invariants hold")


if __name__ == "__main__":
    main()
