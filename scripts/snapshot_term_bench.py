"""Isolate the per-superstep SNAPSHOT term's scaling behavior.

The pregel superstep = (edge join + message shuffle + state join) +
snapshot materialization (localCheckpoint of the V-row state into the
block manager). Round-2/3 campaigns show the engine's 2->8-core raw
efficiency tracking ~0.1-0.15 below the host's own pure-compute
ceiling; the hypothesis (BENCH.md round-2) is that the residual is the
snapshot term — single-JVM block-manager/memory-bandwidth contention
that a real N->4N-executor cluster distributes.

This harness measures that term ALONE: a loop that does nothing but
transform + lazily localCheckpoint + materialize a V-row state (same
shape as PageRank state: id, outdeg, rank), with NO edge table and NO
message shuffle. Fresh JVM per config, interleaved, medians.

If the snapshot-only loop scales at ~X and the full superstep at ~Y
with X < Y, the snapshot term is NOT the marginal bottleneck; if
X << pure-compute ceiling, the term is host-bound and its weak scaling
is a single-JVM artifact, not an engine serialization.

Usage: python scripts/snapshot_term_bench.py [--vertices 4000000]
       [--rounds 5] [--repeats 3] [--low 2] [--high 8]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

WORKER = """
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from olive_spark.session import get_spark
from olive_spark.pregel import _free_checkpoint, stable_partitioning

cpus = int(sys.argv[1]); n_verts = int(sys.argv[2]); rounds = int(sys.argv[3])
parts = 4 * cpus
spark = get_spark(app_name=f"snap{{cpus}}", master=f"local[{{cpus}}]",
                  shuffle_partitions=parts)
with stable_partitioning(spark):
    state = (spark.range(n_verts)
             .select(F.col("id"), (F.col("id") % 100).alias("outdeg"),
                     F.lit(1.0).alias("rank"))
             .repartition(parts, "id"))
    state = state.localCheckpoint(eager=False)
    state.count()
    # warmup round
    s2 = state.withColumn("rank", F.col("rank") * 0.85 + 0.15).localCheckpoint(eager=False)
    s2.count(); _free_checkpoint(state); state = s2
    times = []
    for _ in range(rounds):
        t0 = time.monotonic()
        new = state.withColumn("rank", F.col("rank") * 0.85 + 0.15).localCheckpoint(
            eager=False)
        new.agg(F.sum("rank")).first()
        times.append((time.monotonic() - t0) * 1000.0)
        _free_checkpoint(state); state = new
    raw = lambda: spark.range(400_000_000, numPartitions=parts).agg(
        F.avg(F.pmod(F.xxhash64("id"), F.lit(1000)))).collect()
    raw()
    r0 = time.monotonic(); raw(); raw(); raw_dt = (time.monotonic() - r0) / 2
print(json.dumps({{"cpus": cpus, "rounds_ms": [round(t, 1) for t in times],
                   "median_ms": sorted(times)[len(times) // 2],
                   "best_ms": min(times), "raw_sec": raw_dt}}))
"""


def run_once(repo: str, cpus: int, n_verts: int, rounds: int) -> dict:
    script = WORKER.format(repo=repo)
    out = subprocess.run(
        [sys.executable, "-c", script, str(cpus), str(n_verts), str(rounds)],
        capture_output=True, text=True, check=True,
    )
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--vertices", type=int, default=4_000_000)
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--low", type=int, default=2)
    ap.add_argument("--high", type=int, default=8)
    args = ap.parse_args()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    runs: dict[int, list[dict]] = {args.low: [], args.high: []}
    for _ in range(args.repeats):
        for cpus in (args.low, args.high):
            runs[cpus].append(run_once(repo, cpus, args.vertices, args.rounds))

    lo = runs[args.low]
    hi = runs[args.high]
    med = lambda rs, k: statistics.median(r[k] for r in rs)
    best = lambda rs, k: min(r[k] for r in rs)
    ratio = args.high / args.low
    speed_med = med(lo, "median_ms") / med(hi, "median_ms")
    speed_best = best(lo, "best_ms") / best(hi, "best_ms")
    machine = med(lo, "raw_sec") / med(hi, "raw_sec")
    summary = {
        "vertices": args.vertices,
        "repeats": args.repeats,
        f"snapshot_ms_local{args.low}": round(med(lo, "median_ms"), 1),
        f"snapshot_ms_local{args.high}": round(med(hi, "median_ms"), 1),
        f"best_ms_local{args.low}": round(best(lo, "best_ms"), 1),
        f"best_ms_local{args.high}": round(best(hi, "best_ms"), 1),
        "snapshot_speedup_median": round(speed_med, 3),
        "snapshot_speedup_best": round(speed_best, 3),
        "machine_pure_compute_speedup": round(machine, 3),
        "snapshot_raw_efficiency": round(speed_med / ratio, 3),
        "snapshot_raw_efficiency_best": round(speed_best / ratio, 3),
        "per_run_lo": [r["rounds_ms"] for r in lo],
        "per_run_hi": [r["rounds_ms"] for r in hi],
    }
    print(json.dumps(summary))

    stamp = time.strftime("%Y-%m-%d %H:%M:%S")
    with open(os.path.join(repo, "BENCH.md"), "a") as fh:
        fh.write(
            f"\n## Snapshot-term isolation {stamp}\n\n"
            f"Snapshot-only loop (transform + lazy localCheckpoint + "
            f"materialize, {args.vertices:,}-row 3-column state, NO edges/"
            f"shuffle), median of {args.repeats} fresh-JVM runs x "
            f"{args.rounds} rounds: local[{args.low}] "
            f"{summary[f'snapshot_ms_local{args.low}']}ms vs "
            f"local[{args.high}] {summary[f'snapshot_ms_local{args.high}']}ms "
            f"per round (best {summary[f'best_ms_local{args.low}']} / "
            f"{summary[f'best_ms_local{args.high}']}ms) -> snapshot-term "
            f"speedup {summary['snapshot_speedup_median']}x (best "
            f"{summary['snapshot_speedup_best']}x) vs machine pure-compute "
            f"{summary['machine_pure_compute_speedup']}x over {ratio:.0f}x "
            f"cores; raw efficiency of the term alone = "
            f"{summary['snapshot_raw_efficiency']} (best "
            f"{summary['snapshot_raw_efficiency_best']}).\n"
        )


if __name__ == "__main__":
    main()
