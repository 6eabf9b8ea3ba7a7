"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload rank-power --seed 1 --seconds 3 --trace 0

Run it from the root of a checkout: the engine package ``olive_spark`` is
imported from there, and generated inputs, Spark scratch space and span
dumps go to ``.perfbench_work/`` there. Without the engine package the
run exits with status 2 and prints no result.

Protocol (one process, one client, closed loop: the next job starts only
after the previous one and its check have finished):
1. generate the workload's tables from ``--seed`` and compute the serial
   reference's results from them (untimed);
2. set up once: start the JVM and the session, and load the input into
   the state the job reads. ``setup_s`` is the time from process start
   until then, less step 1;
3. run the job once (``cold_run_s``: its first run in this JVM);
4. repeat the job until ``--seconds`` of job time have been measured,
   and at least once (``run_s`` is the median repeat; with the
   benchmark's ``--seconds`` this is exactly one, the second job in the
   JVM);
5. check every job's outputs against the serial reference, outside the
   timings; a job that raised or mismatched counts as failed.

With ``--trace 1`` the set-up, the cold job and half of the warm
repeats (in the order untraced, traced, traced, untraced, ...) are
traced, and the per-layer metrics are printed instead of the end-to-end
ones; the untraced repeats give the tracing overhead. The last line of
stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback


def _process_age_s() -> float:
    """Seconds since this process started (Linux; 0 elsewhere)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return 0.0
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


#: process start on the perf_counter clock
T_PROCESS = time.perf_counter() - _process_age_s()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
#: stop repeating after this much wall time, so a run ends within 180 s
MAX_WALL_S = 140.0
#: warm repeats an untraced run makes at least. One: a run's fixed part
#: (JVM start, set-up, cold job) already takes most of its time budget,
#: and over runs on a shared host the first warm job's time spread less
#: than the later ones' (PROTOCOL.md, "Host noise")
MIN_REPEATS = 1
#: traced and untraced warm repeats a traced run makes at least
TRACE_REPEATS = 2


def _cpu_ticks() -> tuple[float, float]:
    """(steal, total) CPU ticks from /proc/stat; (0, 0) elsewhere. Only
    user..steal are summed: guest time is already counted in user."""
    try:
        with open("/proc/stat") as f:
            vals = [float(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0.0, 0.0
    return (vals[7] if len(vals) > 7 else 0.0), sum(vals)


def _isolate(local: str) -> dict:
    """Keep Spark's scratch and temp files and the Python workers'
    imports inside the checkout; returns the session's extra conf.

    The benchmark writes nowhere outside its checkout, so Spark's shuffle
    scratch is on the checkout's file system, not on the tmpfs that
    ``get_spark`` picks by default: a change to that default does not
    show in these figures."""
    tmp = os.path.join(local, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    os.environ["OLIVE_SPARK_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in /tmp from the launcher JVM or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(local, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin reaches EOF
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = T_PROCESS

    sys.path.insert(0, ROOT)
    try:
        import olive_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from olive_spark.session import get_spark

    local = os.path.join(WORK, f"spark-{os.getpid()}")
    conf = _isolate(local)

    import gen
    import report
    from spans import Tracer
    from workloads import CrawlChain, RankPower

    workloads = {"rank-power": RankPower(), "crawl-chain": CrawlChain(os.path.join(local, "jobs"))}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)}",
              file=sys.stderr)
        return 2
    wl = workloads[args.workload]
    nproc = len(os.sched_getaffinity(0))
    phases = {"start": time.perf_counter() - t_start}
    # set-up time up to here; generating the inputs and the reference is not set-up
    setup_s = phases["start"]
    t0 = time.perf_counter()
    inputs, tables = gen.materialize(WORK, wl.name, args.seed, wl.size)
    phases["inputs"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    ref = wl.reference(tables)
    phases["reference"] = time.perf_counter() - t0
    tr = Tracer(enabled=bool(args.trace))
    attempted = failed = 0
    steal: dict[str, float] = {}

    def run_job(name: str, ctx: dict, spark):
        """One timed job; returns (job span index, outputs), or
        (None, None) when it raised."""
        nonlocal attempted, failed
        tr.run = name
        attempted += 1
        gc0 = tr.gc_ms() if tr.enabled else 0.0
        st0, tot0 = _cpu_ticks()
        try:
            with tr.span("job", counters=False) as j:
                out = wl.job(spark, ctx, tr)
        except Exception:
            failed += 1
            traceback.print_exc()
            return None, None
        st1, tot1 = _cpu_ticks()
        steal[name] = (st1 - st0) / max(tot1 - tot0, 1.0)
        if tr.enabled:
            tr.spans[j].attrs["gc_ms"] = tr.gc_ms() - gc0
        return j, out

    pr_step_ms: list[float] = []

    def finish(name: str, ctx: dict, out, warm: bool = False) -> None:
        """Check a job's outputs against the reference, then free them.
        For a warm job, also keep its PageRank superstep times."""
        nonlocal failed
        if out is None:
            return
        if warm:
            pr_step_ms.extend(m["ms"] for m in out["pr"].metrics)
        t0 = time.perf_counter()
        try:
            bad = wl.check(out, ref, ctx)
        except Exception:
            traceback.print_exc()
            bad = ["the check raised"]
        phases["checks"] = phases.get("checks", 0.0) + time.perf_counter() - t0
        if bad:
            failed += 1
            print(f"perfbench: {name}: output differs from the reference: {bad}", file=sys.stderr)
        wl.release(out)

    tr.run = "setup"
    t0 = time.perf_counter()
    with tr.span("session.start", counters=False):
        spark = get_spark(app_name="perfbench", master=f"local[{nproc}]", extra_conf=conf)
    tr.bind(spark)
    ctx = wl.setup(spark, inputs, tr)
    setup_s += time.perf_counter() - t0
    phases["setup"] = setup_s

    cold, out = run_job("cold", ctx, spark)
    # what one job leaves cached next to the set-up's layouts, before
    # its outputs are freed; read after the cold job so that it does not
    # depend on how many repeats fit in --seconds
    cache_mb = tr.storage_mb()
    finish("cold", ctx, out)
    cold_s = tr.spans[cold].seconds if cold is not None else float("nan")

    trace = tr.enabled
    untraced, traced = [], []
    rep = 0
    while True:
        # traced and untraced repeats in the order U T T U ..., so that
        # the JIT warming up over the repeats biases neither side
        tr.enabled = trace and rep % 4 in (1, 2)
        j, out = run_job(f"warm-{rep}", ctx, spark)
        if j is not None:
            (traced if tr.enabled else untraced).append(j)
        rep += 1
        measured = sum(tr.spans[i].seconds for i in untraced + traced)
        done = (
            measured >= args.seconds
            and len(untraced) >= (TRACE_REPEATS if trace else MIN_REPEATS)
            and (not trace or len(traced) >= TRACE_REPEATS)
        )
        finish(f"warm-{rep - 1}", ctx, out, warm=j in untraced)
        if done or time.perf_counter() - t_start >= MAX_WALL_S or failed >= 3:
            break
    tr.enabled = trace

    run_times = [tr.spans[i].seconds for i in untraced]
    if trace:
        metrics = report.per_layer(
            tr.spans, [tr.spans[i].run for i in traced], len(ref["rank"]), nproc,
            run_times, [tr.spans[i].seconds for i in traced])
        units = report.PER_LAYER
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tr.dump(os.path.join(WORK, "traces", f"{wl.name}-seed{args.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": setup_s,
            "cold_run_s": cold_s,
            "run_s": statistics.median(run_times) if run_times else float("nan"),
            "edges_per_s": (ref["edges"] / statistics.median(pr_step_ms) * 1e3
                            if pr_step_ms else float("nan")),
            "cache_mb": cache_mb,
        }
        units = report.E2E
    t0 = time.perf_counter()
    _stop(spark)
    phases["teardown"] = time.perf_counter() - t0
    phases["total"] = time.perf_counter() - t_start
    print("perfbench: phases (s): " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()),
          file=sys.stderr)
    print("perfbench: warm PageRank supersteps (ms): " + " ".join(f"{x:.0f}" for x in pr_step_ms),
          file=sys.stderr)
    print("perfbench: jobs (s, host steal): " + " ".join(
        f"{tr.spans[i].run} {tr.spans[i].seconds:.2f} {steal[tr.spans[i].run]:.1%}"
        for i in ([cold] if cold is not None else []) + sorted(untraced + traced)), file=sys.stderr)
    shutil.rmtree(local, ignore_errors=True)

    print(f"workload {wl.name}, seed {args.seed}, local[{nproc}], one client, closed loop, "
          f"sizes {wl.size}")
    print(f"run_s is the median of {len(run_times)} warm repeats "
          f"({len(traced)} traced repeats besides)")
    for name, value in metrics.items():
        print(f"  {name:32s} {value:14.6g} {units[name]}")
    print(f"  {'fail_frac':32s} {failed / max(attempted, 1):14.6g} ratio ({failed} of {attempted} jobs)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
