"""Per-superstep computation/communication metrics.

The reference profiles computation vs communication per partition per
superstep (olive.h:131-150: per-kernel CUDA-event timers + per-partition
outbox/inbox transfer times). The Spark analogue of the "comm" term is
shuffle read/write (the exchange IS the outbox/inbox,
messageBox.h:90-105), and of the "comp" term is executor run/CPU time
net of shuffle waits.

Collection strategy: every superstep's jobs carry a unique Spark job
tag (a driver-side local property — zero executor overhead); after the
superstep's barrier action, the driver reads the stage-level totals for
exactly those jobs from the SparkContext's AppStatusStore
(the same in-memory store that backs the Spark UI / REST API, present
in every deployment mode — no listener registration, no callback
server). Stages shared between jobs are counted once. Tags, unlike a
job group, stack: a caller's job group (and ``sc.cancelJobGroup``) and
any enclosing collector's tag stay on the same jobs.

All methods are best-effort: a metrics read must never fail the
superstep loop, so errors degrade to absent fields.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


class SuperstepMetricsCollector:
    """Tags superstep jobs with a job tag and reads their aggregate
    shuffle/compute stage metrics back from the AppStatusStore."""

    def __init__(self, spark: SparkSession, prefix: str):
        self._sc = spark.sparkContext
        self._prefix = prefix
        self._tag: str | None = None
        try:
            self._store = spark._jsparkSession.sparkContext().statusStore()
        except Exception:
            self._store = None
        try:
            # the JVM-wide histogram the code generator updates once
            # per Janino compile; held here so a read is one py4j call
            self._compiles = (spark._jvm.org.apache.spark.metrics.source
                              .CodegenMetrics.METRIC_COMPILATION_TIME())
        except Exception:
            self._compiles = None

    def tag(self, superstep: int) -> None:
        """Mark all jobs submitted from now (on this driver thread) as
        belonging to ``superstep``, in place of this collector's
        previous tag."""
        self.clear()
        tag = f"{self._prefix}{superstep}"
        try:
            self._sc.addJobTag(tag)
            self._tag = tag
        except Exception:
            pass

    def clear(self) -> None:
        """Remove this collector's tag (and no other)."""
        if self._tag is not None:
            try:
                self._sc.removeJobTag(self._tag)
            except Exception:
                pass
            self._tag = None

    def __enter__(self) -> "SuperstepMetricsCollector":
        return self

    def __exit__(self, *exc) -> None:
        self.clear()

    def compile_count(self) -> int | None:
        """Classes the JVM's code generator has compiled so far (None
        when unreadable). The count is JVM-wide, so a difference of two
        reads is the compiles of what ran in between only while one
        driver thread drives the session."""
        if self._compiles is None:
            return None
        try:
            return int(self._compiles.getCount())
        except Exception:
            return None

    def _await_jobs_settled(self, job_ids, timeout_s: float = 2.0) -> None:
        """Bounded wait for the listener bus to deliver the jobs' ends.

        A job is settled once the store no longer shows it ``RUNNING``:
        the scheduler posts a job's end after all of its task and stage
        events, so its stage totals are final by then. (Zero active
        tasks and stages is not enough: that also holds in the gap
        between two of the job's stages.) Gives up silently after
        ``timeout_s`` — metrics degrade to a slight undercount, never a
        loop failure.
        """
        import time as _t

        deadline = _t.monotonic() + timeout_s
        while _t.monotonic() < deadline:
            try:
                if all(
                    self._store.job(jid).status().toString() != "RUNNING"
                    for jid in job_ids
                ):
                    return
            except Exception:
                return  # store read failed — caller degrades gracefully
            _t.sleep(0.01)

    def collect(self, superstep: int) -> dict:
        """Aggregate stage metrics for the superstep's tagged jobs.

        Returns {} on any failure. Times are milliseconds, sizes bytes:
        - shuffle_read_bytes / shuffle_write_bytes  (comm volume)
        - shuffle_fetch_wait_ms / shuffle_write_ms  (comm time)
        - executor_run_ms / executor_cpu_ms         (comp time, gross)
        - comp_ms = executor_run_ms - fetch_wait - shuffle_write
          (the reference's computation-net-of-communication split)
        - tasks, stages
        """
        if self._store is None:
            return {}
        try:
            job_ids = self._sc._jsc.sc().statusTracker().getJobIdsForTag(
                f"{self._prefix}{superstep}"
            )
            # The AppStatusStore is fed by the async listener bus; the
            # step's last task-end events can still be in flight
            # when we get here, undercounting shuffle/CPU totals. Poll
            # briefly (bounded) until no tagged job is still RUNNING,
            # then read once.
            self._await_jobs_settled(job_ids)
            seen: set[int] = set()
            sr = sw = run_ms = cpu_ns = fetch_ms = wnano = tasks = 0
            for jid in job_ids:
                sids = self._store.job(jid).stageIds()
                for i in range(sids.size()):
                    sid = sids.apply(i)
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        s = self._store.lastStageAttempt(sid)
                    except Exception:
                        continue  # fully-skipped stage: no attempt data
                    sr += s.shuffleReadBytes()
                    sw += s.shuffleWriteBytes()
                    run_ms += s.executorRunTime()
                    cpu_ns += s.executorCpuTime()
                    fetch_ms += s.shuffleFetchWaitTime()
                    wnano += s.shuffleWriteTime()
                    tasks += s.numCompleteTasks()
            shuffle_write_ms = wnano / 1e6
            return {
                "shuffle_read_bytes": int(sr),
                "shuffle_write_bytes": int(sw),
                "shuffle_fetch_wait_ms": float(fetch_ms),
                "shuffle_write_ms": round(shuffle_write_ms, 3),
                "executor_run_ms": float(run_ms),
                "executor_cpu_ms": round(cpu_ns / 1e6, 3),
                "comp_ms": round(max(0.0, run_ms - fetch_ms - shuffle_write_ms), 3),
                "tasks": int(tasks),
                "stages": len(seen),
            }
        except Exception:
            return {}
