"""In-memory spans around the benchmark's calls into engine layers.

A span has a name, a start and an end (``time.perf_counter`` seconds),
the index of the span that caused it and the id of the benchmark run it
belongs to (``setup``, ``cold``, ``warm-3`` ...). Spans are only ever
recorded from the benchmark's own files, around calls into an engine
module's public functions; the engine itself is not instrumented.

Untraced, a span costs two clock reads. Traced, each span also
- tags the jobs it submits with a job group of its own and reads the
  group's stage totals back from Spark's status store through the
  engine's ``SuperstepMetricsCollector``, then restores the enclosing
  span's group (pregel re-tags every superstep and clears the group when
  it returns);
- counts the jobs submitted during the span from the scheduler's job ids,
  and the change in memory held by cached blocks across it;
- reads those counters inside a ``metrics.read`` span, so the cost of
  tracing is itself visible in the trace.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from olive_spark.metrics import SuperstepMetricsCollector


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def self_time(spans: list[Span], i: int) -> float:
    """Duration of span ``i`` minus the part of it its children cover.

    Children are clipped to the parent's interval and overlapping
    children are counted once."""
    s = spans[i]
    kids = sorted(
        (max(c.start, s.start), min(c.end, s.end))
        for c in spans
        if c.parent == i and c.end > s.start and c.start < s.end
    )
    covered = 0.0
    lo = hi = None
    for a, b in kids:
        if hi is None or a > hi:
            if hi is not None:
                covered += hi - lo
            lo, hi = a, b
        else:
            hi = max(hi, b)
    if hi is not None:
        covered += hi - lo
    return s.seconds - covered


class Tracer:
    """Records spans; with ``enabled`` it also reads job counters."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.run = "setup"
        self._stack: list[int] = []
        self._spark = None
        self._groups: SuperstepMetricsCollector | None = None

    def bind(self, spark) -> None:
        """Point the tracer at the SparkSession. Span ``i``'s job group
        is the engine's superstep group ``i`` under the benchmark's own
        prefix, so the engine's collector can read its stage totals."""
        self._spark = spark
        self._groups = SuperstepMetricsCollector(spark, "perfbench-span-")

    # ---- Spark status store -------------------------------------------
    def _sc(self):
        return self._spark.sparkContext

    def next_job_id(self) -> int:
        """Id the scheduler gives the next job: jobs are numbered in
        submission order, so the difference of two readings on this
        single-threaded client is the number of jobs submitted between
        them, whatever job group they were tagged with."""
        return int(self._sc()._jsc.sc().dagScheduler().nextJobId())

    def storage_mb(self) -> float:
        """Memory held by cached blocks, from Spark's RDD storage info."""
        infos = self._sc()._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() for i in infos) / 1e6

    def gc_ms(self) -> float:
        """Total JVM garbage-collection time so far."""
        beans = self._spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    # ---- spans ----------------------------------------------------------
    @contextmanager
    def span(self, name: str, counters: bool = True):
        """Time the enclosed call as a span named ``name``. Traced, the
        span's own job group is set for its duration and, when
        ``counters``, the group's stage totals are read afterwards."""
        parent = self._stack[-1] if self._stack else None
        i = len(self.spans)
        self.spans.append(Span(name, 0.0, 0.0, parent, self.run))
        self._stack.append(i)
        traced = self.enabled and self._spark is not None
        first_job, cached_mb = 0, 0.0
        if traced:
            self._groups.tag(i)
            first_job = self.next_job_id()
            cached_mb = self.storage_mb()
        self.spans[i].start = time.perf_counter()
        try:
            yield i
        finally:
            self.spans[i].end = time.perf_counter()
            self._stack.pop()
            if traced:
                if parent is None:
                    self._groups.clear()
                else:
                    self._groups.tag(parent)
                if counters:
                    with self.span("metrics.read", counters=False):
                        attrs = self._groups.collect(i)
                        attrs["jobs"] = self.next_job_id() - first_job
                        attrs["cached_mb"] = self.storage_mb() - cached_mb
                    self.spans[i].attrs.update(attrs)

    def read_steps(self, i: int, result) -> None:
        """Traced only: copy a pregel call's per-superstep records
        (``PregelResult.metrics``, read from the status store on first
        access) onto span ``i`` and add one child span per superstep.
        The children are laid end to end, finishing when the call did,
        since only their durations are recorded."""
        if not self.enabled:
            return
        with self.span("metrics.read", counters=False):
            steps = [dict(m) for m in result.metrics]
        self.spans[i].attrs["steps"] = steps
        self.spans[i].attrs["free_failures"] = result.free_failures
        end = self.spans[i].end
        for m in reversed(steps):
            self.spans.append(Span("superstep", end - m["ms"] / 1e3, end, i, self.spans[i].run))
            end -= m["ms"] / 1e3

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"i": i, **asdict(s)}) + "\n")
