"""Durable per-superstep checkpointing with per-partition lineage.

North-rule requirement: every superstep checkpoints frontier and state
so any run is resumable mid-iteration, with per-partition lineage and
metrics. The reference has no persistence at all (state lives in GPU
buffers, grd.h:44-170); this is new engineering the 100TB design point
demands — a 100-superstep PageRank over a trillion edges WILL lose
executors. The frontier travels inside the state snapshot as the
``_active`` column (pregel.py), so one table per superstep suffices.

All filesystem operations (markers, listings, sizes) go through the
Hadoop FileSystem API, so the store works against any scheme Spark can
write — ``file://``, ``hdfs://``, ``s3a://`` — not just the driver's
local disk (r1 used os.* and broke on object stores).

Storage layout (an Iceberg table when the runtime has the Iceberg
catalog configured; plain parquet snapshots otherwise — same layout,
same API; the sandbox has no Iceberg jars so parquet is the tested
path):

    <root>/<run_id>/superstep=<k>/state/     parquet
    <root>/<run_id>/superstep=<k>/_SUCCESS_OLIVE  commit marker (atomic:
        written only after the table lands -> a crashed write is
        invisible to resume)
    <root>/<run_id>/lineage/<k:06d>.json     JSON lines, one file per superstep:
        (run_id, superstep, partition_id, rows, bytes, ms) — one row per
        WRITTEN partition file: rows from the file's parquet footer,
        bytes from its actual length, both read on the driver from the
        one listing of the snapshot directory (r1 recomputed partition
        ids on the re-read scan, which described the read layout, not
        the write). ``ms`` times the state write alone. The file is
        written before the commit marker and overwritten when a step is
        re-run (a resumed run repeats any step whose marker never
        landed), so each step's rows are stored once.
    <root>/<run_id>/supersteps/<k>.json      driver-side metrics, one
        object per superstep (append-free: object stores can't append)

A durable superstep submits ONE job: the snapshot write, which is the
superstep's materializing action. The loop folds its barrier
aggregates into that write as observed metrics (pregel.run_loop); the
snapshot is read back with its known schema (no inference job); and the
lineage rows are written by the driver, so no job re-scans the snapshot
and no Python worker runs.

Checkpoint read-back also truncates lineage growth: the returned
DataFrames are fresh parquet scans with single-node plans, replacing an
ever-growing iterative plan (SURVEY.md §4 custom-work item 1).
"""

from __future__ import annotations

import json
import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MARKER = "_SUCCESS_OLIVE"

_LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("superstep", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("bytes", T.LongType(), False),
        T.StructField("ms", T.DoubleType(), False),
    ]
)


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str, run_id: str = "run0"):
        self.spark = spark
        self.root = root.rstrip("/")
        self.run_id = run_id
        self.base = f"{self.root}/{run_id}"
        self._jvm = spark._jvm
        self._jconf = spark._jsc.hadoopConfiguration()
        self._mkdirs(self.base)

    # ---- Hadoop FileSystem helpers (scheme-agnostic) ---------------------
    def _hpath(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        return self._hpath(p).getFileSystem(self._jconf)

    def _mkdirs(self, p: str) -> None:
        self._fs(p).mkdirs(self._hpath(p))

    def _exists(self, p: str) -> bool:
        return bool(self._fs(p).exists(self._hpath(p)))

    def _write_text(self, p: str, text: str) -> None:
        out = self._fs(p).create(self._hpath(p), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def _list_names(self, p: str) -> list[str]:
        fs = self._fs(p)
        if not fs.exists(self._hpath(p)):
            return []
        return [st.getPath().getName() for st in fs.listStatus(self._hpath(p))]

    # ----------------------------------------------------------------------
    def _step_dir(self, superstep: int) -> str:
        return f"{self.base}/superstep={superstep}"

    def checkpoint(
        self, superstep: int, state: DataFrame, frontier: DataFrame | None = None
    ) -> tuple[DataFrame, DataFrame | None]:
        """Write the state snapshot, return a fresh scan of it.

        ``frontier`` is accepted for API compatibility but the engine
        keeps the frontier inside the state (``_active``); when given it
        is written alongside. Also records per-written-partition lineage
        rows — the Spark analogue of the reference's per-partition
        comp/comm profiling (olive.h:131-150).
        """
        d = self._step_dir(superstep)
        t0 = time.monotonic()
        state.write.mode("overwrite").parquet(f"{d}/state")
        new_frontier = None
        if frontier is not None:
            frontier.write.mode("overwrite").parquet(f"{d}/frontier")
        ms = (time.monotonic() - t0) * 1000.0

        # read back with the known schema: no schema-inference job (the
        # read forces every field nullable, exactly as inference would)
        new_state = self.spark.read.schema(state.schema).parquet(f"{d}/state")
        if frontier is not None:
            new_frontier = self.spark.read.schema(frontier.schema).parquet(
                f"{d}/frontier"
            )

        self._write_lineage(superstep, ms)
        # commit marker LAST: resume only ever sees complete snapshots
        self._write_text(
            f"{d}/{MARKER}", json.dumps({"superstep": superstep, "ms": ms})
        )
        return new_state, new_frontier

    def _write_lineage(self, superstep: int, ms: float) -> None:
        """One lineage row per WRITTEN partition file: rows from the
        file's parquet footer, bytes from its length on the target
        filesystem. Written by the driver as the step's own JSON-lines
        file (overwrite, so a re-run step replaces its rows); no job."""
        state_dir = f"{self._step_dir(superstep)}/state"
        parquet = self._jvm.org.apache.parquet.hadoop
        lines = []
        statuses = self._fs(state_dir).listStatus(self._hpath(state_dir))
        for st in sorted(statuses, key=lambda st: st.getPath().getName()):
            m = re.match(r"part-(\d+)", st.getPath().getName())
            if not (st.isFile() and m):
                continue
            reader = parquet.ParquetFileReader.open(
                parquet.util.HadoopInputFile.fromStatus(st, self._jconf)
            )
            try:
                rows = reader.getRecordCount()
            finally:
                reader.close()
            record = (self.run_id, superstep, int(m.group(1)), rows, st.getLen(), ms)
            lines.append(json.dumps(dict(zip(_LINEAGE_SCHEMA.names, record))) + "\n")
        self._write_text(f"{self.base}/lineage/{superstep:06d}.json", "".join(lines))

    def log_superstep(self, metrics: dict) -> None:
        """Record driver-side superstep metrics (active count, wall ms)
        as one object per superstep — append-free, object-store-safe."""
        self._mkdirs(f"{self.base}/supersteps")
        k = int(metrics.get("superstep", 0))
        self._write_text(
            f"{self.base}/supersteps/{k:06d}.json", json.dumps(metrics) + "\n"
        )

    # ----------------------------------------------------------------------
    def latest_superstep(self) -> int | None:
        """Highest superstep with a commit marker, or None."""
        best = None
        for entry in self._list_names(self.base):
            if entry.startswith("superstep="):
                k = int(entry.split("=", 1)[1])
                if self._exists(f"{self.base}/{entry}/{MARKER}"):
                    best = k if best is None else max(best, k)
        return best

    def load(self, superstep: int) -> tuple[DataFrame, DataFrame | None]:
        d = self._step_dir(superstep)
        if not self._exists(f"{d}/{MARKER}"):
            raise FileNotFoundError(f"no committed checkpoint at superstep {superstep}")
        state = self.spark.read.parquet(f"{d}/state")
        frontier = None
        if self._exists(f"{d}/frontier"):
            frontier = self.spark.read.parquet(f"{d}/frontier")
        return state, frontier

    def superstep_metrics(self) -> list[dict]:
        """All driver-side superstep metric records, ordered."""
        out = []
        for name in sorted(self._list_names(f"{self.base}/supersteps")):
            if not name.endswith(".json"):
                continue
            fs = self._fs(self.base)
            stream = fs.open(self._hpath(f"{self.base}/supersteps/{name}"))
            try:
                text = self._jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                )
            finally:
                stream.close()
            out.append(json.loads(text))
        return out

    def lineage(self) -> DataFrame:
        return self.spark.read.schema(_LINEAGE_SCHEMA).json(f"{self.base}/lineage")
