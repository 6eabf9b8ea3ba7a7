"""SparkSession factory tuned for the link-graph engine.

Local-mode defaults match the sandbox (one JVM, N threads); on a real
cluster the same settings hold except driver memory, and AQE does the
runtime re-planning. Everything here is standard public Spark config.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "olive_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with graph-workload defaults.

    - AQE on (coalesce + skew-join): the runtime analogue of the
      reference's GroupSize degree-balancing knob (oliverKernel.h:63-75)
      — skewed shuffle partitions get split/coalesced adaptively.
    - shuffle.partitions ~ cores in local mode; on a cluster size it to
      keep post-shuffle partitions in the 64-256MB range.
    - Arrow enabled for the pandas-UDF ingest path (no per-row Python).
    - UTC session timezone so parquet timestamps compare cleanly with
      the DuckDB oracle.
    - Whole-stage generated classes cached up to 1000
      (``spark.sql.codegen.cache.maxEntries``; Spark's default is 100).
      The conf is static, so only the session factory can set it: a
      running session refuses ``spark.conf.set`` on it. The engine's
      working sets exceed the default. perfbench's ``rank-power`` uses
      about 160 distinct classes per JVM (22 in set-up, about 140 in
      the cold job, the same ones again in every warm job),
      ``crawl-chain`` 84 per job, and the fixture suite of
      ``tests/test_codegen_cache.py`` about 150. At 100 the cache evicts
      classes before they are reused, so every warm ``rank-power`` job
      recompiled 136 classes with Janino and reloaded them cold into
      the JIT; at 1000 it recompiles none. 1000 leaves more than
      6x headroom and still bounds the memory (Metaspace) that
      generated classes hold.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master.split("[")[-1].rstrip("]")
        shuffle_partitions = 32 if n in ("*", "") else max(8, int(n))

    # Shuffle scratch: in local mode every shuffle file hits
    # spark.local.dir; on this sandbox's virtual disk that is THE
    # non-scaling resource (measured: 2.5x superstep speedup moving it
    # to tmpfs — BENCH.md). Real clusters put this on per-node NVMe.
    local_dir = os.environ.get("OLIVE_SPARK_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        try:
            os.makedirs(local_dir, exist_ok=True)
        except OSError:
            local_dir = None

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("OLIVE_SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Iterative workloads: keep shuffle files bounded.
        .config("spark.shuffle.spill.compress", "true")
        .config("spark.checkpoint.compress", "true")
        # NOTE (r6): a custom spark.python.daemon.module preloading
        # pandas/pyarrow before the fork was A/B'd for the Arrow ingest
        # cold start and REJECTED — no measurable win over 3 fresh-JVM
        # pairs (OPTIMIZATION_r06.md "rejected").
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # NOTE (r6): an async python-runtime warmup job at session creation
    # (daemon/worker pool pre-spawn) was A/B'd for the ingest cold
    # start and REJECTED — no win over four fresh-JVM pairs; a trivial
    # 32-task pandas_udf stage costs only ~0.1s even cold, so the
    # ingest cold term is codegen/data-path, not worker spawn
    # (OPTIMIZATION_r06.md "rejected").
    return spark
