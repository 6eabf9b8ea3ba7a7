"""Structured Streaming ingest: continuous crawl -> incremental edges.

The superstep ITERATION is deliberately not streaming (the reference is
a batch BSP engine — host-side while loop, PageRank.cu:122-133; see
SURVEY §1.3). What IS naturally streaming at web scale is INGEST: a
crawler appends page batches continuously, and the edge table should
grow incrementally without re-extracting old pages.

``stream_pages_to_edges`` wires the exact same native href expression
used by the batch path (``ingest.extract.hrefs`` — one code path, no
drift, no Python worker) into a readStream -> transform -> writeStream
pipeline with exactly-once file-sink semantics; graph algorithms then run on the
accumulated edge table at any point (micro-batch lambda architecture).

``streaming_link_rates`` is the monitoring side: windowed link-ingest
rates with a watermark for late crawler output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olive_spark.ingest.extract import hrefs
from olive_spark.ingest.pages import PAGES_SCHEMA


def stream_pages_to_edges(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_method: str = "hash",
    trigger_once: bool = True,
    max_files_per_trigger: int | None = None,
):
    """readStream(pages parquet dir) -> link extraction -> edge rows.

    Edges use xxhash64 url ids (shuffle-free — the only id scheme that
    works incrementally: sorted-rank ids would renumber on every new
    page). Unresolved targets (pages not yet crawled) are KEPT with
    their hash id — at web scale the target may arrive in a later
    batch; downstream algorithms take the explicit vertex table from
    the accumulated pages.

    Returns the StreamingQuery (file sink + checkpointLocation =
    exactly-once per micro-batch).

    max_files_per_trigger bounds each micro-batch's input (production:
    admission control for crawler burst catch-up; tests: forces a
    multi-batch run so a crash BETWEEN batches can be exercised —
    restart from checkpoint_dir resumes exactly where the offset log
    committed, and sink files not recorded in _spark_metadata are
    invisible to readers, which is the mid-batch torn-write story).
    """
    assert id_method == "hash", "streaming ingest requires stable hash ids"
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(pages_dir)
    links = pages.select(
        F.col("url").alias("src_url"),
        F.explode(hrefs("html")).alias("dst_url"),
    )
    edges = links.select(
        F.xxhash64("src_url").alias("src"),
        F.xxhash64("dst_url").alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    writer = (
        edges.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_link_rates(
    pages_stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Windowed ingest monitoring: pages + extracted links per
    warc_ts window, tolerating late crawler flushes via watermark."""
    links = pages_stream.select(
        "warc_ts", F.size(hrefs("html")).alias("n_links")
    )
    return (
        links.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"))
        .agg(
            F.count("*").alias("pages"),
            F.sum("n_links").alias("links"),
        )
        .select(F.col("w.start").alias("window_start"), "pages", "links")
    )
