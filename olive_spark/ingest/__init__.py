"""Web-scale ingest: Common-Crawl-style pages -> link graph.

The production-shaped input path per the north rule: an Iceberg/parquet
table of web pages ``(url, warc_ts, html, text, lang)`` is parsed —
links by one native regex expression in the JVM, text by vectorized
Arrow UDFs (byte-identical extracted text per url) — links are resolved
into a hash-partitioned edge DataFrame, and the Graph feeds the Pregel
engine.
"""

from olive_spark.ingest.extract import extract_links_df, extract_text_bytes, with_extracted_text
from olive_spark.ingest.pages import synth_pages
from olive_spark.ingest.resolve import build_graph_from_pages, resolve_edges

__all__ = [
    "synth_pages",
    "extract_text_bytes",
    "with_extracted_text",
    "extract_links_df",
    "resolve_edges",
    "build_graph_from_pages",
]
