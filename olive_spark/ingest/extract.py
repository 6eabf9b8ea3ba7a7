"""HTML link extraction in the JVM; text + anchor extraction as
vectorized Arrow UDFs.

The reference engine consumes pre-built edge lists
(CsrGraph::fromEdgeListFile, csrGraph.h:106-171); at web scale the edge
list must itself be derived from crawled pages.

- Link targets come from ONE native Column expression, :func:`hrefs`
  (``regexp_extract_all`` over the html cast to a string): no Python
  worker is started on the graph-build path. The pattern,
  ``HREF_PATTERN``, is written down once; the serial reference
  ``extract_links_bytes`` compiles the same string, and the tests pin
  the two equal per url (order and duplicates included). One
  difference is chosen and pinned: invalid UTF-8 inside an href comes
  out as U+FFFD natively, where the serial reference raises.
- Text and anchor text stay vectorized pandas/Arrow UDFs (no per-row
  Python UDFs): their contract is byte-identity per url with the
  serial reference functions (`extract_text_bytes`,
  `extract_anchors_bytes`).

Determinism: `extract_text_bytes` is a single pure function of the html
bytes — no locale, no environment, no library version drift (stdlib
`re` only) — pinned by tests/test_ingest.py golden assertions.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_HEAD_RE = re.compile(rb"<head>.*?</head>", re.S)
_SCRIPT_RE = re.compile(rb"<(script|style)\b.*?</\1>", re.S)
_TAG_RE = re.compile(rb"<[^>]*>")
_WS_RE = re.compile(rb"\s+")
#: the one href pattern: Java regex in :func:`hrefs`, bytes regex in
#: the serial reference (``\s`` and ``[^>]`` mean the same in both)
HREF_PATTERN = r'<a\s[^>]*href="([^"]+)"'
_HREF_RE = re.compile(HREF_PATTERN.encode())


def extract_text_bytes(html: bytes) -> str:
    """THE reference text extractor — serial, pure, deterministic.

    head/script/style dropped, tags replaced by a space, whitespace
    collapsed, stripped; utf-8 decode last so byte-level regexes keep
    the function independent of Python's str internals.
    """
    s = _HEAD_RE.sub(b" ", html)
    s = _SCRIPT_RE.sub(b" ", s)
    s = _TAG_RE.sub(b" ", s)
    s = _WS_RE.sub(b" ", s).strip()
    return s.decode("utf-8")


def extract_links_bytes(html: bytes) -> list[str]:
    """All <a href="..."> targets, in document order, duplicates kept
    (duplicate edges are reference semantics, SURVEY.md §1.4)."""
    return [m.decode("utf-8") for m in _HREF_RE.findall(html)]


@F.pandas_udf(T.StringType())
def _extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text_bytes)


def hrefs(html: str) -> Column:
    """All href targets of the binary ``html`` column, in document
    order, duplicates kept — the JVM twin of ``extract_links_bytes``.

    CAST, not ``decode``: under ANSI mode ``decode`` raises on any
    invalid byte anywhere in the page, while the cast keeps the bytes
    and the regex sees malformed sequences as U+FFFD.
    """
    return F.regexp_extract_all(F.col(html).cast("string"), F.lit(HREF_PATTERN), F.lit(1))


def with_extracted_text(pages: DataFrame, out_col: str = "extracted_text") -> DataFrame:
    """pages + extracted text column (Arrow-vectorized)."""
    return pages.withColumn(out_col, _extract_text_udf(F.col("html")))


def extract_links_df(pages: DataFrame) -> DataFrame:
    """pages -> links(src_url, dst_url), one row per anchor, order kept
    within a page only implicitly (duplicates preserved).

    Column pruning matters at 100TB: only (url, html) are read from the
    scan; the extraction and the explode run in the same JVM stage.
    """
    return (
        pages.select("url", hrefs("html").alias("hrefs"))
        .select(F.col("url").alias("src_url"), F.explode("hrefs").alias("dst_url"))
    )


# --- anchor text (round 4) --------------------------------------------------
# The per-link anchor text is the classic web ranking / query-expansion
# signal; at 100 TB it is extracted in one Arrow batch pass that yields
# each link target with its text, and aggregated per TARGET url with one
# map-side-combined groupBy (no extra scan of the pages table).

def extract_anchors_bytes(html: bytes) -> list[tuple[str, str]]:
    """(href, anchor_text) per <a>, document order, duplicates kept.
    Anchor text is the tag-stripped, whitespace-collapsed inner HTML —
    the same normalization pipeline as extract_text_bytes.

    Tag discovery uses the SAME regex as extract_links_bytes (_HREF_RE),
    so the two extractors always agree on the link multiset — including
    malformed HTML. An anchor whose closing </a> is missing, or whose
    inner span opens another <a> first (unclosed/nested markup), gets
    anchor text "" rather than being dropped (the old closed-tag-only
    regex silently dropped such links, diverging from the edge list).
    """
    out = []
    matches = list(_HREF_RE.finditer(html))
    for i, m in enumerate(matches):
        href = m.group(1)
        txt = b""
        gt = html.find(b">", m.end())
        if gt != -1:
            close = html.find(b"</a>", gt + 1)
            nxt = matches[i + 1].start() if i + 1 < len(matches) else -1
            # well-formed only if this tag closes before the next link
            # tag opens — otherwise the inner span is ambiguous
            if close != -1 and (nxt == -1 or close < nxt):
                inner = html[gt + 1 : close]
                txt = _WS_RE.sub(b" ", _TAG_RE.sub(b" ", inner)).strip()
        out.append((href.decode("utf-8"), txt.decode("utf-8")))
    return out


_ANCHOR_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("href", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
)


@F.pandas_udf(_ANCHOR_SCHEMA)
def _extract_anchors_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_anchors_bytes)


def extract_anchors_df(pages: DataFrame) -> DataFrame:
    """pages -> (src_url, dst_url, anchor), one row per <a> tag.

    Only (url, html) are read from the scan (column pruning); the
    explode happens after the Arrow batch extraction, so each html blob
    crosses the JVM<->Arrow boundary exactly once for both the link
    target and its anchor text.
    """
    return (
        pages.select("url", _extract_anchors_udf(F.col("html")).alias("anchors"))
        .select(F.col("url").alias("src_url"), F.explode("anchors").alias("a"))
        .select(
            "src_url",
            F.col("a.href").alias("dst_url"),
            F.col("a.text").alias("anchor"),
        )
    )


def anchor_stats(anchors: DataFrame) -> DataFrame:
    """Per-target anchor-text profile: (dst_url, n_anchors,
    n_unique_anchors, first_anchor, anchor_tokens).

    One hash aggregation on dst_url (map-side partial combine; the only
    shuffle); `first_anchor` is the lexicographic MIN so the result is
    deterministic under any partitioning. At web scale the dst_url key
    is exactly as skewed as in-degree — the same AQE skew handling as
    the graph aggregations applies.
    """
    tok = F.when(F.col("anchor") == "", F.lit(0)).otherwise(
        F.size(F.split(F.col("anchor"), " "))
    )
    return anchors.groupBy("dst_url").agg(
        F.count("*").alias("n_anchors"),
        F.countDistinct("anchor").alias("n_unique_anchors"),
        F.min("anchor").alias("first_anchor"),
        F.sum(tok).alias("anchor_tokens"),
    )
