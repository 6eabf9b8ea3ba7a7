"""Ingest: page synthesis -> extraction -> resolved graph.

Validates the byte-identical-text invariant (input_hint), that the
native href expression equals the serial link extractor, that the
graph-build plans start no Python worker, and that a topology realized
as hyperlinks round-trips through the full ingest to the same algorithm
results as the direct edge table (FIXTURES.md §B).
"""

from __future__ import annotations

import numpy as np
import pytest

from olive_spark import oracle
from olive_spark.algorithms.pagerank import pagerank_fixed
from olive_spark.fixtures import ordered_graph_9, grid_graph
from olive_spark.graph import Graph
from olive_spark.ingest.extract import (
    extract_links_bytes,
    extract_text_bytes,
    extract_links_df,
    hrefs,
    with_extracted_text,
)
from olive_spark.ingest.pages import synth_pages, url_of
from olive_spark.ingest.resolve import assign_ids, build_graph_from_pages
from olive_spark.ingest.resolve import testdata_graph as _testdata_graph

from pyspark.sql import functions as F


def test_pages_schema_and_determinism(spark):
    n, e = ordered_graph_9()
    pages = synth_pages(spark, n, e, num_partitions=3)
    rows = {r["url"]: r for r in pages.collect()}
    assert len(rows) == n
    assert set(pages.columns) == {"url", "warc_ts", "html", "text", "lang"}
    # regenerating yields identical bytes (determinism)
    rows2 = {r["url"]: r for r in synth_pages(spark, n, e, num_partitions=2).collect()}
    for u in rows:
        assert rows[u]["html"] == rows2[u]["html"]
        assert rows[u]["text"] == rows2[u]["text"]


def test_extracted_text_byte_identical(spark):
    """Distributed Arrow-UDF extraction == stored oracle text, per url,
    byte-for-byte (input_hint invariant)."""
    n, e = grid_graph()
    pages = synth_pages(spark, n, e, num_partitions=4)
    checked = with_extracted_text(pages).select("url", "text", "extracted_text")
    mismatch = checked.filter(F.col("text") != F.col("extracted_text")).count()
    assert mismatch == 0
    # and the serial function agrees on raw bytes
    row = pages.orderBy("url").first()
    assert extract_text_bytes(bytes(row["html"])) == row["text"]


def test_link_extraction_order_and_dups(spark):
    html = (
        b'<html><head><title>t</title></head><body>'
        b'<a href="https://a.example/1">one</a>'
        b'<a href="https://a.example/2">two</a>'
        b'<a href="https://a.example/1">one again</a>'
        b"</body></html>"
    )
    assert extract_links_bytes(html) == [
        "https://a.example/1",
        "https://a.example/2",
        "https://a.example/1",
    ]


# html edge cases: every whitespace byte \s matches (tab, newline, VT,
# FF, CR), case-sensitive tag and attribute names, single-quoted and
# empty hrefs (no match), data-href (matches: the pattern only needs
# `href="` after `<a` + whitespace), non-ASCII hrefs, order and duplicates
_HREF_CORPUS = [
    b'<a href="u1">x</a><a href="u2">y</a><a href="u1">z</a>',
    b'<a\thref="tab"><a\nhref="nl"><a\x0bhref="vt"><a\x0chref="ff"><a\rhref="cr">',
    b'<A HREF="upper"><a HREF="upper-attr"><A href="upper-tag"><a href="lower">',
    b"<a href='single'><a href=\"\"><a href=\"ok\">",
    b'<a data-href="data"><a class="c"\n  href="multi-line">',
    "<a href=\"https://b\u00fccher.example/\u00e9t\u00e9\">caf\u00e9</a>".encode("utf-8"),
    b'<p>no links at all</p>',
    b'',
    b'<a href="unterminated><a href="next">',
    "\u2603<a href=\"after-snowman\">".encode("utf-8"),
]


def _hrefs_by_url(pages):
    return {r["url"]: list(r["h"]) for r in pages.select("url", hrefs("html").alias("h")).collect()}


def test_native_hrefs_equal_serial_reference(spark):
    """hrefs(html) == extract_links_bytes per url, order and duplicates
    kept, on the edge-case corpus and on synthesized pages."""
    pages = spark.createDataFrame(
        [(f"u{i}", html) for i, html in enumerate(_HREF_CORPUS)], "url string, html binary"
    )
    got = _hrefs_by_url(pages)
    want = {f"u{i}": extract_links_bytes(html) for i, html in enumerate(_HREF_CORPUS)}
    assert got == want
    assert any(len(v) > len(set(v)) for v in want.values())  # duplicates exercised

    n = 40
    e = [(i, (i * 7 + 3) % n) for i in range(n)] + [(i, (i + 1) % n) for i in range(0, n, 3)] * 2
    synth = synth_pages(spark, n, e, num_partitions=4)
    want = {r["url"]: extract_links_bytes(bytes(r["html"])) for r in synth.select("url", "html").collect()}
    assert _hrefs_by_url(synth) == want
    assert sum(map(len, want.values())) == len(e)


def test_native_hrefs_invalid_utf8_inside_href(spark):
    """The one chosen difference: invalid UTF-8 inside an href becomes
    U+FFFD natively (the html is CAST, not decoded), while the serial
    reference raises. Invalid bytes elsewhere do not disturb matching."""
    html = b'\xff\xfe<a href="bad\xffbyte">x</a><a href="fine">y</a>'
    with pytest.raises(UnicodeDecodeError):
        extract_links_bytes(html)
    pages = spark.createDataFrame([("u", html)], "url string, html binary")
    assert _hrefs_by_url(pages) == {"u": ["bad\ufffdbyte", "fine"]}


def test_sort_ids_dense_at_several_partitions(spark):
    """assign_ids(sort) numbers urls 0..N-1 in lexicographic order when
    the range partitioning spreads them over >= 3 partitions."""
    import random

    rng = random.Random(11)
    urls = sorted({f"https://h{rng.randrange(50)}.example/{rng.random():.12f}" for _ in range(500)})
    shuffled = urls[:]
    rng.shuffle(shuffled)
    df = spark.createDataFrame([(u,) for u in shuffled], "url string")
    ids = assign_ids(df, method="sort", num_partitions=5)
    rows = ids.select("id", "url", F.spark_partition_id().alias("p")).collect()
    assert len({r["p"] for r in rows}) >= 3
    assert sorted((r["id"], r["url"]) for r in rows) == list(enumerate(urls))


def _python_exec_nodes(df) -> list[str]:
    """Nodes of df's executed plan (cached plans included) that run
    Python: Python/pandas/Arrow eval and map operators, and scans of
    RDDs built in Python (rdd.toDF and friends, whose lineage holds a
    PythonRDD)."""
    found = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if "Python" in name or "Pandas" in name or "Arrow" in name:
            found.append(name)
        if name == "RDDScanExec" and "PythonRDD" in node.rdd().toDebugString():
            found.append(f"{name}(PythonRDD)")
        for kids in (node.children(), node.innerChildren()):
            for i in range(kids.size()):
                walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return found


def test_graph_build_plans_start_no_python(spark, tmp_path):
    """The link table, the sort-id table and the DIMACS edge table are
    built in the JVM alone (pages read from parquet, so the synthetic
    generator's own mapInPandas is not in the plans)."""
    n = 30
    e = [(i, (i * 5 + 1) % n) for i in range(n)]
    synth_pages(spark, n, e, num_partitions=3).write.parquet(str(tmp_path / "pages"))
    pages = spark.read.parquet(str(tmp_path / "pages"))
    graph, vertices = build_graph_from_pages(spark, pages, id_method="sort", num_partitions=3)
    dimacs = tmp_path / "g.dimacs"
    dimacs.write_text("% c\n3 2\n2\n1 3\n2\n")
    tables = {
        "links": extract_links_df(pages),
        "sort_ids": assign_ids(pages.select("url").distinct(), method="sort", num_partitions=3),
        "ingest_vertices": vertices,
        "ingest_edges": graph.edges,
        "dimacs_edges": Graph.from_dimacs_file(spark, str(dimacs), num_partitions=2).edges,
    }
    for name, df in tables.items():
        df.count()
        assert _python_exec_nodes(df) == [], name
    # the check itself sees a Python operator when one is there
    assert _python_exec_nodes(with_extracted_text(pages))
    assert graph.edge_count() == n


def test_ingest_roundtrip_pagerank(spark):
    """pages(html links encoding ordered_graph_9) -> ingest -> PageRank
    == direct numpy oracle on the topology."""
    n, e = ordered_graph_9()
    pages = synth_pages(spark, n, e, num_partitions=3)
    graph, vertices = build_graph_from_pages(spark, pages, id_method="sort",
                                             num_partitions=4)
    assert graph.vertex_count() == n
    assert graph.edge_count() == len(e)
    # zero-padded urls: sorted-url id == page number
    vmap = {r["url"]: r["id"] for r in vertices.collect()}
    for i in range(n):
        assert vmap[url_of(i)] == i
    res = pagerank_fixed(graph, iterations=10)
    got = np.array([r["rank"] for r in res.state.orderBy("id").collect()])
    exp = oracle.pagerank_fixed(n, e, iterations=10)
    assert np.allclose(got, exp, atol=1e-12, rtol=1e-9)


def test_hash_id_method(spark):
    n, e = ordered_graph_9()
    pages = synth_pages(spark, n, e, num_partitions=3)
    graph, vertices = build_graph_from_pages(spark, pages, id_method="hash",
                                             num_partitions=4)
    # no collisions at this scale; edge count preserved
    assert vertices.select("id").distinct().count() == n
    assert graph.edge_count() == len(e)


def test_testdata_graph(spark):
    g = _testdata_graph(spark, "/root/testdata/sf0.001", num_partitions=4)
    assert g.edge_count() > 0
    # bipartite: no customer->anything edges
    s = spark.table("supplier").count()
    assert g.edges.filter(F.col("src") >= s).count() == 0
    assert g.edges.filter(F.col("dst") < s).count() == 0


def test_anchor_extraction_golden():
    """Serial anchor extractor: order, duplicates, tag-stripped inner
    HTML, whitespace collapse."""
    from olive_spark.ingest.extract import extract_anchors_bytes

    html = (
        b'<html><body><a href="u1">Hello <b>world</b></a>'
        b'<a class="x" href="u2">\n  spaced\t text </a>'
        b'<a href="u1">Hello <b>world</b></a>'
        b'<a href="u3"></a></body></html>'
    )
    assert extract_anchors_bytes(html) == [
        ("u1", "Hello world"),
        ("u2", "spaced text"),
        ("u1", "Hello world"),
        ("u3", ""),
    ]


def test_anchor_link_multiset_agreement_on_malformed_html():
    """extract_anchors_bytes and extract_links_bytes share one tag scan:
    on malformed HTML (unclosed anchors, nested <a href>) the href
    multiset is identical — the unclosed/nested anchor yields text ""
    instead of being dropped."""
    from olive_spark.ingest.extract import extract_anchors_bytes, extract_links_bytes

    html = (
        b'<p><a href="u1">unclosed one'
        b'<a href="u2">nested <a href="u3">inner</a> tail</a>'
        b'<a href="u4">fine</a></p>'
    )
    anchors = extract_anchors_bytes(html)
    assert [h for h, _ in anchors] == extract_links_bytes(html)
    assert anchors == [
        ("u1", ""),  # no </a> before the next link tag
        ("u2", ""),  # inner <a href> opens before this one closes
        ("u3", "inner"),
        ("u4", "fine"),
    ]


def test_anchor_stats_chain(spark):
    """anchor_stats over the synthesized chain pages == closed form:
    every target j has one anchor per in-neighbor i, text
    'Link from i to page j' (6 tokens each)."""
    from olive_spark.fixtures import chain_graph
    from olive_spark.ingest.extract import anchor_stats, extract_anchors_df

    n, e = chain_graph(10)
    pages = synth_pages(spark, n, e, num_partitions=4)
    rows = {r["dst_url"]: r for r in anchor_stats(extract_anchors_df(pages)).collect()}
    indeg = {}
    for s, d in e:
        indeg.setdefault(d, []).append(s)
    assert len(rows) == len(indeg)
    for j, srcs in indeg.items():
        r = rows[url_of(j)]
        assert r["n_anchors"] == len(srcs)
        assert r["n_unique_anchors"] == len(srcs)  # distinct srcs -> distinct text
        assert r["first_anchor"] == min(f"Link from {i} to page {j}" for i in srcs)
        assert r["anchor_tokens"] == 6 * len(srcs)
