"""Vertex-subset algebra + DIMACS loader (SURVEY §2.1/§2.4 coverage)."""

from __future__ import annotations

from olive_spark.graph import Graph
from olive_spark.subsets import (
    make_subset,
    subset_and,
    subset_contains,
    subset_minus,
    subset_or,
    subset_size,
    subset_xor,
)


def ids(df):
    return sorted(r["id"] for r in df.collect())


def test_subset_algebra(spark):
    a = make_subset(spark, [1, 2, 3, 4])
    b = make_subset(spark, [3, 4, 5])
    assert ids(subset_and(a, b)) == [3, 4]
    assert ids(subset_or(a, b)) == [1, 2, 3, 4, 5]
    assert ids(subset_xor(a, b)) == [1, 2, 5]
    assert ids(subset_minus(a, b)) == [1, 2]
    assert subset_contains(a, 2)
    assert not subset_contains(a, 9)
    assert subset_size(a) == 4


def test_dimacs_loader(spark, tmp_path):
    """DIMACS adjacency: 1-indexed neighbor lists, one line per vertex;
    undirected edges appear in both lists (csrGraph.h:177-236)."""
    p = tmp_path / "g.dimacs"
    # triangle 0-1-2 plus pendant 3 attached to 0 (1-indexed in file)
    p.write_text("% comment\n4 4\n2 3 4\n1 3\n1 2\n1\n")
    g = Graph.from_dimacs_file(spark, str(p), num_partitions=2)
    assert g.vertex_count() == 4
    assert g.edge_count() == 8  # doubled, as in the reference
    got = sorted((r["src"], r["dst"]) for r in g.edges.collect())
    assert got == sorted(
        [(0, 1), (0, 2), (0, 3), (1, 0), (1, 2), (2, 0), (2, 1), (3, 0)]
    )


def test_dimacs_isolated_vertex(spark, tmp_path):
    """A blank adjacency line is a degree-0 vertex and must consume a
    vertex id (csrGraph.h:203-206) — dropping it would mis-number every
    later vertex (ADVICE r1 repro: v2 isolated in a 5-vertex graph)."""
    p = tmp_path / "iso.dimacs"
    # vertices 1..5 (1-indexed): 1-2 edge, 3 isolated, 4-5 edge
    p.write_text("% c\n5 2\n2\n1\n\n5\n4\n")
    g = Graph.from_dimacs_file(spark, str(p), num_partitions=2)
    assert g.vertex_count() == 5
    got = sorted((r["src"], r["dst"]) for r in g.edges.collect())
    assert got == [(0, 1), (1, 0), (3, 4), (4, 3)]
    deg = {r["id"]: r["outdeg"] for r in g.degrees().collect()}
    assert deg == {0: 1, 1: 1, 2: 0, 3: 1, 4: 1}


def test_dimacs_partition_count_invariance(spark, tmp_path):
    """Ranking is distributed (partition offsets, no global window):
    the parse must be identical at any parallelism."""
    import random

    rng = random.Random(7)
    n = 60
    adj = {i: set() for i in range(1, n + 1)}
    for _ in range(80):
        a, b = rng.sample(range(1, n + 1), 2)
        adj[a].add(b)
        adj[b].add(a)
    m = sum(len(v) for v in adj.values()) // 2
    text = f"{n} {m}\n" + "\n".join(
        " ".join(str(x) for x in sorted(adj[i])) for i in range(1, n + 1)
    ) + "\n"
    p = tmp_path / "rand.dimacs"
    p.write_text(text)
    e1 = sorted((r["src"], r["dst"]) for r in
                Graph.from_dimacs_file(spark, str(p), num_partitions=1).edges.collect())
    e8 = sorted((r["src"], r["dst"]) for r in
                Graph.from_dimacs_file(spark, str(p), num_partitions=8).edges.collect())
    assert e1 == e8
    assert len(e1) == 2 * m


def test_dimacs_numbering_invariant_to_file_splits(spark, tmp_path):
    """The vertex of a line is its rank among the non-comment lines in
    file order, however many splits the text scan reads the file in:
    numbering runs in (partition, position) order, and the splits of
    one file are its partitions in file order. Comments sit between
    data lines and blank lines are degree-0 vertices, so a mis-ordered
    or mis-offset split shifts every later id."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(3)
    n = 80
    adj = {i: set() for i in range(1, n + 1)}
    for _ in range(120):
        a, b = rng.sample(range(1, n + 1), 2)
        adj[a].add(b)
        adj[b].add(a)
    m = sum(len(v) for v in adj.values()) // 2
    lines = ["% leading comment", f"{n} {m}"]
    for i in range(1, n + 1):
        if i % 17 == 0:
            lines.append(f"% comment before vertex {i}")
        lines.append(" ".join(str(x) for x in sorted(adj[i])))
    p = tmp_path / "split.dimacs"
    p.write_text("\n".join(lines) + "\n")
    want = sorted((i - 1, j - 1) for i in adj for j in adj[i])

    def edges():
        g = Graph.from_dimacs_file(spark, str(p), num_partitions=3)
        return sorted((r["src"], r["dst"]) for r in g.edges.collect())

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1g")
    try:
        assert spark.read.text(str(p)).select(F.spark_partition_id()).distinct().count() == 1
        one = edges()
        spark.conf.set(key, "128")
        splits = spark.read.text(str(p)).select(F.spark_partition_id()).distinct().count()
        assert splits >= 3
        many = edges()
    finally:
        spark.conf.set(key, old)
    assert one == many == want


def test_edge_list_file_rejects_directories(spark, tmp_path):
    import pytest

    (tmp_path / "a.txt").write_text("2 1\n0 1\n")
    with pytest.raises(ValueError, match="single file"):
        Graph.from_edge_list_file(spark, str(tmp_path))
