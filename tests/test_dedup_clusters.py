"""Near-dup clustering + corpus n-gram counts."""

from __future__ import annotations

import pandas as pd
import pytest


def docs_df(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )


def test_dedup_clusters_transitive(spark):
    """A~B and B~C must land in one cluster with canonical = min id,
    even though (A,C) was never a pair; singletons map to themselves."""
    from olive_spark.pipeline.dedup import dedup_clusters

    docs = docs_df(spark, ["a"] * 5)
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1, 2], "doc_b": [2, 3]})
    )
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup_clusters(docs, pairs).collect()
    }
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4}


def test_dedup_clusters_end_to_end(spark):
    """minhash pairs -> clusters on a corpus with two near-dup families."""
    from olive_spark.pipeline.dedup import dedup_clusters, minhash_near_duplicates

    base1 = "the quick brown fox jumps over the lazy dog again and again today"
    base2 = "pack my box with five dozen liquor jugs before the night falls down"
    texts = [
        base1,
        base1 + " extra",
        base1 + " more words",
        base2,
        base2 + " tonight",
        "completely different text about graph engines and spark pipelines",
    ]
    docs = docs_df(spark, texts)
    pairs = minhash_near_duplicates(docs, threshold=0.5, num_hashes=32, bands=16)
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup_clusters(docs, pairs).collect()
    }
    assert got[0] == got[1] == got[2] == 0
    assert got[3] == got[4] == 3
    assert got[5] == 5


def test_dedup_clusters_fixed_rounds(spark):
    """Bounded-round variant: a 5-doc chain of pairs needs 4 min-label
    rounds to converge; with iterations=1 only direct neighbors of the
    min see its label."""
    from olive_spark.pipeline.dedup import dedup_clusters

    docs = docs_df(spark, ["x"] * 5)
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": [0, 1, 2, 3], "doc_b": [1, 2, 3, 4]})
    )
    got1 = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup_clusters(docs, pairs, iterations=1).collect()
    }
    assert got1 == {0: 0, 1: 0, 2: 1, 3: 2, 4: 3}
    gotc = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup_clusters(docs, pairs).collect()
    }
    assert gotc == {i: 0 for i in range(5)}


def test_dedup_clusters_long_chain_stars(spark):
    """Templated pages chain near-dups (A~B~C~...): a 10^4-doc pair
    CHAIN has diameter 10^4, which min-label CC would need 10^4 rounds
    to traverse. The default convergence path now uses large/small-star
    contraction, which must reach the exact fixpoint within a
    logarithmic round budget (2*log2(n) + slack ~ 30 rounds; the
    max_rounds=50 default in connected_components_stars is already
    comfortably log-scale). Correctness of the result under that budget
    IS the O(log n) convergence evidence — an unconverged star forest
    would map docs to non-minimum canonicals. Mirrors the reference's
    chain fixture discipline (data/chainGraph_1K)."""
    from olive_spark.pipeline.dedup import dedup_clusters

    n = 10_000
    docs = spark.range(n).selectExpr("id AS doc_id", "'t' AS text")
    pairs = spark.range(n - 1).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    out = dedup_clusters(docs, pairs)
    assert out.filter("canonical_id != 0").count() == 0
    assert out.count() == n


def test_dedup_clusters_method_validation(spark):
    from olive_spark.pipeline.dedup import dedup_clusters

    docs = docs_df(spark, ["a", "b"])
    pairs = spark.createDataFrame(pd.DataFrame({"doc_a": [0], "doc_b": [1]}))
    # there is no method option: iterations alone picks the operator
    with pytest.raises(TypeError):
        dedup_clusters(docs, pairs, method="stars")
    # iterations=None -> star contraction, iterations=k -> k min-label rounds
    for iterations in (None, 2):
        got = {
            r["doc_id"]: r["canonical_id"]
            for r in dedup_clusters(docs, pairs, iterations=iterations).collect()
        }
        assert got == {0: 0, 1: 0}, iterations


def test_ngram_counts(spark):
    from olive_spark.pipeline.textstats import ngram_counts

    docs = docs_df(
        spark,
        ["the cat sat", "the cat ran", "a dog ran fast", ""],
    )
    got = {
        r["ngram"]: (r["n_docs"], r["n_occurrences"])
        for r in ngram_counts(docs, n=2, min_count=1).collect()
    }
    assert got["the cat"] == (2, 2)
    assert got["cat sat"] == (1, 1)
    assert got["dog ran"] == (1, 1)
    # min_count filter
    from olive_spark.pipeline.textstats import ngram_counts as nc

    got2 = {r["ngram"] for r in nc(docs, n=2, min_count=2).collect()}
    assert got2 == {"the cat"}


def test_ngram_counts_multiplicity(spark):
    """Occurrences count with multiplicity; n_docs is distinct."""
    from olive_spark.pipeline.textstats import ngram_counts

    docs = docs_df(spark, ["go go go go"])
    got = {
        r["ngram"]: (r["n_docs"], r["n_occurrences"])
        for r in ngram_counts(docs, n=2, min_count=1).collect()
    }
    assert got["go go"] == (1, 3)


def test_ngram_counts_matches_duckdb_oracle(spark):
    """Bit-identical vs the contract's DuckDB SQL on a mixed corpus
    (punctuation, case, empty doc, single-word doc)."""
    import duckdb

    import __spark_entry__ as entry_mod
    from olive_spark.pipeline.textstats import ngram_counts

    texts = [
        "The cat sat. The cat sat!",
        "the CAT sat",
        "",
        "one",
        "numbers 123 and 123 numbers",
    ]
    docs = docs_df(spark, texts)
    got = {
        (r["ngram"], r["n_docs"], r["n_occurrences"])
        for r in ngram_counts(docs, n=2, min_count=1).collect()
    }
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    sql = entry_mod._NGRAM_COUNTS_SQL.replace("HAVING COUNT(*) >= 5",
                                              "HAVING COUNT(*) >= 1")
    exp = {(r[0], int(r[1]), int(r[2])) for r in con.execute(sql).fetchall()}
    assert got == exp
