"""Scale-run gate for the dedup pipeline (round-3 judge item #3).

The recorded 10^6-doc run lives in BENCH.md (scripts/dedup_scale_bench.py
appends it); this test keeps the same end-to-end path — chained-near-dup
synthetic corpus -> minhash LSH -> exact verify -> star-contraction
clusters -> exact expected collapse count — continuously exercised:

- ``test_chained_corpus_collapses_exactly``: always-on small instance
  (2k docs) proving the chain fixture semantics (every chain of 5 docs
  collapses to ONE cluster through adjacent-pair similarity only —
  non-adjacent chain members fall below the LSH threshold, so
  transitivity is doing real work, the data/chainGraph_1K discipline).
- ``test_dedup_at_scale``: the 10^5+-doc version, skipped unless
  OLIVE_SCALE_TESTS=1 (minutes of wall time; the 10^6 record is the
  BENCH.md entry run by scripts/dedup_scale_bench.py).
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)
from dedup_scale_bench import synth_corpus  # noqa: E402

from olive_spark.pipeline.dedup import dedup_clusters, minhash_near_duplicates


def _run(spark, n_docs: int, chain_len: int = 5):
    corpus, n_chain_docs = synth_corpus(
        spark, n_docs, dup_frac=0.10, chain_len=chain_len, partitions=4
    )
    corpus = corpus.localCheckpoint(eager=True)
    pairs = minhash_near_duplicates(corpus, threshold=0.5, num_hashes=32, bands=16)
    clusters = dedup_clusters(corpus, pairs)
    n_nonself = clusters.filter(F.col("canonical_id") != F.col("doc_id")).count()
    n_chains = n_chain_docs // chain_len
    assert n_nonself == n_chain_docs - n_chains
    # canonical = min doc_id of each chain: chain members are consecutive
    # ids, so every canonical_id must be 0 mod chain_len
    bad = clusters.filter(
        (F.col("doc_id") < n_chain_docs) & (F.col("canonical_id") % chain_len != 0)
    ).count()
    assert bad == 0


def test_chained_corpus_collapses_exactly(spark):
    _run(spark, 2_000)


@pytest.mark.skipif(
    os.environ.get("OLIVE_SCALE_TESTS") != "1",
    reason="scale run: minutes of wall time; set OLIVE_SCALE_TESTS=1 "
    "(the 10^6-doc record is produced by scripts/dedup_scale_bench.py)",
)
def test_dedup_at_scale(spark):
    _run(spark, 100_000)
