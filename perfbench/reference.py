"""Serial reference results, computed from the generator's arrays.

Nothing here touches Spark: the references are the repository's numpy
oracles (``olive_spark.oracle``), a vectorised copy of the oracle's
label propagation, and DuckDB for the triangle total, run on the same
generated input the engine reads from parquet.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from olive_spark import oracle


def edge_list(src: np.ndarray, dst: np.ndarray) -> list[tuple[int, int]]:
    return list(zip(src.tolist(), dst.tolist()))


def triangle_total(src: np.ndarray, dst: np.ndarray) -> int:
    """Triangles of the simple undirected graph under the edges."""
    con = duckdb.connect()
    try:
        con.register("e", pd.DataFrame({"s": src, "d": dst}))
        return int(
            con.execute(
                """
                WITH u AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                           FROM e WHERE s <> d)
                SELECT count(*) FROM u x
                JOIN u y ON x.b = y.a
                JOIN u z ON z.a = x.a AND z.b = y.b
                """
            ).fetchone()[0]
        )
    finally:
        con.close()


def label_propagation(n: int, src: np.ndarray, dst: np.ndarray, iterations: int) -> np.ndarray:
    """``oracle.label_propagation`` (undirected closure, duplicates
    counted, most frequent neighbour label, ties to the smallest) in
    vectorised numpy: the same rule, fast enough for the benchmark's
    sizes."""
    s, d = np.concatenate([src, dst]), np.concatenate([dst, src])
    label = np.arange(n, dtype=np.int64)
    for _ in range(iterations):
        keys, counts = np.unique(d * n + label[s], return_counts=True)
        v, lab = keys // n, keys % n
        order = np.lexsort((lab, -counts, v))
        v, lab = v[order], lab[order]
        first = np.r_[True, v[1:] != v[:-1]]
        label = label.copy()
        label[v[first]] = lab[first]
    return label


def rank_power(n: int, src: np.ndarray, dst: np.ndarray, pr_iters: int, hits_iters: int,
               lp_iters: int, k: int) -> dict:
    edges = edge_list(src, dst)
    hub, auth = oracle.hits_fixed(n, edges, hits_iters)
    in_core, _, _ = oracle.kcore_fixed(n, edges, k, max_rounds=100)
    return {
        "edges": len(edges),
        "rank": oracle.pagerank_fixed(n, edges, pr_iters),
        "hub": hub,
        "auth": auth,
        "label": label_propagation(n, src, dst, lp_iters),
        "triangles": triangle_total(src, dst),
        "in_core": in_core,
    }


def crawl_chain(n: int, src: np.ndarray, dst: np.ndarray, pr_iters: int) -> dict:
    edges = edge_list(src, dst)
    return {
        "edges": len(edges),
        # page index of the component's members; labels are mapped to
        # the engine's url-hash ids when checking
        "component": oracle.connected_components(n, edges),
        "rank": oracle.pagerank_fixed(n, edges, pr_iters),
    }
