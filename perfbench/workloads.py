"""The benchmark's workloads: set-up, one job, and its correctness check.

A workload's ``setup`` loads the generated parquet into whatever state
its job reads; its ``job`` is one batch job of the closed loop, made of
calls into engine layers, each inside a span named after the layer; its
``check`` compares the job's outputs with the serial reference and
returns the mismatches; ``release`` frees what the job left cached.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

from olive_spark.algorithms.cc import connected_components
from olive_spark.algorithms.hits import hits
from olive_spark.algorithms.kcore import kcore
from olive_spark.algorithms.labelprop import label_propagation
from olive_spark.algorithms.pagerank import pagerank, pagerank_fixed
from olive_spark.algorithms.triangles import triangle_count
from olive_spark.checkpoint import CheckpointStore
from olive_spark.graph import Graph
from olive_spark.ingest.resolve import build_graph_from_pages

import reference
from spans import Tracer


def _close(got, exp) -> bool:
    return got.shape == exp.shape and bool(np.allclose(got, exp, rtol=1e-6, atol=1e-12))


def _by_id(pdf, n: int, col: str, ids=None) -> np.ndarray:
    """Engine output column as an array indexed like the reference.
    ``ids`` maps engine vertex ids to reference indices when they differ.
    Raises unless the engine returned every reference vertex exactly once."""
    idx = pdf["id"].to_numpy() if ids is None else pdf["id"].map(ids).to_numpy()
    if not np.array_equal(np.sort(idx), np.arange(n)):
        raise ValueError(f"{col}: the engine's {len(pdf)} rows do not cover the {n} vertices once each")
    out = np.zeros(n, dtype=pdf[col].dtype)
    out[idx.astype(np.int64)] = pdf[col].to_numpy()
    return out


class TimedCheckpointStore(CheckpointStore):
    """A durable store that times every ``checkpoint()`` call and sizes
    the snapshot it wrote."""

    def __init__(self, spark, root: str, run_id: str):
        super().__init__(spark, root, run_id)
        self.local_root = root.removeprefix("file://")
        self.writes: list[tuple[float, int]] = []

    def checkpoint(self, superstep, state, frontier=None):
        t0 = time.perf_counter()
        out = super().checkpoint(superstep, state, frontier)
        ms = (time.perf_counter() - t0) * 1e3
        state_dir = os.path.join(self.local_root, self.run_id, f"superstep={superstep}", "state")
        size = sum(e.stat().st_size for e in os.scandir(state_dir) if e.is_file())
        self.writes.append((ms, size))
        return out


class RankPower:
    """Read-only analytics over cached layouts of a skewed graph."""

    name = "rank-power"
    size = {"edges": 400_000}
    pr_iters, hits_iters, lp_iters, k = 8, 1, 1, 4

    def reference(self, t) -> dict:
        return reference.rank_power(t.n, t.src, t.dst, self.pr_iters, self.hits_iters,
                                    self.lp_iters, self.k)

    def setup(self, spark, inputs: str, tr: Tracer) -> dict:
        with tr.span("graph.edges"):
            g = Graph.from_edges(
                spark,
                spark.read.parquet(f"{inputs}/edges.parquet"),
                vertices=spark.read.parquet(f"{inputs}/vertices.parquet"),
            )
            g.edge_count()
            g.vertex_count()
        with tr.span("graph.degrees"):
            g.degrees()
        with tr.span("graph.reversed"):
            g.reversed_edges()
        with tr.span("graph.symmetrized"):
            g.symmetrized().edges.count()
        return {"graph": g}

    def job(self, spark, ctx: dict, tr: Tracer) -> dict:
        g = ctx["graph"]
        with tr.span("pregel.pagerank") as i:
            pr = pagerank_fixed(g, self.pr_iters)
        tr.read_steps(i, pr)
        with tr.span("hits"):
            h = hits(g, self.hits_iters)
            h.agg(F.sum("hub"), F.sum("auth")).first()
        with tr.span("pregel.labelprop") as i:
            lp = label_propagation(g, self.lp_iters)
        tr.read_steps(i, lp)
        with tr.span("triangles"):
            per, total = triangle_count(g)
        with tr.span("kcore") as i:
            kc = kcore(g, self.k)
        tr.spans[i].attrs["rounds"] = kc.rounds
        return {"pr": pr, "hits": h, "lp": lp, "per": per, "total": total, "kcore": kc}

    def check(self, out: dict, ref: dict, ctx: dict) -> list[str]:
        n = len(ref["rank"])
        bad = []
        if not _close(_by_id(out["pr"].state.toPandas(), n, "rank"), ref["rank"]):
            bad.append("pagerank")
        h = out["hits"].toPandas()
        if not (_close(_by_id(h, n, "hub"), ref["hub"]) and _close(_by_id(h, n, "auth"), ref["auth"])):
            bad.append("hits")
        if not np.array_equal(_by_id(out["lp"].state.toPandas(), n, "label"), ref["label"]):
            bad.append("label_propagation")
        if out["total"] != ref["triangles"]:
            bad.append("triangles")
        if not np.array_equal(_by_id(out["kcore"].state.toPandas(), n, "in_core"), ref["in_core"]):
            bad.append("kcore")
        return bad

    def release(self, out: dict) -> None:
        out["pr"].free()
        out["lp"].free()
        out["per"].unpersist()


class CrawlChain:
    """Ingest a page table, then iterate over its high-diameter link
    graph with durable per-superstep checkpoints."""

    name = "crawl-chain"
    size = {"pages": 120_000, "layers": 4, "width": 30}
    pr_iters = 1

    def __init__(self, workdir: str):
        self.workdir = workdir
        self.jobs = 0

    def reference(self, t) -> dict:
        return reference.crawl_chain(t.n, t.src, t.dst, self.pr_iters)

    def setup(self, spark, inputs: str, tr: Tracer) -> dict:
        return {"pages": spark.read.parquet(f"{inputs}/pages.parquet")}

    def job(self, spark, ctx: dict, tr: Tracer) -> dict:
        self.jobs += 1
        ckpt_root = os.path.join(self.workdir, "ckpt", f"job{self.jobs}")
        with tr.span("ingest.build"):
            g, verts = build_graph_from_pages(spark, ctx["pages"], id_method="hash")
        with tr.span("ingest.edges") as i:
            edges = g.edge_count()
        tr.spans[i].attrs["edges"] = edges
        with tr.span("graph.symmetrized"):
            g.symmetrized().edges.count()
        with tr.span("graph.degrees"):
            g.degrees()
        with tr.span("pregel.cc") as i:
            cc = connected_components(g)
        tr.read_steps(i, cc)
        store = TimedCheckpointStore(spark, f"file://{ckpt_root}", "pagerank")
        with tr.span("pregel.pagerank") as i:
            pr = pagerank(g, epsilon=None, max_iterations=self.pr_iters, checkpoint_store=store)
        tr.read_steps(i, pr)
        tr.spans[i].attrs["checkpoint"] = store.writes
        return {"graph": g, "verts": verts, "edges": edges, "cc": cc, "pr": pr,
                "ckpt_root": ckpt_root}

    def check(self, out: dict, ref: dict, ctx: dict) -> list[str]:
        if "page_of" not in ctx:
            # url hash -> page index, from the url's trailing page number
            m = out["verts"].toPandas()
            ctx["page_of"] = dict(zip(m["id"], m["url"].str.rsplit("/", n=1).str[1].astype(int)))
            ctx["hash_of"] = np.zeros(len(m), dtype=np.int64)
            ctx["hash_of"][list(ctx["page_of"].values())] = list(ctx["page_of"].keys())
        page_of, hash_of = ctx["page_of"], ctx["hash_of"]
        n = len(ref["rank"])
        bad = []
        if out["edges"] != ref["edges"]:
            bad.append("ingest")
        # min-label components over url-hash ids: each page's label is
        # the smallest hash in its reference component
        comp = ref["component"]
        min_hash = np.full(n, np.iinfo(np.int64).max)
        np.minimum.at(min_hash, comp, hash_of)
        if not np.array_equal(_by_id(out["cc"].state.toPandas(), n, "component", page_of), min_hash[comp]):
            bad.append("connected_components")
        if not _close(_by_id(out["pr"].state.toPandas(), n, "rank", page_of), ref["rank"]):
            bad.append("pagerank")
        return bad

    def release(self, out: dict) -> None:
        out["cc"].free()
        out["pr"].free()
        out["graph"].unpersist()
        shutil.rmtree(out["ckpt_root"], ignore_errors=True)
