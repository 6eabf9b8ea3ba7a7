"""Seeded input generators for the benchmark workloads.

Every table is produced by numpy from ``--seed`` alone, in this one
process, and written as parquet before any timed span starts. The
engine only ever sees the parquet files. A table set is reused when the
same (workload, seed, size) was written before in the work directory.

Each generator returns a ``Tables`` value: the pandas frames that are
written, plus the numpy arrays the serial references need, so the
reference never reads anything back from the engine.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: stream id per workload, so two workloads with one seed draw
#: independent numbers
_STREAM = {"rank-power": 1, "crawl-chain": 2}


def _rng(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, _STREAM[workload]]))


@dataclass
class Tables:
    """Generated input: parquet tables plus the reference's view of them."""

    frames: dict[str, pd.DataFrame]
    #: vertex count of the reference graph (ids 0..n-1)
    n: int
    #: reference edge arrays over ids 0..n-1 (duplicates kept)
    src: np.ndarray
    dst: np.ndarray
    extra: dict = field(default_factory=dict)


def _edge_frames(n: int, src: np.ndarray, dst: np.ndarray) -> dict[str, pd.DataFrame]:
    return {
        "edges": pd.DataFrame({"src": src.astype(np.int64), "dst": dst.astype(np.int64)}),
        "vertices": pd.DataFrame({"id": np.arange(n, dtype=np.int64)}),
    }


def rank_power(seed: int, edges: int) -> Tables:
    """Power-law multigraph (the bench.py shape): ``src`` uniform over
    V = E/8 ids, ``dst = floor(V * u^3)``, which piles in-degree onto
    the hubs near id 0."""
    rng = _rng("rank-power", seed)
    n = edges // 8
    src = rng.integers(0, n, size=edges, dtype=np.int64)
    dst = np.floor(n * rng.random(edges) ** 3).astype(np.int64)
    return Tables(_edge_frames(n, src, dst), n, src, dst)


N_HOSTS = 89


def _url(i: int) -> str:
    return f"https://host{i % N_HOSTS}.crawl.test/page/{i}"


def crawl_chain(seed: int, pages: int, layers: int, width: int) -> Tables:
    """Common-Crawl-style pages table ``(url, warc_ts, html, text, lang)``
    whose in-crawl links form a high-diameter graph.

    Pages are split into blocks of ``layers`` x ``width``; every page of
    layer i links to four random pages of layer i+1 in its block. Vertex
    ids are hashes of the urls, so a block's minimum id sits at a random
    page: min-label connected components needs about seven supersteps at
    the benchmark's sizes, the last ones with a handful of active
    vertices.
    Each page also carries a power-law number (0-12) of hrefs to urls
    outside the crawl, which link resolution must drop. The reference
    graph keeps only the in-crawl hrefs, duplicates included.
    """
    rng = _rng("crawl-chain", seed)
    block = layers * width
    blocks = pages // block
    n = blocks * block
    base = (np.arange(blocks, dtype=np.int64) * block)[:, None]
    pos = np.arange((layers - 1) * width, dtype=np.int64)
    src = (base + np.repeat(pos, 4)).ravel()
    nxt = np.repeat((pos // width + 1) * width, 4)
    dst = (base + nxt + rng.integers(0, width, size=(blocks, nxt.size))).ravel()
    # power-law counts of outside hrefs from fixed quantiles, dealt to
    # random pages: the same total for every seed, so every seed writes
    # and extracts about as many bytes
    q = (np.arange(n) + 0.5) / n
    out_deg = rng.permutation(np.minimum(np.floor(q ** (-1 / 1.5)).astype(np.int64) - 1, 6) * 2)
    out_ids = n + rng.integers(0, n, size=int(out_deg.sum()), dtype=np.int64)
    # every href of page i, in document order: in-crawl links, then outside ones
    in_ends = np.searchsorted(src, np.arange(1, n + 1))
    out_ends = np.cumsum(out_deg)
    html, text = [], []
    in_lo = out_lo = 0
    dst_list, out_list = dst.tolist(), out_ids.tolist()
    for i in range(n):
        hrefs = dst_list[in_lo:in_ends[i]] + out_list[out_lo:out_ends[i]]
        in_lo, out_lo = in_ends[i], out_ends[i]
        anchors = "".join(f'<li><a href="{_url(j)}">link {j}</a></li>' for j in hrefs)
        html.append(
            f"<html><head><title>p{i}</title></head><body><h1>page {i}</h1>"
            f"<ul>{anchors}</ul></body></html>".encode()
        )
        text.append(f"page {i}")
    ts = np.datetime64("2026-01-01T00:00:00", "us") + rng.integers(
        0, 86_400_000_000, size=n
    ).astype("timedelta64[us]")
    frames = {
        "pages": pd.DataFrame(
            {
                "url": [_url(i) for i in range(n)],
                # microseconds: Spark rejects pandas' default nanoseconds
                "warc_ts": pd.Series(ts).dt.tz_localize("UTC"),
                "html": html,
                "text": text,
                "lang": np.where(rng.random(n) < 0.9, "en", "de").tolist(),
            }
        )
    }
    return Tables(frames, n, src, dst, {"hrefs": int(src.size + out_ids.size)})


GENERATORS = {"rank-power": rank_power, "crawl-chain": crawl_chain}


def _arrow(frame: pd.DataFrame) -> pa.Table:
    if "warc_ts" in frame:
        schema = pa.schema(
            [
                ("url", pa.string()),
                ("warc_ts", pa.timestamp("us", tz="UTC")),
                ("html", pa.binary()),
                ("text", pa.string()),
                ("lang", pa.string()),
            ]
        )
        return pa.Table.from_pandas(frame, schema=schema, preserve_index=False)
    return pa.Table.from_pandas(frame, preserve_index=False)


def materialize(workdir: str, workload: str, seed: int, size: dict) -> tuple[str, Tables]:
    """Generate the workload's tables and write them as parquet under
    ``workdir``; returns (directory, tables). Writing is skipped when the
    directory already holds this (workload, seed, size)."""
    tables = GENERATORS[workload](seed, **size)
    key = "-".join([workload, str(seed)] + [f"{k}{v}" for k, v in sorted(size.items())])
    out = os.path.join(workdir, "inputs", key)
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        for name, frame in tables.frames.items():
            pq.write_table(_arrow(frame), os.path.join(out, f"{name}.parquet"))
        with open(done, "w") as f:
            json.dump({"workload": workload, "seed": seed, "size": size}, f)
    return out, tables
