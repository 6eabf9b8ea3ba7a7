"""Tests of the benchmark's own code; they start no Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import numpy as np
import pytest

import gen
import reference
import report
from olive_spark import oracle
from spans import Span, self_time

HERE = os.path.dirname(os.path.abspath(__file__))
SMALL = {
    "rank-power": {"edges": 4000},
    "crawl-chain": {"pages": 480, "layers": 6, "width": 40},
}


def _digest(directory: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(directory, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(directory))
        if name.endswith(".parquet")
    }


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    a, _ = gen.materialize(str(tmp_path / "a"), workload, 7, SMALL[workload])
    b, _ = gen.materialize(str(tmp_path / "b"), workload, 7, SMALL[workload])
    c, _ = gen.materialize(str(tmp_path / "c"), workload, 8, SMALL[workload])
    assert _digest(a) and _digest(a) == _digest(b)
    # the vertex id table of rank-power is 0..n-1 for every seed
    assert _digest(a) != _digest(c)


def test_crawl_reference_keeps_only_in_crawl_links():
    t = gen.crawl_chain(3, **SMALL["crawl-chain"])
    pages = t.frames["pages"]
    hrefs = sum(html.count(b"<a href=") for html in pages["html"])
    assert hrefs == t.extra["hrefs"] > t.src.size
    assert t.dst.max() < t.n == len(pages)
    assert str(pages["warc_ts"].dtype) == "datetime64[us, UTC]"


def test_label_propagation_reference_matches_the_oracle():
    t = gen.rank_power(5, **SMALL["rank-power"])
    want = oracle.label_propagation(t.n, reference.edge_list(t.src, t.dst), 3)
    assert np.array_equal(reference.label_propagation(t.n, t.src, t.dst, 3), want)


def test_engine_rows_must_cover_every_vertex_once():
    import pandas as pd

    from workloads import _by_id

    ok = pd.DataFrame({"id": [2, 0, 1], "label": [5, 6, 7]})
    assert _by_id(ok, 3, "label").tolist() == [6, 7, 5]
    assert _by_id(ok, 3, "label", ids={2: 0, 0: 1, 1: 2}).tolist() == [5, 6, 7]
    for bad in ([0, 1], [0, 1, 1], [0, 1, 3], [0, 1, -1]):
        with pytest.raises(ValueError):
            _by_id(pd.DataFrame({"id": bad, "label": 0}), 3, "label")
    with pytest.raises(ValueError):
        _by_id(ok, 3, "label", ids={2: 0, 0: 1})


def test_emitted_metrics_are_declared():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    name_re = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
    declared = {
        "end_to_end": {m["name"]: m["unit"] for m in bench["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    assert declared["end_to_end"] == report.E2E
    assert declared["per_layer"] == report.PER_LAYER
    # a traced run emits exactly the declared per-layer names, even with
    # no spans at all
    emitted = report.per_layer([], [], n=1, nproc=4, untraced_s=[1.0], traced_s=[1.0])
    assert set(emitted) == set(report.PER_LAYER)
    for name in list(report.E2E) + list(report.PER_LAYER):
        assert name_re.fullmatch(name), name


def _span(name, start, end, parent=None):
    return Span(name, start, end, parent, "warm-1")


def test_self_time_subtracts_children_once():
    spans = [
        _span("job", 0.0, 10.0),
        _span("a", 1.0, 3.0, 0),
        _span("b", 2.0, 4.0, 0),  # overlaps a: 1..4 covered once
        _span("c", 9.0, 12.0, 0),  # clipped to the parent: 9..10
        _span("a.step", 1.0, 2.5, 1),  # grandchild: not the root's child
        _span("other", 5.0, 6.0),  # another root
    ]
    assert self_time(spans, 0) == pytest.approx(10.0 - 3.0 - 1.0)
    assert self_time(spans, 1) == pytest.approx(2.0 - 1.5)
    assert self_time(spans, 2) == pytest.approx(2.0)
    assert self_time(spans, 5) == pytest.approx(1.0)


def test_trace_other_ms_is_the_jobs_self_time():
    spans = [_span("job", 0.0, 2.0), _span("hits", 0.5, 1.5, 0), _span("metrics.read", 1.5, 1.6, 0)]
    out = report.per_layer(spans, ["warm-1"], n=1, nproc=4, untraced_s=[1.8], traced_s=[2.0])
    assert out["trace.other_ms"] == pytest.approx(900.0)
    assert out["metrics.read_ms"] == pytest.approx(100.0)
    assert out["hits.s"] == pytest.approx(1.0)
    assert out["trace.overhead_s"] == pytest.approx(0.2)


@pytest.mark.parametrize(
    "n, pct", [(5, 50.0), (19, 50.0), (20, 50.0), (30, 66.0), (100, 90.0), (1000, 99.0)]
)
def test_tail_leaves_ten_samples_beyond(n, pct):
    got_pct, value = report.tail([float(i) for i in range(n)])
    assert got_pct == pct
    if n >= 20:
        assert sum(1 for i in range(n) if i > value) >= 10
