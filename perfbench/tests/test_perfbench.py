"""The benchmark's own tests: generators, tracing and a tiny run of
every workload.  Run with ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.run import run  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(path)):
        for f in sorted(fs):
            h.update(os.path.relpath(os.path.join(d, f), path).encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("kind", ["documents", "embeddings", "cutout"])
def test_same_seed_same_bytes(tmp_path, kind):
    def write(seed, name):
        p = str(tmp_path / name)
        if kind == "documents":
            gen.write_documents(seed, 500, p)
        elif kind == "embeddings":
            gen.write_embeddings(gen.embeddings(seed, 300, 8, 4, 1.0)[0], p)
        else:
            gen.write_cutout(gen.cutout(seed, 3, 2, 2, 3), p)
        return _digest(p)

    assert write(7, "a") == write(7, "b")
    assert write(7, "a2") != write(8, "c")


def test_geo_spans_parse_back():
    """Every geo media_ref carries the (lat, lon, hour, val) the
    oracle receives, in the format parse_geo_spans reads."""
    table, geo = gen.documents(3, 200)
    refs = [s["media_ref"] for row in table.column("spans").to_pylist()
            for s in row if s["kind"] == "geo"]
    assert len(refs) == len(geo["lat"]) > 0
    for ref, lat, lon, hour, val in zip(refs, geo["lat"], geo["lon"], geo["hour"], geo["val"]):
        assert ref == f"geo:{lat:.4f},{lon:.4f}@h{hour}#var=wnd100m&val={val:.4f}"
        assert val * 16 == int(val * 16)


def test_tracing_off_records_no_spans():
    t = Tracer(False)
    with t.root("request-1"):
        with t.span("inner"):
            pass
    assert t.spans == []


def _check_spans(path: str) -> None:
    with open(path) as f:
        spans = [json.loads(line) for line in f]
    assert spans
    by_id = {s["id"]: s for s in spans}
    roots = {}
    for s in spans:
        assert s["end"] >= s["start"]
        if s["parent"] is None:
            assert s["request"] not in roots, "one root span per request"
            roots[s["request"]] = s
        else:
            parent = by_id[s["parent"]]
            assert parent["request"] == s["request"]
            assert parent["start"] <= s["start"] and s["end"] <= parent["end"]
    assert "setup" in roots and any(r.startswith("request-") for r in roots)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_traced_run(tmp_path, workload):
    """A traced tiny run checks its results, reports every metric of
    BENCHMARK.json and writes well-formed spans."""
    result, detail = run(workload, seed=5, seconds=0.5, trace=True, scale="tiny",
                         work_root=str(tmp_path))
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 3
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    assert set(detail["end_to_end"]) == {m["name"] for m in SPEC["end_to_end"]}
    for name, v in detail["end_to_end"].items():
        assert math.isfinite(v) and v > 0, name
    _check_spans(os.path.join(tmp_path, workload, "spans.jsonl"))


def test_tiny_untraced_run(tmp_path):
    result, detail = run("ann_batch", seed=6, seconds=0.5, trace=False, scale="tiny",
                         work_root=str(tmp_path))
    assert result["correct"]
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert "spans" not in detail
    assert not os.path.exists(os.path.join(tmp_path, "ann_batch", "spans.jsonl"))
