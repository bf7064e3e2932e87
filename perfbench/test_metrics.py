"""Unit tests for the benchmark's own arithmetic and bookkeeping.

    python3 -m pytest perfbench -q
"""

import json
import os

import pytest

from perfbench import metrics
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_median_odd_even_and_empty():
    assert metrics.median([3.0, 1.0, 2.0]) == 2.0
    assert metrics.median([4, 1, 3, 2]) == 2.5
    assert metrics.median(x for x in (7,)) == 7.0
    with pytest.raises(ValueError):
        metrics.median([])


def test_failed_frac():
    assert metrics.failed_frac(0, 5) == 0.0
    assert metrics.failed_frac(2, 8) == 0.25
    assert metrics.failed_frac(3, 3) == 1.0
    with pytest.raises(ValueError):
        metrics.failed_frac(0, 0)
    with pytest.raises(ValueError):
        metrics.failed_frac(4, 3)
    with pytest.raises(ValueError):
        metrics.failed_frac(-1, 3)


def test_covered_merges_overlaps():
    assert metrics.covered([]) == 0.0
    assert metrics.covered([(0, 1), (2, 3)]) == 2
    assert metrics.covered([(0, 2), (1, 3)]) == 3
    assert metrics.covered([(1, 3), (0, 10), (4, 5)]) == 10
    assert metrics.covered([(0, 1), (1, 2)]) == 2


def test_self_time():
    # no children: the whole span
    assert metrics.self_time(0.0, 10.0, []) == 10.0
    # disjoint children
    assert metrics.self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == 7.0
    # overlapping children count once
    assert metrics.self_time(0.0, 10.0, [(1.0, 4.0), (2.0, 5.0)]) == 6.0
    # children sticking out of the parent are clipped to it
    assert metrics.self_time(2.0, 6.0, [(0.0, 3.0), (5.0, 9.0)]) == 2.0
    # a child outside the parent does not count
    assert metrics.self_time(2.0, 6.0, [(7.0, 8.0)]) == 4.0


@pytest.mark.parametrize("name", [
    "setup_s", "run_s", "op_s.p50", "store.bytes_written_per_fetch", "a", "9x", "a-b.c_d",
    "x" * 64,
])
def test_valid_names(name):
    assert metrics.check_name(name) == name


@pytest.mark.parametrize("name", [
    "", "_x", ".x", "-x", "a b", "a/b", "a:b", "x" * 65, "é", "run_s\n",
])
def test_invalid_names(name):
    with pytest.raises(ValueError):
        metrics.check_name(name)


def test_result_line_shape():
    line = metrics.result_line(True, 3, 0, {"run_s": (1.25, "s"), "rows_per_s": (8, "1/s")})
    d = json.loads(line)
    assert set(d) == {"correct", "attempted", "failed", "metrics"}
    assert d["metrics"]["run_s"] == {"value": 1.25, "unit": "s"}
    assert d["metrics"]["rows_per_s"] == {"value": 8.0, "unit": "1/s"}
    with pytest.raises(ValueError):
        metrics.result_line(True, 1, 0, {"bad name": (1.0, "s")})
    with pytest.raises(ValueError):
        metrics.result_line(True, 1, 2, {})


def test_declared_metrics_match_benchmark_json():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    for name, _ in run.END_TO_END + run.PER_LAYER:
        metrics.check_name(name)


# ---- tracer -----------------------------------------------------------------

class _Layer:
    def work(self, x):
        return x + 1

    def outer(self, x):
        return self.work(x) * 2


def test_tracer_nests_spans_and_restores():
    original_work, original_outer = _Layer.work, _Layer.outer
    t = Tracer("unit")
    t.wrap(_Layer, "work", "layer.work", after=lambda a, args, kw, r: a.update(out=r))
    t.wrap(_Layer, "outer", "layer.outer")
    try:
        assert _Layer().outer(1) == 4
    finally:
        t.restore()
    assert _Layer.work is original_work and _Layer.outer is original_outer
    (outer,) = t.named("layer.outer")
    (work,) = t.named("layer.work")
    assert work["parent"] == outer["id"] and outer["parent"] is None
    assert work["attrs"] == {"out": 2}
    assert outer["start"] <= work["start"] <= work["end"] <= outer["end"]
    assert t.children(outer) == [work]
    assert t.total("layer.work") == pytest.approx(work["end"] - work["start"])
    # spans outside a window are excluded
    assert t.named("layer.work", within=(work["end"] + 1, work["end"] + 2)) == []


def test_tracer_records_span_when_call_raises():
    t = Tracer("unit")

    class Boom:
        def go(self):
            raise RuntimeError("x")

    t.wrap(Boom, "go", "boom")
    with pytest.raises(RuntimeError):
        Boom().go()
    t.restore()
    (span,) = t.named("boom")
    assert span["end"] >= span["start"]


def test_tracer_write(tmp_path):
    t = Tracer("unit")
    with t.span("a", k=1):
        pass
    path = tmp_path / "trace.json"
    t.write(str(path))
    d = json.loads(path.read_text())
    assert d["trace"] == "unit" and d["spans"][0]["name"] == "a"
    assert d["spans"][0]["attrs"] == {"k": 1}
