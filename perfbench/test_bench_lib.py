"""Tests of the benchmark's pure helpers: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import math
import os
import sys
from decimal import Decimal

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import bench_lib as B  # noqa: E402
import run as R  # noqa: E402


@pytest.mark.parametrize("n,level", [(23, 0.56), (46, 0.78), (80, 0.87), (100, 0.9),
                                     (50_000, 0.9), (12, 0.5), (1, 0.5)])
def test_tail_level_keeps_ten_samples_beyond(n, level):
    assert B.tail_level(n) == level
    assert B.tail_level(1000, cap=0.99) == 0.99
    if 0.5 < level < 0.9:
        # at least 10 samples above the percentile, and not one more level
        assert n * (1 - level) >= 10 - 1e-9
        assert n * (1 - (level + 0.01)) < 10


def test_quantile_matches_linear_rule():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert B.quantile(xs, 0.5) == 3.0
    assert B.quantile(xs, 0.0) == 1.0 and B.quantile(xs, 1.0) == 5.0
    assert B.quantile(xs, 0.9) == pytest.approx(4.6)


def test_family_map_covers_headline_once():
    from gasket_rs_spark import registry

    queries, _ = registry.collect_raw()
    fam = B.family_of({q: B.short_module(queries[q].__module__) for q in B.HEADLINE})
    assert sorted(fam) == sorted(B.HEADLINE) and len(B.HEADLINE) == 23
    counts = {f: sum(1 for v in fam.values() if v == f) for f in B.FAMILY_MODULES}
    assert counts == {"relational": 11, "dedup": 6, "similarity": 2, "text": 4}
    assert {B.short_module(f.__module__) for f in queries.values()} == set(B.MODULES)


def test_family_map_rejects_unmapped_module():
    mods = {q: "operators.relational" for q in B.HEADLINE}
    mods["agg_hash"] = "operators.graph"
    with pytest.raises(ValueError):
        B.family_of(mods)


def _span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children_union():
    spans = [
        _span(0, "pass", -1, 0.0, 10.0),
        _span(1, "a", 0, 1.0, 4.0),
        _span(2, "b", 0, 5.0, 9.0),
        _span(3, "c", 2, 5.5, 6.5),
        _span(4, "c", 2, 6.0, 7.0),  # overlaps its sibling: counted once
    ]
    selfs = B.self_times(spans)
    assert selfs == pytest.approx({0: 3.0, 1: 3.0, 2: 2.5, 3: 1.0, 4: 1.0})
    layers, gap = B.layer_self_times(spans, 0)
    assert gap == pytest.approx(3.0)
    assert layers == pytest.approx({"a": 3.0, "b": 2.5, "c": 2.0})


def test_layer_self_times_sum_to_root_without_overlap():
    spans = [_span(0, "pass", -1, 0.0, 7.0), _span(1, "q", 0, 0.5, 6.0),
             _span(2, "build", 1, 0.5, 2.0), _span(3, "exec", 1, 2.5, 5.5)]
    layers, gap = B.layer_self_times(spans, 0)
    assert sum(layers.values()) + gap == pytest.approx(7.0)


def test_tracer_nests_and_disables():
    ticks = iter(range(100))
    t = B.Tracer("r", True, clock=lambda: float(next(ticks)))
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [(s["name"], s["parent"], s["run"]) for s in t.spans] == [("outer", -1, "r"), ("inner", 0, "r")]
    off = B.Tracer("r", False)
    with off.span("x") as s:
        assert s.record is None
    assert off.spans == []


def test_digest_is_order_insensitive_and_column_sorted():
    a = B.rows_digest(["b", "a"], [(1, "x"), (2, "y")])
    b = B.rows_digest(["a", "b"], [("y", 2), ("x", 1)])
    assert a == b
    assert a != B.rows_digest(["a", "b"], [("y", 2), ("x", 3)])


def test_digest_canonicalizes_cells():
    assert B.canon_cell(-0.0) == B.canon_cell(0.0)
    assert B.canon_cell(5) == B.canon_cell(5.0)
    assert B.canon_cell(Decimal("2.50")) == B.canon_cell(2.5)
    assert B.canon_cell(float("nan")) == "nan"
    assert B.canon_cell(0.1 + 0.2) == B.canon_cell(0.3)
    assert B.canon_cell(None) != B.canon_cell("null")
    assert B.canon_cell([1, (2.0, None)]) == "[1,[2,\x00]]"
    assert B.canon_cell({"b": 1, "a": 2}) == "{a:2,b:1}"
    assert B.canon_cell(True) == "true"
    assert not math.isnan(float(B.canon_cell(1e300)))


def test_benchmark_json_matches_run_py():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == R.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == R.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(R.WORKLOADS)
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
