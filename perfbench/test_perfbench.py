"""Tests for the benchmark's own code (not the engine's).

Run: ``python3 -m pytest perfbench -q -p no:cacheprovider``
"""

from __future__ import annotations

import collections
import datetime
import decimal
import itertools
import math
import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import oracle  # noqa: E402
import workload as wl  # noqa: E402
from run import cycle_median, plan_cache_hit  # noqa: E402
from spans import OPERATION, Span, Tracer, self_times  # noqa: E402


# -- latency statistic ----------------------------------------------------

def test_cycle_median_is_median_of_cycle_means():
    cycles = [[1.0, 3.0], [2.0, 6.0], [10.0, 30.0]]   # means 2, 4, 20
    assert cycle_median(cycles) == 4.0
    assert cycle_median([[5.0]]) == 5.0
    assert cycle_median([[1.0], [2.0], [3.0], [4.0]]) == 2.5


def test_cycle_median_does_not_sit_on_a_template_boundary():
    """k cycles of 8 templates with well separated latencies.  The
    whole-sample p50 (rank 4k) is the slowest sample of the 4th-fastest
    template, so when the 4th and 5th templates trade speeds it moves to
    another template's group; the cycle median does not move."""
    k = 6

    def cycles(swap):
        out = []
        for c in range(k):
            lat = [100.0 * (t + 1) + c for t in range(8)]
            if swap:
                lat[3], lat[4] = lat[3] + 150.0, lat[4] - 150.0
            out.append(lat)
        return out

    def p50(cs):
        flat = sorted(v for c in cs for v in c)
        return flat[len(flat) // 2 - 1]      # nearest rank 4k of 8k

    assert p50(cycles(False)) == 400.0 + k - 1
    assert p50(cycles(True)) == 350.0 + k - 1
    assert cycle_median(cycles(True)) == cycle_median(cycles(False))


def test_cycle_median_of_nothing_raises():
    with pytest.raises(ValueError):
        cycle_median([])


# -- plan-cache hit rule --------------------------------------------------

class _BoundedCache(collections.OrderedDict):
    """An LRU plan cache that evicts its oldest entry when full."""

    def __init__(self, capacity):
        super().__init__()
        self.capacity = capacity

    def __setitem__(self, key, value):
        super().__setitem__(key, value)
        if len(self) > self.capacity:
            self.popitem(last=False)


def test_plan_cache_hit_is_asked_by_key_under_eviction():
    cube = types.SimpleNamespace(plan_cache=_BoundedCache(2))
    cube.plan_cache["a"] = cube.plan_cache["b"] = object()
    assert plan_cache_hit(cube, "b")
    assert not plan_cache_hit(cube, "c")
    size = len(cube.plan_cache)
    cube.plan_cache["c"] = object()       # serving the miss evicts "a"
    assert len(cube.plan_cache) == size   # a size rule would read a hit
    assert plan_cache_hit(cube, "c") and not plan_cache_hit(cube, "a")


# -- request streams ----------------------------------------------------

def _take(workload, seed, n):
    return list(itertools.islice(wl.requests(workload, seed), n))


@pytest.mark.parametrize("workload", wl.SERVE_WORKLOADS)
def test_same_seed_same_stream(workload):
    assert _take(workload, 7, 200) == _take(workload, 7, 200)
    assert _take(workload, 7, 200) != _take(workload, 8, 200)


@pytest.mark.parametrize("workload", wl.SERVE_WORKLOADS)
def test_every_cycle_sends_each_template_once(workload):
    reqs = _take(workload, 3, 10 * len(wl.TEMPLATES))
    for c in range(10):
        cycle = reqs[c * len(wl.TEMPLATES):(c + 1) * len(wl.TEMPLATES)]
        assert sorted(r.template for r in cycle) == sorted(wl.BY_NAME)


def test_serve_repeat_reuses_one_draw_per_template():
    keys = {r.key() for r in _take("serve_repeat", 5, 400)}
    assert len(keys) == len(wl.TEMPLATES)


def test_serve_distinct_never_repeats_a_request():
    reqs = _take("serve_distinct", 5, 4000)
    assert len({r.key() for r in reqs}) == len(reqs)


def test_unknown_workload_is_refused():
    with pytest.raises(ValueError):
        next(wl.requests("serve_sometimes", 1))
    with pytest.raises(ValueError):
        next(wl.requests("pipeline_batch", 1))


def test_pipeline_passes_are_seeded_permutations_of_the_rows():
    def take(seed):
        return list(itertools.islice(wl.passes(seed), 20))
    assert take(4) == take(4)
    assert take(4) != take(5)
    for p in take(4):
        assert sorted(p) == sorted(wl.PIPELINE_ROWS)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def test_serve_distinct_never_repeats_a_plan_cache_key(spark):
    """The engine's plan-cache key, not just the variables, is distinct
    for every request (the sub-field slices need a live context)."""
    from activecube_graphql_spark.cubes import DocsCube, EventsCube, SalesCube
    from activecube_graphql_spark.graphql import graphql_query
    cubes = {"sales": SalesCube(spark, "/"), "events": EventsCube(spark, "/"),
             "documents": DocsCube(spark, "/")}

    def key(r):
        t = wl.BY_NAME[r.template]
        return graphql_query(cubes[t.cube], t.document,
                             r.variables).build_query().cache_key()

    distinct = _take("serve_distinct", 9, 40 * len(wl.TEMPLATES))
    assert len({key(r) for r in distinct}) == len(distinct)
    repeat = _take("serve_repeat", 9, 5 * len(wl.TEMPLATES))
    assert len({key(r) for r in repeat}) == len(wl.TEMPLATES)


# -- response flattening and comparison ----------------------------------

def test_flatten_nested_sub_fields():
    row = {"shipdate": {"year": 1996, "month": 3}, "cnt": 4,
           "a": {"b": {"c": 1}}}
    assert oracle.flatten(row) == {"shipdate.year": 1996,
                                   "shipdate.month": 3, "cnt": 4,
                                   "a.b.c": 1}


def test_compare_matches_json_encoded_oracle_rows():
    response = [{"ts": {"date": "2024-01-02"}, "n": 2, "rev": 1.5},
                {"ts": {"date": "2024-01-01"}, "n": 1, "rev": 0.25}]
    oracle_rows = [{"ts.date": datetime.date(2024, 1, 1), "n": 1,
                    "rev": 0.25},
                   {"ts.date": datetime.date(2024, 1, 2), "n": 2,
                    "rev": 1.5}]
    assert oracle.compare(response, oracle_rows) is None
    assert oracle.compare([{"x": "1.10"}],
                          [{"x": decimal.Decimal("1.10")}]) is None


def test_compare_reports_differences():
    base = [{"k": "a", "n": 1}]
    assert "row count" in oracle.compare(base, base * 2)
    assert "columns" in oracle.compare([{"k": "a", "m": 1}], base)
    assert "values" in oracle.compare([{"k": "a", "n": 2}], base)
    # floats compare bit-exactly, ints and floats are not conflated
    assert oracle.compare([{"v": 0.1 + 0.2}], [{"v": 0.3}]) is not None
    assert oracle.compare([{"v": 1}], [{"v": 1.0}]) is not None


def test_digest_is_the_canonical_multiset():
    rows = [(1, "a", 0.5), (2, "b", None)]
    base = oracle.digest(["n", "s", "f"], rows)
    # row order and column order do not matter
    assert oracle.digest(["n", "s", "f"], rows[::-1]) == base
    assert oracle.digest(["s", "n", "f"],
                         [(r[1], r[0], r[2]) for r in rows]) == base
    # values, multiplicity and column names do
    assert oracle.digest(["n", "s", "f"], [(1, "a", math.nextafter(0.5, 1)),
                                           (2, "b", None)]) != base
    assert oracle.digest(["n", "s", "f"], rows + rows[:1]) != base
    assert oracle.digest(["n", "s", "g"], rows) != base


# -- span self time -------------------------------------------------------

def test_self_time_subtracts_child_coverage():
    spans = [Span("request", 0.0, 10.0, None, 1),
             Span("a", 1.0, 4.0, 0, 1),
             Span("b", 3.0, 6.0, 0, 1),       # overlaps a: union is 1..6
             Span("c", 2.0, 3.0, 1, 1)]
    assert self_times(spans) == [5.0, 2.0, 3.0, 1.0]


def test_layer_times_leave_only_the_operation_span_unattributed():
    tracer = Tracer()
    tracer.spans = [
        Span(OPERATION, 0.0, 10.0, None, 1),
        Span("server.json_decode", 0.0, 1.0, 0, 1),
        Span("server.execute", 1.0, 9.0, 0, 1),
        Span("spark.collect", 2.0, 8.0, 2, 1),
        Span("server.json_encode", 9.0, 9.5, 0, 1),
    ]
    layers, unattributed_pct, n = tracer.layer_ms()
    assert n == 1
    assert layers["server.self_ms"] == pytest.approx(1000.0 * 3.5)
    assert layers["spark.exec_ms"] == pytest.approx(1000.0 * 6.0)
    assert unattributed_pct == pytest.approx(5.0)   # 0.5 s of 10 s
