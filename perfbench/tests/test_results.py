"""BENCHMARK.json names exactly the metrics the benchmark prints, and
query results compare order-free with a numeric tolerance."""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

from perfbench import layers
from perfbench.workloads import canonical, same_result

SPEC = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def test_benchmark_json_lists_the_printed_metrics():
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == list(layers.END_TO_END)
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == list(layers.PER_LAYER)


def test_results_compare_without_order():
    a = canonical([(2, "b", dt.date(1995, 3, 15)), (1, "a", None)])
    b = canonical([(1.0, "a", None), (2.0, "b", dt.date(1995, 3, 15))])
    assert a == [(1.0, "a", None), (2.0, "b", "1995-03-15")]
    assert same_result(a, b)


def test_sums_on_a_rounding_boundary_still_match():
    # 345766.9805 summed in two orders: a hash of 9 significant digits
    # would read 345766.981 on one side and 345766.98 on the other
    lo, hi = 345766.98049999997, 345766.98050000006
    assert same_result(canonical([(3796, lo)]), canonical([(3796, hi)]))


def test_real_differences_are_caught():
    assert not same_result(canonical([(1, 10.0)]), canonical([(1, 10.001)]))
    assert not same_result(canonical([(1, "x")]), canonical([(1, "y")]))
    assert not same_result(canonical([(1,)]), canonical([(1,), (2,)]))
