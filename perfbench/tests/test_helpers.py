"""Tests of the benchmark's own helpers. Run from the repository root:
    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import diff  # noqa: E402
import run  # noqa: E402
from probes import Tracer  # noqa: E402
from stats import digest, geomean, median, normalize_rows, percentile  # noqa: E402
from workloads import WORKLOADS, all_ops  # noqa: E402


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 25) == 2.0
    assert percentile([1.0, 2.0], 90) == pytest.approx(1.9)
    assert percentile([7.0], 90) == 7.0


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_median_even_and_odd():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert geomean([0.5, 2.0, 8.0]) == pytest.approx(2.0)
    # equal weight per op type: one slow op moves it by its own factor only
    assert geomean([0.1] * 3 + [10.0]) == pytest.approx(math.exp((3 * math.log(0.1) + math.log(10)) / 4))
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        geomean([])


def test_normalize_rows_orders_columns_rounds_and_sorts():
    cols = ["b", "a"]
    rows = [(1.23456789, "x"), (float("nan"), "y"), (True, "z")]
    assert normalize_rows(rows, cols) == ["x|1.234568", "y|NaN", "z|1"]


def test_digest_is_order_insensitive_and_value_sensitive():
    cols = ["id", "score"]
    a = [("p1", 0.5), ("p2", 0.25)]
    b = [("p2", 0.25000000001), ("p1", 0.5)]
    assert digest(a, cols) == digest(b, cols)
    # same rows under reordered columns
    assert digest([(0.5, "p1"), (0.25, "p2")], ["score", "id"]) == digest(a, cols)
    n, h = digest(a, cols)
    assert n == 2
    assert digest([("p1", 0.5), ("p2", 0.26)], cols)[1] != h
    assert digest(a, ["id", "other"])[1] != h
    assert digest([], cols)[0] == 0


def test_tracer_self_time_subtracts_children():
    tr = Tracer("r")
    with tr.span("op"):
        with tr.span("registry.build"):
            pass
        with tr.span("registry.collect"):
            pass
    op, build, collect = tr.spans
    assert build["parent"] == collect["parent"] == op["id"] and op["parent"] is None
    assert {s["run"] for s in tr.spans} == {"r"}
    self_s = tr.self_times()
    children = (build["end"] - build["start"]) + (collect["end"] - collect["start"])
    assert self_s["op"] == pytest.approx(op["end"] - op["start"] - children)
    tr.enabled = False
    with tr.span("ignored"):
        pass
    assert len(tr.spans) == 3


def test_compare_verdicts():
    parent = [1.0, 1.02, 0.98, 1.01, 0.99]
    assert diff.compare(parent, [1.005], "lower", 0.1)["verdict"] == "~"
    assert diff.compare(parent, [0.8], "lower", 0.1)["verdict"] == "better"
    assert diff.compare(parent, [1.05], "lower", 0.1)["verdict"] == "worse"
    assert diff.compare(parent, [1.3], "lower", 0.1)["verdict"] == "REGRESSION"
    assert diff.compare(parent, [1.3], "higher", None)["verdict"] == "better"
    c = diff.compare([10.0, 10.0], [10.0], "lower", None)
    assert (c["rel"], c["spread"], c["verdict"]) == (0.0, 0.0, "~")


def test_load_groups_by_workload(tmp_path):
    f = tmp_path / "runs.jsonl"
    lines = [
        {"workload": "search", "seed": 1, "trace": 0,
         "result": {"metrics": {"pass_s": {"value": 3.0, "unit": "s"}}}},
        {"workload": "search", "seed": 2, "trace": 0,
         "result": {"metrics": {"pass_s": {"value": 3.5, "unit": "s"}}}},
        {"workload": "maintain", "seed": 1, "trace": 1,
         "result": {"metrics": {"spark.jobs": {"value": 40, "unit": "count"}}}},
    ]
    f.write_text("\n".join(json.dumps(x) for x in lines) + "\n")
    got = diff.load(str(f))
    assert got == {"search": {"pass_s": [3.0, 3.5]}, "maintain": {"spark.jobs": [40.0]}}


def test_benchmark_json_matches_the_metrics_printed():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert spec["paths"] == ["perfbench"]


def test_every_op_has_an_expected_result():
    expected = json.loads((HERE / "expected.json").read_text())["ops"]
    assert set(all_ops()) <= set(expected)
    for op in all_ops():
        assert expected[op]["rows"] > 0
        assert len(expected[op]["digest"]) == 64
