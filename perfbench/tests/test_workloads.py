"""Pure-Python parts of the harness: metric names, digests and F1."""

import json
from pathlib import Path

import pytest

import workloads

ROOT = Path(__file__).resolve().parents[2]


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"] for m in spec["end_to_end"]} == {
        "wall_s", "cpu_s", "setup_s", "f1"}


def test_digest_is_order_independent():
    assert workloads.digest_lines(["b", "a", "c"]) == workloads.digest_lines(["c", "b", "a"])
    assert workloads.digest_lines(["a"]) != workloads.digest_lines(["a", "a"])


@pytest.mark.parametrize("pred, truth, f1", [
    ([1, 1, 2, 2], ["x", "x", "y", "y"], 1.0),
    # pred pairs {01, 23}; truth pairs {01, 02, 12}: tp 1 -> 2*1/(2+3)
    ([1, 1, 2, 2], ["x", "x", "x", "y"], 0.4),
    ([1, 2, 3], ["x", "y", "z"], 1.0),
])
def test_pairwise_f1(pred, truth, f1):
    assert workloads.pairwise_f1(pred, truth) == pytest.approx(f1)


def test_union_find_root_is_component_minimum():
    uf = workloads.UnionFind()
    uf.union("c", "d")
    uf.union("d", "b")
    uf.union("x", "y")
    assert uf.find("c") == uf.find("d") == "b"
    assert uf.find("y") == "x"
