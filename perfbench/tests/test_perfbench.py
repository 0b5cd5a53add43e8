"""Tests for the benchmark's own code (no Spark session needed).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from perfbench.check import frame_hash
from perfbench.stats import highest_supported, min_samples, percentile
from perfbench.trace import Tracer
from perfbench.workloads import (
    MODULES, REPORT, WORKLOADS, module_of, pass_order, registered_queries,
)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_gives_same_request_order(name):
    w = WORKLOADS[name]
    for pass_no in range(3):
        order = pass_order(w, 11, pass_no)
        assert order == pass_order(w, 11, pass_no)
        assert sorted(order) == sorted(w.requests)
    assert [pass_order(w, 11, p) for p in range(3)] != [
        pass_order(w, 12, p) for p in range(3)
    ]


def test_fixture_holds_every_base_table():
    from hbase_tools_spark.model import BASE_TABLES
    from perfbench.run import FIXTURE

    for t in BASE_TABLES:
        assert os.path.isfile(os.path.join(FIXTURE, f"{t}.parquet")), t


def test_percentile_rule_refuses_p90_below_100_samples():
    assert min_samples(0.9) == 100
    assert min_samples(0.5) == 20
    with pytest.raises(ValueError):
        percentile([float(i) for i in range(99)], 0.9)
    assert percentile([float(i) for i in range(100)], 0.9) == pytest.approx(89.1)
    assert percentile([float(i) for i in range(21)], 0.5) == 10.0
    assert highest_supported(99) == 0.75
    assert highest_supported(19) is None


def test_every_workload_request_resolves():
    from hbase_tools_spark.__main__ import TOOL_QUERIES

    queries = registered_queries()
    for w in WORKLOADS.values():
        for tool, names in w.tools.items():
            assert tool in TOOL_QUERIES, (w.name, tool)
            assert set(names) <= set(TOOL_QUERIES[tool]), (w.name, tool)
        for name in w.requests:
            assert name == REPORT or name in queries, (w.name, name)
            assert module_of(name) in MODULES, (w.name, name)


def test_workloads_reach_every_layer():
    reached = {module_of(r) for w in WORKLOADS.values() for r in w.requests}
    assert reached == set(MODULES)


def test_reported_metrics_match_benchmark_json():
    import json
    from types import SimpleNamespace

    from perfbench import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)

    bench = SimpleNamespace(setup={"session.start_s": 1.0, "catalog.load_model_s": 2.0,
                                   "model.warm_s": 3.0})
    requests = WORKLOADS["admin_ingest"].requests

    def one_pass(pass_no, traced):
        return [run.Sample(pass_no, i, r, module_of(r), traced, build_s=0.1, exec_s=0.2,
                           cpu_s=0.5, ok=True) for i, r in enumerate(requests)]

    cold = one_pass(0, True)
    untraced = [one_pass(1, False), one_pass(3, False)]
    e2e, e2e_n = run.end_to_end(bench, untraced)
    layer, layer_n = run.per_layer(bench, cold, [one_pass(2, True)], untraced, [5.0], 100.0)
    for got, counts, key in ((e2e, e2e_n, "end_to_end"), (layer, layer_n, "per_layer")):
        assert list(got) == [m["name"] for m in spec[key]]
        assert [u for _, u in got.values()] == [m["unit"] for m in spec[key]]
        assert set(counts) == set(got)
    assert e2e["pass_cpu_s"][0] == pytest.approx(0.5 * len(requests))
    assert layer["pass_s"][0] == pytest.approx(0.3 * len(requests))


def test_frame_hash_ignores_row_and_column_order():
    df = pd.DataFrame({"a": [1, 2, 3], "b": ["x", None, "z"], "c": [0.5, float("nan"), 2.0]})
    shuffled = df.iloc[[2, 0, 1]][["c", "a", "b"]].reset_index(drop=True)
    assert frame_hash(df) == frame_hash(shuffled)
    changed = df.copy()
    changed.loc[0, "c"] = 0.25
    assert frame_hash(df) != frame_hash(changed)
    assert frame_hash(df) != frame_hash(df.rename(columns={"a": "d"}))


def test_tracer_self_time_subtracts_children():
    tr = Tracer()
    with tr.span("request", request="1:0"):
        with tr.span("build"):
            pass
        with tr.span("exec"):
            pass
    req, build, exe = tr.spans
    assert build["parent"] == exe["parent"] == req["id"]
    own = tr.self_times()
    children = (build["end"] - build["start"]) + (exe["end"] - exe["start"])
    assert own[req["id"]] == pytest.approx(req["end"] - req["start"] - children)
