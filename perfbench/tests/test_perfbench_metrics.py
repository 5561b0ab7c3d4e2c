"""Every metric a run prints is validly named and declared in
BENCHMARK.json with the same unit; every declared metric is printed."""

import json
import os
import re

import layers
import run
import spans
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _declared(kind: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _one_unit_run(tracer=None) -> workloads.Run:
    r = workloads.Run(
        spark=None, work="", workload="lakehouse_day", seed=1, seconds=1.0, tracer=tracer
    )
    with r.root("bench.pass") as unit:
        pass
    r.unit_s.append(unit.wall)
    r.op_s["upsert"].append(unit.wall)
    r.input_bytes = 1000
    return r


def test_end_to_end_names_match_the_declaration():
    printed = run.end_to_end(_one_unit_run(), setup_s=1.0, peak_pss_mb=1.0)
    assert all(NAME.match(n) for n in printed)
    assert {n: m["unit"] for n, m in printed.items()} == _declared("end_to_end")


def test_op_latency_is_the_geomean_of_per_kind_medians():
    r = _one_unit_run()
    r.op_s = {"a": [1.0, 2.0, 3.0], "b": [4.0, 4.0, 9.0]}
    got = run.end_to_end(r, setup_s=1.0, peak_pss_mb=1.0)["op_p50_geomean_s"]["value"]
    assert abs(got - 8.0 ** 0.5) < 1e-12


def test_per_layer_names_match_the_declaration(tmp_path):
    tracer = spans.Tracer()
    r = _one_unit_run(tracer)
    table = layers.per_layer(tracer, r, 1.0, str(tmp_path), cores=4)
    assert all(NAME.match(n) for n in table)
    assert {n: unit for n, (_, unit) in table.items()} == _declared("per_layer")


def test_declared_names_are_valid_and_unique():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in bench[k]]
    names += [w["name"] for w in bench["workloads"]]
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


def test_layers_over_run_s_leaves_out_bench_time_and_upserts(tmp_path):
    """Two rebuilds of 10 s, each with 0.5 s of the benchmark's own
    code, and an upsert the ratio must not count: 9.5 s per unit of
    package time over a traced run_s of 10 s."""
    tracer = spans.Tracer()
    r = _one_unit_run()
    r.tracer = tracer
    for start in (0.0, 20.0):
        root = spans.Span("bench.rebuild", start, None, {})
        root.end = start + 10.0
        child = spans.Span("plans.medallion.run", start + 0.5, root, {})
        child.end = start + 10.0
        upsert = spans.Span("bench.upsert", start + 10.0, None, {})
        upsert.end = start + 14.0
        tracer.spans += [root, child, upsert]
    table = layers.per_layer(tracer, r, 1.0, str(tmp_path), cores=4)
    assert abs(table["bench.layers_over_run_s"][0] - 0.95) < 1e-12
    assert "OUTSIDE 10%" not in layers.render("lakehouse_day", 10.0, table)
