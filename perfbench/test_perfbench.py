"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The first group is fast. The second runs the benchmark itself (four
short runs, a few minutes on four cores) and checks what it prints
against `BENCHMARK.json`, the spans of a traced run, and that two traced
runs on one seed count the same Spark jobs, stages and tasks.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types

import pytest

import datagen
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


# ----------------------------------------------------------------- inputs


def test_tables_deterministic_for_a_seed_and_differ_across_seeds():
    a, b = datagen.build_tables(0.001, seed=1), datagen.build_tables(0.001, seed=1)
    c = datagen.build_tables(0.001, seed=2)
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_table_shapes_follow_the_scale_factor():
    rows = datagen.table_rows(0.01)
    tables = datagen.build_tables(0.01)
    assert {k: t.num_rows for k, t in tables.items()} == rows
    assert rows["lineitem"] == 60_000 and rows["events"] == 10_000


def test_stream_records_deterministic_and_seeded():
    assert datagen.stream_records(300, 7) == datagen.stream_records(300, 7)
    assert datagen.stream_records(300, 7) != datagen.stream_records(300, 8)
    recs = datagen.stream_records(300, 7)
    assert [r["seq"] for r in recs] == list(range(300))
    assert len({r["id"] for r in recs}) == 300


def test_query_order_is_seeded():
    assert workloads.pass_order(3, 0) == workloads.pass_order(3, 0)
    assert workloads.pass_order(3, 0) != workloads.pass_order(4, 0)
    assert sorted(workloads.pass_order(3, 1)) == sorted(workloads.QUERIES)


def test_every_query_is_a_pinned_headline():
    sys.path.insert(0, ROOT)
    from big_data_engineering_project_spark.plans import REGISTRY

    with open(workloads.PINNED) as fh:
        pinned = json.load(fh)
    for name in workloads.QUERIES:
        assert REGISTRY[name].headline and REGISTRY[name].oracle, name
        assert name in pinned["sf0.01"], name
    assert set(pinned["sf0.01"]) == set(workloads.QUERIES)
    # plans.<module>.build_s is declared exactly for the modules the pass runs
    modules = {workloads._module(REGISTRY[name]) for name in workloads.QUERIES}
    assert modules == set(workloads.MODULES)


# -------------------------------------------------------------- the runs


def _run(workload: str, seed: int, trace: int, detail: bool = False):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return (result, json.loads(lines[-2])) if detail else result


def _names_units(result: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in result["metrics"].items()}


@pytest.fixture(scope="module")
def traced_registry():
    trace_file = os.path.join(ROOT, ".perfbench_out", "registry_sf0.01-seed5-trace.json")
    first, detail = _run("registry_sf0.01", 5, 1, detail=True)
    with open(trace_file) as fh:
        spans = json.load(fh)["spans"]
    return first, _run("registry_sf0.01", 5, 1), spans, detail


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_names_and_units_match_spec(workload):
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert _names_units(_run(workload, 1, 0)) == want


def test_per_layer_names_and_units_match_spec(traced_registry):
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert _names_units(traced_registry[0]) == want


def test_metrics_a_workload_does_not_exercise_are_named(traced_registry):
    idle = traced_registry[3]["not_exercised"]
    assert idle == [m["name"] for m in SPEC["per_layer"] if m["name"].startswith("streaming.")]


def test_a_stream_check_that_raises_is_a_mismatch():
    class NoTable:
        @property
        def read(self):
            raise RuntimeError("no table was written")

    run = types.SimpleNamespace(spark=NoTable(), mismatches=[])
    workloads.stream_check(run, "in", "out", 500, "unit 0")
    assert run.mismatches == ["unit 0: output check raised"]


def test_children_never_exceed_their_parent(traced_registry):
    spans = {s["id"]: s for s in traced_registry[2]}
    assert spans
    for s in spans.values():
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (s, p)


def test_counts_repeat_on_one_seed(traced_registry):
    a, b = (r["metrics"] for r in traced_registry[:2])
    for key in ("exec.jobs", "exec.stages", "exec.tasks", "plans.build_jobs"):
        assert a[key]["value"] == b[key]["value"] > 0, key


def test_benchmark_refuses_to_run_without_the_engine(tmp_path):
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream_hot_path",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and not proc.stdout.strip()
