"""The benchmark's own tests; they need no Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import pickle

import pytest

from perfbench import datagen, metrics, spans, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _span(i, layer, start, end, parent=None, run_id="pass-1", **counts):
    return spans.Span(id=i, name=f"s{i}", layer=layer, run_id=run_id, parent=parent,
                      start=start, end=end, **counts)


def _tree():
    root = _span(0, "api", 0.0, 10.0, exec_cpu_s=8.0, jobs=3)
    kids = [
        _span(1, "sources.metadata", 1.0, 3.0, parent=0, jobs=1),
        _span(2, "sources.writers", 2.0, 5.0, parent=0, jobs=1),
        _span(3, "plans.marts", 6.0, 7.0, parent=0),
    ]
    root.children = [1, 2, 3]
    late = _span(4, "operators.qa", 12.0, 15.0, exec_cpu_s=3.0)
    return [root, *kids, late]


def test_self_time_subtracts_union_of_children():
    tree = _tree()
    by_id = {s.id: s for s in tree}
    # children cover [1, 5] and [6, 7]: 5 s of the parent's 10 s
    assert spans.self_seconds(tree[0], by_id) == pytest.approx(5.0)
    assert spans.self_seconds(tree[1], by_id) == pytest.approx(2.0)


def test_covered_clips_and_merges():
    assert spans.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert spans.covered([(-5, 1), (9, 20)], 0, 10) == pytest.approx(2.0)
    assert spans.covered([], 0, 10) == 0.0


def test_layer_totals_and_util():
    totals = spans.layer_totals(_tree(), "pass-1", k=2)
    assert totals["api"]["wall_s"] == pytest.approx(10.0)
    assert totals["api"]["self_s"] == pytest.approx(5.0)
    assert totals["api"]["jobs"] == 3
    assert totals["api"]["util"] == pytest.approx(8.0 / (10.0 * 2))
    assert totals["operators.qa"]["util"] == pytest.approx(3.0 / (3.0 * 2))
    assert totals["plans.llm_ops"]["wall_s"] == 0.0
    assert set(totals) == set(spans.LAYERS)
    assert spans.layer_totals(_tree(), "pass-9", k=2)["api"]["wall_s"] == 0.0


def test_uncovered_time_counts_gaps_between_top_level_spans():
    # top-level spans cover [0, 10] and [12, 15] of [0, 16]
    assert spans.uncovered_seconds(_tree(), "pass-1", 0.0, 16.0) == pytest.approx(3.0)


def test_metric_names_are_valid():
    names = list(metrics.END_TO_END) + list(metrics.per_layer_units())
    assert len(names) == len(set(names))
    assert all(metrics.valid_name(n) for n in names)
    for bad in ("", ".lead", "has space", "slash/name", "x" * 65, "pct%"):
        assert not metrics.valid_name(bad)


def test_benchmark_json_declares_what_the_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.per_layer_units()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert len(bench["per_layer"]) <= 128


def test_a_failed_operation_raises_the_fail_ratio():
    ctx = workloads.Context(spark=None, sf_dir="", run_dir="", seed=1, tracer=None)
    assert ctx.op("fine", "api", lambda: 42) == 42

    def boom():
        raise RuntimeError("lost executor")

    assert ctx.op("broken", "api", boom) is None
    ctx.fail(0, "fine", "value mismatch")
    ctx.fail(0, "fine", "second reason for the same op counts once")
    failed = len(ctx.failures)
    assert (ctx.attempted, failed) == (2, 2)
    assert metrics.fail_ratio(ctx.attempted, failed) == 1.0
    line = metrics.result_line(ctx.attempted, failed, {"setup_s": 1.0, "pass_s": 2.0},
                               metrics.END_TO_END)
    assert line["correct"] is False and line["failed"] == 2
    ok = metrics.result_line(2, 0, {"setup_s": 1.0, "pass_s": 2.0}, metrics.END_TO_END)
    assert ok["correct"] is True
    with pytest.raises(ValueError):
        metrics.fail_ratio(0, 0)
    with pytest.raises(ValueError):
        metrics.result_line(1, 0, {"setup_s": 1.0}, metrics.END_TO_END)


def test_generator_is_seeded():
    small = datagen.Scale(orders=200, lineitems=400, customers=50, parts=64, suppliers=10,
                          documents=40, embeddings=20, events=100, days=10)
    a, b = datagen.generate(7, small), datagen.generate(7, small)
    assert all(a[t].equals(b[t]) for t in a)
    c = datagen.generate(8, small)
    assert not a["orders"].equals(c["orders"])
    assert {t: a[t].num_rows for t in a} == small.rows()


def test_traced_function_pickles_as_the_original():
    tracer = spans.Tracer()
    traced = spans._Traced(datagen.generate, tracer, "api")
    assert pickle.loads(pickle.dumps(traced)) is datagen.generate
    assert traced.__name__ == "generate"


def test_end_processes_kills_what_outlives_its_grace():
    import subprocess

    child = subprocess.Popen(["sleep", "60"])
    procs = spans.identities([child.pid])
    assert procs
    spans.end_processes(procs, grace_s=0.2)
    assert not spans.alive(procs)
    assert child.poll() is not None
