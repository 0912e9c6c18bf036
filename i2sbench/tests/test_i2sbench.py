"""Self-tests of the benchmark.

    python3 -m pytest i2sbench/tests -q

The smoke runs start the engine at sf0.001 in a subprocess, the way the
benchmark is run, and take about two minutes together.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import answers  # noqa: E402
import layertrace  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run._per_layer()
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(
        workloads.WORKLOADS)


@pytest.mark.parametrize("workload,trace", [
    ("sql_serving", 0), ("sql_serving", 1), ("iterative_pipeline", 1)])
def test_smoke_run(workload, trace):
    env = dict(os.environ, I2SBENCH_SF="0.001")
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stdout
    assert result["failed"] == 0 and result["attempted"] >= 1
    spec = _spec()
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


class _FakeWorkload:
    """Two operations whose answers are fixed rows."""

    name = "fake"

    def ops(self, index):
        return [("good", "good", lambda: (["a"], [(1,), (2,)])),
                ("bad", "bad", lambda: (["a"], [(3,)])),
                ("close", None, lambda: ([], []))]


def test_wrong_expected_hash_counts_as_failed_op():
    expected = {"good": answers.fingerprint(["a"], [(2,), (1,)]),
                "bad": dict(answers.fingerprint(["a"], [(3,)]), hash="0" * 64)}
    r = run.Run(_FakeWorkload(), expected)
    p = r.run_pass(0)
    assert (r.attempted, r.failed) == (2, 1)
    assert [cls for cls, _ in p["samples"]] == ["good"]
    assert "bad" in r.errors[0]


def test_uninstall_restores_every_wrapped_function():
    from impalatogo_spark.queries import all_queries

    all_queries()  # import every module that holds a target by name
    targets = {id(_original(m, a)) for _, m, a in layertrace.TARGETS}
    tracer = layertrace.Tracer(lambda: 0)
    tracer.install()
    patched = list(tracer.patched)
    try:
        assert {id(o) for _, _, o in patched} == targets
        for owner, attr, original in patched:
            assert getattr(owner, attr) is not original
        from impalatogo_spark import engine

        engine.translate("SELECT 1")  # imported by name into engine
        assert [s.name for s in tracer.take()] == ["dialect.translate"]
    finally:
        tracer.uninstall()
    assert not tracer.patched
    for owner, attr, original in patched:
        got = owner.__dict__[attr] if isinstance(owner, type) else getattr(
            owner, attr)
        assert got is original


def _original(modname, attr):
    import importlib

    obj = importlib.import_module(modname)
    for part in attr.split("."):
        obj = obj.__dict__[part] if isinstance(obj, type) else getattr(obj, part)
    return obj


def test_self_time_and_jobs_exclude_nested_spans():
    outer = layertrace.Span("outer", 0.0, 0)
    outer.t1, outer.j1 = 10.0, 10
    a = layertrace.Span("a", 1.0, 2)
    a.t1, a.j1 = 4.0, 5
    b = layertrace.Span("b", 2.0, 3)  # inside a
    b.t1, b.j1 = 3.0, 4
    c = layertrace.Span("c", 6.0, 7)
    c.t1, c.j1 = 7.0, 8
    parts = layertrace.self_parts([outer, a, b, c])
    assert parts[id(outer)][0] == pytest.approx(6.0)
    assert parts[id(outer)][1] == {0, 1, 5, 6, 8, 9}
    assert parts[id(a)] == (pytest.approx(2.0), {2, 4})
