"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The last test starts Spark and runs one short ``ingest`` benchmark
(about a minute); the others need no JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import core  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_names_are_well_formed_and_match_the_spec():
    spec = load_spec()
    names = ([w["name"] for w in spec["workloads"]]
             + [m["name"] for m in spec["end_to_end"]]
             + [m["name"] for m in spec["per_layer"]])
    core.check_names(names)
    assert len(names) == len(set(names))
    with pytest.raises(ValueError):
        core.check_names(["pass s"])
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER


def test_percentile_needs_ten_samples_beyond_it():
    assert core.percentile([1.0] * 99, 0.9) is None
    assert core.percentile([float(i) for i in range(100)], 0.9) == pytest.approx(89.1)
    assert core.percentile([1.0] * 19, 0.5 + 1e-9) is None
    with pytest.raises(ValueError):
        core.percentile([1.0] * 100, 0.5)


class FakeQuery:
    def spark_fn(self, spark, sf_dir):
        raise AssertionError("not run in this test")


def fake_context(seed: int) -> workloads.Context:
    registry = {q: FakeQuery() for q in
                [*workloads.DASHBOARD, *workloads.STREAMS.values()]}
    return workloads.Context(spark=None, sf_dir="star", work_dir="work",
                             seed=seed, registry=registry)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_seed_changes_order_never_the_multiset(name):
    wl = workloads.WORKLOADS[name]()
    orders = {tuple(op.name for op in wl.ops(fake_context(seed), p))
              for seed in range(8) for p in range(3)}
    expected = {"dashboard": workloads.DASHBOARD,
                "ingest": ["write", *workloads.PIPELINES, *workloads.STREAMS]}[name]
    assert len(orders) > 1
    assert {tuple(sorted(order)) for order in orders} == {tuple(sorted(expected))}


def test_failed_operation_and_failed_check_raise_failed_frac():
    def boom():
        raise RuntimeError("injected")

    def wrong(_):
        raise AssertionError("injected mismatch")

    tally = core.Tally()
    ok = core.run_pass([core.Op("a", lambda: 1), core.Op("b", lambda: 2)], tally)
    assert tally.failed_frac == 0.0 and set(ok.op_s) == {"a", "b"}
    res = core.run_pass([core.Op("a", lambda: 1), core.Op("b", boom),
                         core.Op("c", lambda: 3, wrong)], tally)
    assert tally.failed == 2 and tally.attempted == 6
    assert tally.failed_frac == pytest.approx(2 / 6)
    assert "b" not in res.op_s and len(res.failures) == 2
    line = json.loads(core.result_line(tally.attempted, tally.failed,
                                       {"pass_s": (1.5, "s")}))
    assert line["correct"] is False and line["failed"] == 2


def test_checks_are_not_timed():
    ticks = iter([0.0, 0.0, 1.0, 1.0, 11.0, 11.0])
    res = core.run_pass([core.Op("a", lambda: 1, lambda _: None)],
                        clock=lambda: next(ticks))
    assert res.op_s["a"] == 1.0 and res.check_s == 10.0 and res.wall_s == 1.0


def test_ingest_removes_each_pass_directory(tmp_path):
    wl = workloads.Ingest()
    ctx = fake_context(1)
    ctx.work_dir = str(tmp_path)
    d = wl.pass_dir(ctx, 3)
    os.makedirs(os.path.join(d, "users"))
    open(os.path.join(d, "users", "part-0.parquet"), "w").close()
    wl.end_pass(ctx, 3)
    assert os.listdir(tmp_path / "ingest") == []


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


def git_status() -> types.SimpleNamespace:
    out = subprocess.run(["git", "status", "--porcelain", "--untracked-files=all"],
                         cwd=ROOT, capture_output=True, text=True)
    return types.SimpleNamespace(ok=out.returncode == 0, lines=set(out.stdout.splitlines()))


@pytest.mark.skipif(shutil.which("java") is None, reason="needs a JVM")
def test_ingest_run_leaves_no_file_in_the_tree():
    before = git_status()
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest",
                          "--seed", "3", "--seconds", "1", "--trace", "0"],
                         cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == set(run.END_TO_END)
    assert not os.path.exists(os.path.join(ROOT, ".perfbench", "work"))
    if before.ok:
        assert git_status().lines == before.lines
