"""Smoke tests for the benchmark harness at tiny scale (about sf0.001).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH_DIR)
sys.path[:0] = [REPO, BENCH_DIR]

import params  # noqa: E402
import run  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
LAYERS = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

TINY = {
    "EVENT_FEED": {"rate_eps": 1_000, "backlog_events": 2_000, "warmup_events": 100},
    "SNAPSHOT_READS": {
        "n_orders": 1_500, "fragment_files": 5, "txn_events": 50, "ryw_keys": 8,
        "lookup_keys": 16, "n_vecs": 300, "setup_reps": 1,
    },
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("bench_work"))
    run.prepare_env(work)
    saved = {k: dict(getattr(params, k)) for k in TINY}
    for k, v in TINY.items():
        getattr(params, k).update(v)
    s = run.start_spark(work)
    yield s, work
    for k, v in saved.items():
        getattr(params, k).update(v)


def run_workload(spark, name: str, trace: bool, corrupt: bool = False) -> dict:
    import tracing
    import workloads

    s, work = spark
    ctx = workloads.Ctx(
        spark=s, workload=name, seed=3, seconds=1.0,
        work=os.path.join(work, name), trace=trace, corrupt_model=corrupt,
    )
    os.makedirs(ctx.work, exist_ok=True)
    if trace:
        ctx.rec = tracing.SpanRecorder()
    try:
        return run.run(ctx, 0.0)
    finally:
        if ctx.wrapper is not None:
            ctx.wrapper.restore()


def test_spec_lists_the_workloads_and_metrics():
    import workloads

    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    assert E2E == run.E2E_UNITS
    assert LAYERS == run.LAYER_UNITS


@pytest.mark.parametrize("name", ["event_feed", "snapshot_reads"])
def test_traced_run_prints_every_metric(spark, name):
    out = run_workload(spark, name, trace=True)
    line = out["line"]
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    assert {k: v["unit"] for k, v in line["metrics"].items()} == LAYERS
    assert set(E2E) <= set(out["detail"]["e2e"])
    assert all(out["detail"]["e2e"][k] > 0 for k in E2E)
    json.dumps(line)


def test_untraced_run_prints_every_end_to_end_metric(spark):
    line = run_workload(spark, "event_feed", trace=False)["line"]
    assert line["correct"]
    assert {k: v["unit"] for k, v in line["metrics"].items()} == E2E


def test_dropped_delete_in_the_model_fails_the_cdc_check(spark):
    out = run_workload(spark, "snapshot_reads", trace=False, corrupt=True)
    assert not out["line"]["correct"] and out["line"]["failed"] >= 1


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__")
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "event_feed",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
