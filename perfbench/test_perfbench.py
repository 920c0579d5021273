"""Tests of the benchmark itself, on tiny inputs.

Run from the repository root:

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import run
from perfbench.host import descendants
from perfbench.workloads import SIZES, WORKLOADS

TINY = SIZES["tiny"]

#: per-layer metrics (by name prefix) that a workload's traced run must
#: report as more than 0
EXERCISED = {
    "raster_pyramid": (
        "sources.write", "sources.bytes_out", "operators.rastertable", "operators.halo",
        "operators.process", "raster.terrain", "operators.overviews", "plans.job",
        "operators.checkpoint.filter_todo_s", "operators.checkpoint.commit_s",
        "operators.checkpoint.tiles_computed",
    ),
    "corpus": (
        "sources.", "functions.geo", "operators.assign", "operators.pyramid",
        "functions.repetition", "operators.sharding",
    ),
}

#: reported as more than 0 by every traced run
ALWAYS = (
    "session.", "spark.task_run_s", "spark.task_cpu_s", "spark.task_skew", "spark.jobs",
    "spark.stages", "trace.untraced_wall_s", "trace.traced_wall_s", "trace.span_self_s",
)

#: may read 0 on a healthy run
MAY_BE_ZERO = (
    "operators.checkpoint.skip_frac", "spark.gc_s", "spark.shuffle_fetch_wait_s",
    "spark.spill_bytes", "spark.tasks_failed", "trace.overhead_s", "trace.unattributed_s",
)


@pytest.fixture(scope="module")
def spark():
    from perfbench.trace import SpanListener

    tmp = run.configure_env()
    session = run.start_session()
    # attached before any job runs, so every traced run finds it
    assert isinstance(SpanListener.attach(session), SpanListener)
    yield session
    run.stop_session(session)
    # the JVM and its Python workers have ended, not just been asked to
    assert not descendants(os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    for name in os.listdir(run.WORK):
        if name.startswith("run-"):
            shutil.rmtree(os.path.join(run.WORK, name), ignore_errors=True)


def _corrupt(ctx) -> None:
    """Delete the largest data file the iteration wrote."""
    files = [
        os.path.join(root, f)
        for root, _dirs, names in os.walk(ctx.path("out"))
        if "_state" not in root
        for f in names
        if f.endswith(".parquet")
    ]
    os.remove(max(files, key=os.path.getsize))


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_end_to_end_metrics_present(spark, name):
    values, attempted, failed, report, _ = run.measure(
        spark, WORKLOADS[name], seed=3, seconds=0.1, sizes=TINY, ready_s=1.0
    )
    line = run.result_line(values, run.load_metric_units(False), attempted, failed)
    assert failed == 0, report["errors"]
    assert line["correct"] and line["attempted"] >= run.MIN_ITERATIONS
    for metric, unit in run.load_metric_units(False).items():
        assert line["metrics"][metric]["unit"] == unit
        assert line["metrics"][metric]["value"] > 0, metric
    assert report["host"]["nproc"] >= 1
    json.dumps(line)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_corrupted_output_fails_the_check(spark, name, monkeypatch):
    workload = WORKLOADS[name]
    original = workload.run

    def run_and_corrupt(ctx, tracer):
        outcome = original(ctx, tracer)
        _corrupt(ctx)
        return outcome

    monkeypatch.setattr(workload, "run", run_and_corrupt)
    values, attempted, failed, report, _ = run.measure(
        spark, workload, seed=4, seconds=0.1, sizes=TINY, ready_s=1.0
    )
    line = run.result_line(values, run.load_metric_units(False), attempted, failed)
    assert failed >= 1 and not line["correct"]
    assert report["failed_frac"] > 0
    assert report["errors"]


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_traced_run_has_every_layer(spark, name):
    from perfbench.trace import SpanListener

    listener = SpanListener.attach(spark)
    values, attempted, failed, report = run.traced(
        spark, WORKLOADS[name], seed=5, seconds=0.1, sizes=TINY, get_spark_s=1.0, listener=listener
    )
    assert failed == 0, report["errors"]
    line = run.result_line(values, run.load_metric_units(True), attempted, failed)
    for metric, unit in run.load_metric_units(True).items():
        assert line["metrics"][metric]["unit"] == unit
    for metric, value in values.items():
        if metric.startswith(EXERCISED[name] + ALWAYS):
            assert value > 0, metric
    # the layer spans cover the traced iteration: what no span covers
    # is a small share of it
    assert values["trace.unattributed_s"] < 0.25 * values["trace.traced_wall_s"]


def test_every_per_layer_metric_is_exercised_by_a_workload():
    with open(os.path.join(run.REPO, "BENCHMARK.json")) as f:
        workloads = [w["name"] for w in json.load(f)["workloads"]]
    prefixes = ALWAYS + MAY_BE_ZERO + tuple(p for w in workloads for p in EXERCISED[w])
    for metric in run.load_metric_units(True):
        assert metric.startswith(prefixes), metric


def test_exits_nonzero_without_the_engine():
    """A directory holding only BENCHMARK.json and perfbench/: the run
    must fail without printing a result."""
    stripped = os.path.join(run.WORK, "stripped")
    shutil.rmtree(stripped, ignore_errors=True)
    os.makedirs(stripped)
    shutil.copy(os.path.join(run.REPO, "BENCHMARK.json"), stripped)
    shutil.copytree(
        run.HERE, os.path.join(stripped, "perfbench"), ignore=shutil.ignore_patterns("__pycache__")
    )
    try:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "raster_pyramid", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=stripped, capture_output=True, text=True, timeout=180,
        )
    finally:
        shutil.rmtree(stripped, ignore_errors=True)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
