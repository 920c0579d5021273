#!/usr/bin/env python3
"""Benchmark of the tile engine: seeded workloads, end-to-end metrics,
and a traced run with per-layer metrics.

Run from the root of a checkout:

    python3 perfbench/run.py --workload raster_pyramid --seed 1 --seconds 10 --trace 0

Load model: closed loop, one client. One Python process runs one job at
a time on ``local[<nproc>]``; the next iteration starts when the last
one has finished. Inputs are generated from ``--seed`` before the timed
region; the program sees only those inputs.

A run:

1. sets up once: a Spark session plus a small warm-up job;
2. writes the seeded inputs and runs the workload's untimed warm-up
   iterations on them. ``setup_s`` is the time from process start to
   the ready session plus the warm-up iterations (input writing
   excluded);
3. with ``--trace 0``, runs iterations for ``--seconds`` (at least
   three) and reports medians; with ``--trace 1``, runs untraced
   iterations and then traced ones, and reports the per-layer metrics
   and the tracing overhead;
4. checks the last iteration's output against the repo's oracles.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is a
report with host facts and every sample. Everything the run writes is
under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench")

#: a run's wall_s is the median of at least three timed iterations, so
#: one slow iteration does not move it
MIN_ITERATIONS = 3
UNTRACED_ITERATIONS = 2
TRACED_ITERATIONS = 2
TERRAIN_SAMPLE_TILES = 8
#: driver heap of every run, allocated whole at start: small enough for
#: a shared host, and a fixed heap keeps peak memory and GC time steady
#: between runs
DRIVER_MEM = "2g"


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def configure_env() -> str:
    """Keep every file the run writes inside the checkout. Returns the
    run's own temporary directory."""
    tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM the run starts (the launcher too) keeps its temp files
    # in the checkout and writes no perf-data file under /tmp. Its
    # initial heap is its maximum heap (ergonomics clamp the percentage
    # to -Xmx): a heap G1 grows on demand ends 1.3 or 1.8 GB resident
    # from one run to the next, which made peak_rss_mb spread by 0.21
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:InitialRAMPercentage=100 -Djava.io.tmpdir={tmp}"
    )
    # a fixed heap, whatever the caller's environment says: the memory
    # and GC metrics depend on it
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    return tmp


def start_session():
    from mapchete_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark=None) -> None:
    """Stops Spark and waits until the JVM and every process below this
    one have ended. ``spark.stop()`` alone leaves the JVM running until
    it notices this process has gone, after the run has ended."""
    from pyspark import SparkContext

    from perfbench.host import descendants, end_processes

    gateway = SparkContext._gateway
    try:
        active = SparkContext._active_spark_context
        if spark is not None:
            spark.stop()
        elif active is not None:
            active.stop()
    finally:
        pids = descendants(os.getpid())
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its standard input closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        end_processes(pids + descendants(os.getpid()))


def warm_session(spark) -> None:
    """A small job through a shuffle and the Arrow/Python boundary, so
    the session has started its Python workers and compiled code."""

    def double(batches):
        for pdf in batches:
            pdf["v"] = pdf["id"] * 2
            yield pdf

    (
        spark.range(10_000)
        .mapInPandas(double, "id long, v long")
        .groupBy((F.col("id") % 16).alias("k"))
        .agg(F.sum("v"))
        .collect()
    )


def set_up(trace: bool = False):
    """Starts the session and runs the warm-up job. With ``trace`` the
    span listener is attached before any job runs. Returns the session,
    the process's age when it is ready (interpreter, imports, JVM launch
    and the warm-up job), the time of ``get_spark`` alone and the
    listener."""
    from perfbench.trace import SpanListener

    t0 = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t0
    listener = None
    if trace:
        listener = SpanListener.attach(spark)
        if not isinstance(listener, SpanListener):
            raise RuntimeError("could not attach the span listener")
    warm_session(spark)
    return spark, process_age_s(), session_s, listener


def warm_up(ctx, workload, tracer) -> None:
    """Untimed iterations on the run's own inputs, so caches fill and
    code is compiled before the first timed one."""
    for _ in range(workload.warm_up_iterations):
        workload.reset(ctx)
        workload.run(ctx, tracer)


def run_iterations(ctx, workload, tracer, seconds: float, min_iterations: int):
    """Closed loop: iterations until ``seconds`` have passed and at
    least ``min_iterations`` ran. Returns (walls, attempted, failed,
    last good outcome, errors)."""
    walls, errors = [], []
    attempted = failed = 0
    last = None
    deadline = time.perf_counter() + seconds
    while attempted < min_iterations or time.perf_counter() < deadline:
        workload.reset(ctx)
        attempted += 1
        t0 = time.perf_counter()
        try:
            outcome = workload.run(ctx, tracer)
            wall = time.perf_counter() - t0
            errs = workload.quick_errors(ctx, outcome)
        except Exception:  # a failed iteration is counted, not fatal
            traceback.print_exc()
            failed += 1
            errors.append("iteration raised")
            last = None
            continue
        if errs:
            failed += 1
            errors.extend(errs)
            last = None
            continue
        walls.append(wall)
        last = outcome
    return walls, attempted, failed, last, errors


def final_check(ctx, workload, last, errors):
    """Full oracle check of the last iteration's output; returns the
    number of failures it adds (0 or 1)."""
    if last is None:
        return 0
    try:
        errs = workload.check(ctx, last)
    except Exception:
        traceback.print_exc()
        errs = ["check raised"]
    errors.extend(errs)
    return 1 if errs else 0


def measure(spark, workload, seed: int, seconds: float, sizes, ready_s: float):
    """Untraced run: the end-to-end metrics."""
    from perfbench.host import HostWindow, RssSampler, dir_bytes
    from perfbench.trace import Tracer

    phases = {}
    t0 = time.perf_counter()
    ctx = new_ctx(spark, workload, seed, sizes)
    workload.prepare(ctx)
    phases["inputs_s"] = time.perf_counter() - t0

    off = Tracer.off()
    t0 = time.perf_counter()
    warm_up(ctx, workload, off)
    phases["warm_up_s"] = time.perf_counter() - t0

    host, rss = HostWindow(), RssSampler()
    t0 = time.perf_counter()
    host.start()
    rss.start()
    walls, attempted, failed, last, errors = run_iterations(
        ctx, workload, off, seconds, MIN_ITERATIONS
    )
    peak = rss.stop()
    facts = host.stop()
    phases["timed_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    out_bytes = dir_bytes(ctx.path("out"))
    failed += final_check(ctx, workload, last, errors)
    phases["check_s"] = time.perf_counter() - t0

    # a run with no good iteration reports 0 (and correct: false), so
    # the result line stays valid JSON
    wall = statistics.median(walls) if walls else 0.0
    items = last.items if last is not None else 0
    values = {
        "setup_s": ready_s + phases["warm_up_s"],
        "wall_s": wall,
        "items_per_s": items / wall if walls else 0.0,
        "peak_rss_mb": peak / 2**20,
        "output_mb": out_bytes / 2**20,
    }
    report = {
        "workload": workload.name,
        "seed": seed,
        "host": facts,
        "ready_s": ready_s,
        "wall_s_samples": walls,
        "phases": phases,
        "items": items,
        "failed_frac": failed / attempted,
        "errors": errors,
    }
    return values, attempted, failed, report, ctx


def new_ctx(spark, workload, seed, sizes):
    from perfbench.workloads import Ctx

    root = os.path.join(WORK, f"run-{workload.name}-{seed}")
    shutil.rmtree(root, ignore_errors=True)
    return Ctx(spark, root, seed=seed, sizes=sizes, oracle_dir=os.path.join(WORK, "oracle"))


def terrain_sample(ctx) -> dict:
    """``process_hillshade`` called in-process on AOI tiles with the
    one-pixel halo the job gives it: milliseconds and bytes per tile."""
    import random

    from mapchete_spark.operators.process import TileContext, process_hillshade
    from mapchete_spark.raster.dem import DEM_NODATA, dem_tile
    from mapchete_spark.tilegrid.pyramid import Tile, TilePyramid

    aoi = ctx.state["aoi"]
    rng = random.Random(ctx.seed + 3)
    pyr = TilePyramid("geodetic")
    tiles = [
        Tile(pyr, aoi.zoom, rng.randint(aoi.r0, aoi.r1), rng.randint(aoi.c0, aoi.c1))
        for _ in range(TERRAIN_SAMPLE_TILES)
    ]
    arrays = [dem_tile(t, pixelbuffer=1, hole=False) for t in tiles]
    times, nbytes = [], 0
    for _ in range(3):
        for t, a in zip(tiles, arrays):
            t0 = time.perf_counter()
            out = process_hillshade(TileContext(tile=t, array=a, nodata=DEM_NODATA, params={}))
            times.append(time.perf_counter() - t0)
            nbytes = a.data.nbytes + out.data.nbytes
    return {"ms_per_tile": 1e3 * statistics.median(times), "bytes_per_tile": nbytes}


def traced(spark, workload, seed: int, seconds: float, sizes, get_spark_s: float, listener):
    """Traced run: per-layer metrics and the tracing overhead."""
    from perfbench.trace import Tracer

    ctx = new_ctx(spark, workload, seed, sizes)
    inputs_tracer = Tracer(spark, listener)
    for target, name, kw in workload.input_hooks():
        inputs_tracer.wrap(target, name, **kw)
    try:
        workload.prepare(ctx)
    finally:
        inputs_tracer.unpatch()
        inputs_tracer.release()
    input_layers = inputs_tracer.layer_totals()
    off = Tracer.off()
    warm_up(ctx, workload, off)
    walls, attempted, failed, _, errors = run_iterations(
        ctx, workload, off, seconds / 2, UNTRACED_ITERATIONS
    )
    untraced_wall = statistics.median(walls) if walls else 0.0

    tracer = Tracer(spark, listener)
    for target, name, kw in workload.hooks():
        tracer.wrap(target, name, **kw)
    tracer.output_paths.update(workload.output_paths(ctx))
    tracer.wrap_output_writes()
    traced_walls, layers, totals, spans, last = [], {}, {}, [], None
    try:
        for _ in range(TRACED_ITERATIONS):
            workload.reset(ctx)
            listener.reset()
            tracer.spans.clear()
            attempted += 1
            try:
                with tracer.span("workload"):
                    outcome = workload.run(ctx, tracer)
                errs = workload.quick_errors(ctx, outcome)
            except Exception:
                traceback.print_exc()
                errs, outcome = ["traced iteration raised"], None
            finally:
                layers = tracer.layer_totals()
                totals = listener.spark_totals()
                spans = [s.as_dict() for s in tracer.spans]
                tracer.release()
            if errs:
                failed += 1
                errors.extend(errs)
                last = None
                continue
            traced_walls.append(tracer.spans[0].duration)
            last = outcome
    finally:
        tracer.unpatch()
    failed += final_check(ctx, workload, last, errors)

    values = layer_metrics(ctx, layers, totals, input_layers, last, untraced_wall)
    traced_wall = statistics.median(traced_walls) if traced_walls else 0.0
    root_self = layers.get("workload", {}).get("self_s", 0.0)
    values.update(
        {
            "session.get_spark_s": get_spark_s,
            "trace.untraced_wall_s": untraced_wall,
            "trace.traced_wall_s": traced_wall,
            "trace.overhead_s": traced_wall - untraced_wall,
            "trace.span_self_s": sum(
                v["self_s"] for k, v in layers.items() if k != "workload"
            ),
            "trace.unattributed_s": root_self,
        }
    )
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, f"trace-{workload.name}-{seed}.json"), "w") as f:
        json.dump({"spans": spans, "spark": totals}, f, indent=1)
    report = {
        "workload": workload.name,
        "seed": seed,
        "untraced_wall_s_samples": walls,
        "traced_wall_s_samples": traced_walls,
        "layers": {
            k: {kk: (dict(vv) if kk == "counters" else vv) for kk, vv in v.items()}
            for k, v in layers.items()
        },
        "errors": errors,
    }
    return values, attempted, failed, report


def layer_metrics(ctx, layers, totals, input_layers, outcome, untraced_wall: float) -> dict:
    def get(name, key="self_s", src=layers):
        return float(src.get(name, {}).get(key, 0.0))

    def counter(name, key):
        return float(layers.get(name, {}).get("counters", {}).get(key, 0.0))

    docs_in = counter("sources.scan", "rows_out")
    values = {
        "sources.scan_s": get("sources.scan"),
        "sources.rows_in": counter("sources.scan", "scan_rows"),
        "sources.bytes_in": counter("sources.scan", "scan_bytes"),
        "sources.write_s": get("sources.write"),
        "sources.bytes_out": counter("sources.write", "bytes_out"),
        "functions.geo.busy_s": get("functions.geo"),
        "operators.assign.busy_s": get("operators.assign"),
        "operators.assign.rows_out_per_doc": (
            counter("operators.assign", "rows_out") / docs_in if docs_in else 0.0
        ),
        "operators.pyramid.busy_s": get("operators.pyramid"),
        "operators.pyramid.exchanges": get("operators.pyramid", "exchanges"),
        "operators.pyramid.shuffle_bytes": get("operators.pyramid", "shuffle_bytes"),
        "functions.repetition.busy_s": get("functions.repetition"),
        "functions.repetition.arrow_bytes_to_py": counter("functions.repetition", "arrow_bytes_to_py"),
        "functions.repetition.arrow_bytes_from_py": counter("functions.repetition", "arrow_bytes_from_py"),
        "operators.sharding.busy_s": get("operators.sharding"),
        "operators.sharding.jobs": get("operators.sharding", "jobs"),
        "operators.sharding.exchanges": get("operators.sharding", "exchanges"),
        "operators.sharding.upstream_scans": get("operators.sharding", "input_scans"),
        "operators.rastertable.busy_s": get("operators.rastertable", src=input_layers),
        "operators.halo.busy_s": get("operators.halo"),
        "operators.halo.shuffle_bytes": get("operators.halo", "shuffle_bytes"),
        "operators.process.busy_s": get("operators.process"),
        "operators.process.python_nodes": counter("operators.process", "python_nodes"),
        "operators.process.arrow_bytes": (
            counter("operators.process", "arrow_bytes_to_py")
            + counter("operators.process", "arrow_bytes_from_py")
        ),
        "operators.overviews.busy_s": get("operators.overviews"),
        "operators.overviews.shuffle_bytes": get("operators.overviews", "shuffle_bytes"),
        "plans.job.execute_s": get("plans.job.execute", "duration_s"),
        "operators.checkpoint.filter_todo_s": get("operators.checkpoint.filter_todo"),
        "operators.checkpoint.commit_s": get("operators.checkpoint.commit"),
        "operators.checkpoint.skip_frac": 0.0,
        "operators.checkpoint.tiles_computed": 0.0,
        "raster.terrain.ms_per_tile": 0.0,
        "raster.terrain.bytes_per_tile": 0.0,
        "raster.terrain.kernel_share": 0.0,
    }
    if "aoi" in ctx.state:
        if outcome is not None:
            computed = sum(outcome.counts.values())
            aoi_tiles = sum(ctx.state["aoi"].grown().tiles_per_zoom().values())
            values["operators.checkpoint.tiles_computed"] = float(computed)
            values["operators.checkpoint.skip_frac"] = 1.0 - computed / aoi_tiles
        terrain = terrain_sample(ctx)
        values["raster.terrain.ms_per_tile"] = terrain["ms_per_tile"]
        values["raster.terrain.bytes_per_tile"] = float(terrain["bytes_per_tile"])
        if outcome is not None and untraced_wall > 0:
            # the kernel's time for one iteration's process-zoom tiles,
            # run one after another, over the iteration's wall time
            kernel_s = terrain["ms_per_tile"] / 1e3 * outcome.counts[f"process_z{ctx.state['aoi'].zoom}"]
            values["raster.terrain.kernel_share"] = kernel_s / untraced_wall
    values.update(totals)
    return values


def load_metric_units(trace: bool) -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def result_line(values: dict, units: dict, attempted: int, failed: int) -> dict:
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    try:
        import mapchete_spark  # noqa: F401
    except ImportError:
        log(f"the engine package mapchete_spark is not in {REPO}; run from a checkout")
        return 2
    from perfbench.host import adopt_orphans
    from perfbench.workloads import SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        return 2
    units = load_metric_units(bool(args.trace))
    # a SIGTERM unwinds through the ``finally`` below, which stops
    # every process the run started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    tmp = configure_env()
    workload = WORKLOADS[args.workload]
    sizes = SIZES["full"]

    spark = None
    try:
        spark, ready_s, session_s, listener = set_up(trace=bool(args.trace))
        if args.trace:
            values, attempted, failed, report = traced(
                spark, workload, args.seed, args.seconds, sizes, session_s, listener
            )
        else:
            values, attempted, failed, report, _ = measure(
                spark, workload, args.seed, args.seconds, sizes, ready_s
            )
    finally:
        stop_session(spark)
        shutil.rmtree(os.path.join(WORK, f"run-{args.workload}-{args.seed}"), ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result_line(values, units, attempted, failed), allow_nan=False), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
