"""Layer spans for the traced run.

The traced run wraps the public functions of the engine's modules, from
this file, by replacing the module attributes for the length of the run.
Each wrapper opens a span, sets a Spark job group named after it, and,
when the layer returns a DataFrame, materializes it (persist + count) so
that the span holds that layer's own work and later layers read its
result from the cache. Spans are kept in memory and written out when the
run ends.

Counters come from Spark itself:

- TaskMetrics per job group, folded by ``SpanListener``, a subclass of
  the engine's ``operators.profilers.StageMetricsProfiler`` (shuffle
  bytes, spill and task run time are the profiler's own counters);
- SQLMetrics of the executed plan of each materialized result (rows,
  bytes scanned, Python nodes and the bytes sent to and returned from
  Python workers).

A span's self time is its duration minus the part its child spans
cover; spans nest strictly because the benchmark runs one job at a time.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import statistics
import time
from collections import defaultdict
from typing import Callable, Dict, List, Optional, Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql.readwriter import DataFrameWriter

from mapchete_spark.operators.profilers import StageMetricsProfiler
from perfbench.host import dir_bytes

#: job-group suffix of the jobs the tracer starts to materialize a result
MATERIALIZE = "/materialize"

#: executed-plan nodes that run Python code over Arrow batches
PYTHON_NODES = (
    "MapInPandasExec",
    "ArrowEvalPythonExec",
    "FlatMapGroupsInPandasExec",
    "BatchEvalPythonExec",
    "FlatMapCoGroupsInPandasExec",
    "AggregateInPandasExec",
    "MapInArrowExec",
)


class SpanListener(StageMetricsProfiler):
    """StageMetricsProfiler plus the per-stage numbers the layer report
    needs: CPU, GC and fetch-wait time, spill to disk, stage duration,
    the RDDs a stage read, whether it wrote a shuffle, and per-task run
    times for the skew ratio."""

    def __init__(self, spark):
        super().__init__(spark)
        self.jobs: Dict[Optional[str], int] = defaultdict(int)
        self.stages: Dict[int, dict] = {}
        self.task_ms: Dict[int, List[int]] = defaultdict(list)
        self.tasks_failed = 0

    def onJobStart(self, job_start):
        super().onJobStart(job_start)
        group = job_start.properties().get("spark.jobGroup.id")
        with self._lock:
            self.jobs[group] += 1

    def onStageCompleted(self, stage_completed):
        super().onStageCompleted(stage_completed)
        si = stage_completed.stageInfo()
        m = si.taskMetrics()
        infos = si.rddInfos()
        sub, done = si.submissionTime(), si.completionTime()
        row = {
            "run_ms": int(m.executorRunTime()),
            "cpu_ns": int(m.executorCpuTime()),
            "gc_ms": int(m.jvmGCTime()),
            "fetch_wait_ms": int(m.shuffleReadMetrics().fetchWaitTime()),
            "spill_bytes": int(m.memoryBytesSpilled()) + int(m.diskBytesSpilled()),
            "shuffle_write_bytes": int(m.shuffleWriteMetrics().bytesWritten()),
            "is_shuffle_map": bool(si.shuffleDepId().isDefined()),
            "duration_ms": int(done.get()) - int(sub.get())
            if sub.isDefined() and done.isDefined()
            else 0,
            "rdd_ids": {int(infos.apply(i).id()) for i in range(infos.size())},
        }
        with self._lock:
            row["group"] = self._stage_to_group.get(si.stageId())
            self.stages[int(si.stageId())] = row

    def onTaskEnd(self, task_end):
        info = task_end.taskInfo()
        failed = bool(info.failed()) or bool(info.killed())
        tm = task_end.taskMetrics()
        run_ms = int(tm.executorRunTime()) if tm is not None else 0
        sid = int(task_end.stageId())
        with self._lock:
            self.task_ms[sid].append(run_ms)
            if failed:
                self.tasks_failed += 1

    def reset(self) -> None:
        self.flush()
        with self._lock:
            self.groups.clear()
            self._stage_to_group.clear()
            self.jobs.clear()
            self.stages.clear()
            self.task_ms.clear()
            self.tasks_failed = 0

    def spark_totals(self) -> dict:
        """Whole-run Spark counters since the last ``reset``."""
        self.flush()
        with self._lock:
            stages = list(self.stages.items())
            task_ms = {k: list(v) for k, v in self.task_ms.items()}
            jobs = sum(self.jobs.values())
            failed = self.tasks_failed
        skew = 1.0
        if stages:
            longest, _ = max(stages, key=lambda kv: kv[1]["duration_ms"])
            times = task_ms.get(longest) or []
            med = statistics.median(times) if times else 0
            if med > 0:
                skew = max(times) / med
        return {
            "spark.task_run_s": sum(r["run_ms"] for _, r in stages) / 1e3,
            "spark.task_cpu_s": sum(r["cpu_ns"] for _, r in stages) / 1e9,
            "spark.gc_s": sum(r["gc_ms"] for _, r in stages) / 1e3,
            "spark.shuffle_fetch_wait_s": sum(r["fetch_wait_ms"] for _, r in stages) / 1e3,
            "spark.spill_bytes": sum(r["spill_bytes"] for _, r in stages),
            "spark.tasks_failed": failed,
            "spark.task_skew": skew,
            "spark.jobs": jobs,
            "spark.stages": len(stages),
        }

    def group_stages(self, group: str) -> List[dict]:
        """Stages of a span's job group and of its materialization."""
        groups = (group, group + MATERIALIZE)
        with self._lock:
            return [r for r in self.stages.values() if r["group"] in groups]


def _plan_nodes(plan):
    """Yield every node of an executed plan, looking through adaptive
    plans and query stages to the operators that actually ran."""
    todo = [plan]
    while todo:
        p = todo.pop()
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        yield name, p
        children = p.children()
        todo.extend(children.apply(i) for i in range(children.size()))


def _metrics(node) -> Dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def _cached(df: DataFrame):
    cd = df.sparkSession._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    return cd.get() if cd.isDefined() else None


def plan_counters(df: DataFrame) -> Dict[str, int]:
    """SQLMetrics of the plan that built a persisted DataFrame."""
    cd = _cached(df)
    out = defaultdict(int)
    if cd is None:
        return out
    for name, node in _plan_nodes(cd.cachedRepresentation().cacheBuilder().cachedPlan()):
        m = _metrics(node)
        if name in PYTHON_NODES:
            out["python_nodes"] += 1
            out["arrow_bytes_to_py"] += m.get("pythonDataSent", 0)
            out["arrow_bytes_from_py"] += m.get("pythonDataReceived", 0)
        elif name == "FileSourceScanExec":
            out["scan_rows"] += m.get("numOutputRows", 0)
            out["scan_bytes"] += m.get("filesSize", 0)
    return out


def cached_rdd_id(df: DataFrame) -> Optional[int]:
    cd = _cached(df)
    if cd is None:
        return None
    return int(cd.cachedRepresentation().cacheBuilder().cachedColumnBuffers().id())


class Span:
    __slots__ = ("name", "group", "start", "end", "parent", "children_s", "counters")

    def __init__(self, name, group, start, parent):
        self.name, self.group, self.start, self.parent = name, group, start, parent
        self.end = None
        self.children_s = 0.0
        self.counters: Dict[str, float] = defaultdict(float)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "parent": self.parent,
            "self_s": self.self_s,
            "counters": dict(self.counters),
        }


class Tracer:
    """Opens spans around calls into the engine's layers.

    ``Tracer.off()`` is the untraced form: every hook runs the call and
    nothing else, so workload code is the same in both runs."""

    def __init__(self, spark, listener: Optional[SpanListener]):
        self.spark = spark
        self.listener = listener
        self.enabled = listener is not None
        self.spans: List[Span] = []
        self._stack: List[int] = []
        self._persisted: List[DataFrame] = []
        self._patches: List[tuple] = []
        self.output_paths: set = set()

    @classmethod
    def off(cls) -> "Tracer":
        return cls(None, None)

    # -- spans ----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        idx = len(self.spans)
        sp = Span(name, f"perfbench:{idx}:{name}", time.perf_counter(),
                  self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        self._stack.append(idx)
        sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sp.parent is not None:
                self.spans[sp.parent].children_s += sp.duration
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
            sc.setLocalProperty("spark.job.description", prev_desc)

    def materialize(self, sp: Span, df: DataFrame, columns: Sequence[str] = ()) -> DataFrame:
        """Persist and count ``df`` inside span ``sp``; record the
        plan's counters on the span."""
        if columns:
            df = df.select(*columns)
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._persisted.append(df)
        # jobs of the materialization get their own group, so a layer's
        # job count holds only the jobs the layer call started itself
        sc = self.spark.sparkContext
        sc.setJobGroup(sp.group + MATERIALIZE, sp.name)
        try:
            # an RDD count adds no exchange of its own, unlike df.count()
            sp.counters["rows_out"] += df._jdf.queryExecution().toRdd().count()
        finally:
            sc.setJobGroup(sp.group, sp.name)
        for k, v in plan_counters(df).items():
            sp.counters[k] += v
        return df

    def step(self, name: str, fn: Callable[[], DataFrame]) -> DataFrame:
        """A workload step that is not a layer call (a filter or a
        join the workload itself writes), materialized in its own span
        when tracing."""
        if not self.enabled:
            return fn()
        with self.span(name) as sp:
            return self.materialize(sp, fn())

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -- patching -------------------------------------------------------

    def wrap(self, target: str, name: str, columns: Sequence[str] = (), input_rdd: bool = False):
        """Replace ``module.attr`` (or ``module.Class.attr``) by a
        wrapper that runs the call inside span ``name``.

        ``columns`` narrows a materialized source to the columns the
        workload reads; ``input_rdd`` records the cached RDD of the
        first DataFrame argument so the span can count how many stages
        re-read its input."""
        mod_name, attr_path = target.split(":")
        owner = importlib.import_module(mod_name)
        parts = attr_path.split(".")
        for p in parts[:-1]:
            owner = getattr(owner, p)
        attr = parts[-1]
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                if input_rdd:
                    df_in = next((a for a in args if isinstance(a, DataFrame)), None)
                    rid = cached_rdd_id(df_in) if df_in is not None else None
                    sp.counters["input_rdd"] = -1 if rid is None else rid
                out = original(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = tracer.materialize(sp, out, columns)
                return out

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def wrap_output_writes(self, name: str = "sources.write"):
        """Span every ``DataFrameWriter.parquet`` call whose path is one
        of ``output_paths``; record the bytes it added there."""
        original = DataFrameWriter.parquet
        tracer = self

        @functools.wraps(original)
        def parquet(writer, path, *args, **kwargs):
            if str(path) not in tracer.output_paths:
                return original(writer, path, *args, **kwargs)
            before = dir_bytes(str(path))
            with tracer.span(name) as sp:
                out = original(writer, path, *args, **kwargs)
                sp.counters["bytes_out"] += dir_bytes(str(path)) - before
            return out

        self._patches.append((DataFrameWriter, "parquet", original))
        DataFrameWriter.parquet = parquet

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- report ---------------------------------------------------------

    def layer_totals(self) -> Dict[str, dict]:
        """Per span name: call count, summed duration and self time,
        summed counters, and the Spark numbers of its job groups."""
        out: Dict[str, dict] = {}
        for sp in self.spans:
            agg = out.setdefault(
                sp.name,
                {"calls": 0, "duration_s": 0.0, "self_s": 0.0, "counters": defaultdict(float),
                 "jobs": 0, "exchanges": 0, "shuffle_bytes": 0, "input_scans": 0},
            )
            agg["calls"] += 1
            agg["duration_s"] += sp.duration
            agg["self_s"] += sp.self_s
            for k, v in sp.counters.items():
                if k != "input_rdd":
                    agg["counters"][k] += v
            if self.listener is not None:
                agg["jobs"] += self.listener.jobs.get(sp.group, 0)
                stages = self.listener.group_stages(sp.group)
                agg["exchanges"] += sum(1 for r in stages if r["is_shuffle_map"])
                agg["shuffle_bytes"] += sum(r["shuffle_write_bytes"] for r in stages)
                rid = int(sp.counters.get("input_rdd", -1))
                if rid >= 0:
                    agg["input_scans"] += sum(1 for r in stages if rid in r["rdd_ids"])
        return out
