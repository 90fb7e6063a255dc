"""Outside-in tracing for the benchmark: spans around calls into the
engine's public functions, Spark job counts per job group, and task
metrics from Spark's own JSON event log.

Nothing here changes the engine. A span is recorded by replacing a
public function or method with a timing wrapper while a traced pass
runs, and putting the original back afterwards. Functions that engine
modules bind with ``from ... import`` are replaced in every loaded
module of the package that holds them, so the calls those modules make
are timed too.

A span's layer is the part of its name before the first dot, except
``queries.exec``, which is Spark execution (layer ``exec``). A layer's
self time is the time its spans cover minus the time their child spans
cover. What no span covers is the named residual, so the self times of
all layers plus the residual add up to the traced wall time.
"""

from __future__ import annotations

import contextlib
import dataclasses
import glob
import json
import os
import sys
import time
from collections import defaultdict

PACKAGE = "data_migration_etl_scripts_spark"

#: span name -> layer, where the layer is not the name's prefix
LAYER_OF = {"queries.exec": "exec"}


def layer_of(name: str) -> str:
    return LAYER_OF.get(name, name.split(".", 1)[0])


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Tracer:
    """Spans kept in memory for one run; the counts and self times
    are read out once the run ends."""

    def __init__(self):
        self.stack: list[list[float]] = []  # open spans: [start, child_s]
        self.total = defaultdict(float)  # span name -> summed duration
        self.count = defaultdict(int)  # span name -> calls
        self.self_s = defaultdict(float)  # layer -> summed self time
        self.extra = defaultdict(float)  # counters recorded at span sites
        self._undo: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str):
        self.stack.append([time.perf_counter(), 0.0])
        try:
            yield
        finally:
            start, child = self.stack.pop()
            dur = time.perf_counter() - start
            self.total[name] += dur
            self.count[name] += 1
            self.self_s[layer_of(name)] += dur - child
            if self.stack:
                self.stack[-1][1] += dur

    def _timed(self, name: str, fn):
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    # -------------------------------------------------------- patches
    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _replace_everywhere(self, original, replacement) -> None:
        """Rebind ``original`` in every loaded engine module that holds
        it, including the ``from ... import`` copies."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._set(mod, attr, replacement)

    def install(self) -> None:
        from pyspark.sql import DataFrameWriter

        from data_migration_etl_scripts_spark import cdc, gates
        from data_migration_etl_scripts_spark.catalog import Catalog

        tracer = self
        run_incremental = cdc.run_incremental

        def run_incremental_traced(catalog, pipeline, *args, **kwargs):
            # the transform is a field of the pipeline, so wrap it on a copy
            pipeline = dataclasses.replace(
                pipeline,
                transform=tracer._timed("pipelines.transform", pipeline.transform),
            )
            with tracer.span("cdc.run"):
                res = run_incremental(catalog, pipeline, *args, **kwargs)
            tracer.extra["cdc.batches"] += res.batches
            tracer.extra["cdc.rows"] += res.rows
            return res

        catalog_write = Catalog.write

        def write_traced(cat, df, name, *args, **kwargs):
            # an append adds files next to earlier batches: count only
            # what this call added
            before = dir_bytes(os.path.join(cat.scratch_dir, name))
            with tracer.span("catalog.write"):
                path = catalog_write(cat, df, name, *args, **kwargs)
            tracer.extra["catalog.bytes_written"] += dir_bytes(path) - before
            return path

        self._replace_everywhere(run_incremental, run_incremental_traced)
        self._replace_everywhere(
            gates.require_no_nulls,
            self._timed("gates.require_no_nulls", gates.require_no_nulls),
        )
        self._set(gates.ObservedGate, "check",
                  self._timed("gates.observed_check", gates.ObservedGate.check))
        self._set(cdc.WatermarkStore, "get",
                  self._timed("cdc.wm_get", cdc.WatermarkStore.get))
        self._set(cdc.WatermarkStore, "advance",
                  self._timed("cdc.wm_advance", cdc.WatermarkStore.advance))
        self._set(Catalog, "write", write_traced)
        self._set(DataFrameWriter, "parquet",
                  self._timed("sink.parquet_write", DataFrameWriter.parquet))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)


# ------------------------------------------------------------ Spark side
def job_counts(spark, groups: list[str]) -> dict[str, int]:
    """Jobs, stages and completed tasks of the given job groups, from
    the status tracker."""
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for g in groups:
        for job_id in tracker.getJobIdsForGroup(g):
            jobs += 1
            info = tracker.getJobInfo(job_id)
            for sid in info.stageIds if info else ():
                stages += 1
                st = tracker.getStageInfo(sid)
                tasks += st.numCompletedTasks if st else 0
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def wait_for_listener(spark, groups: list[str], timeout_s: float = 10.0) -> None:
    """The status tracker is fed by an asynchronous listener: wait
    until every job of ``groups`` has been recorded as finished."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        pending = [
            j for g in groups for j in tracker.getJobIdsForGroup(g)
            if (info := tracker.getJobInfo(j)) is None
            or info.status not in ("SUCCEEDED", "FAILED")
        ]
        if not pending:
            return
        time.sleep(0.05)


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        # the default zstd-compressed log is not plain JSON lines
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        # keep every traced job in the status tracker until the run ends
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _events(log_dir: str):
    # Spark 4 rolls the log into eventlog_v2_<appId>/events_<n>_<appId>
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    for path in files:
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def exec_metrics(log_dir: str, groups: set[str]) -> dict[str, float]:
    """Sum task metrics of the stages whose jobs belong to ``groups``."""
    stage_in_group: set[int] = set()
    totals = defaultdict(float)
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group in groups:
                stage_in_group.update(ev["Stage IDs"])
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_in_group:
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            totals["exec.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            totals["exec.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            totals["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            totals["exec.shuffle_read_bytes"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            )
            totals["exec.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            totals["exec.spill_bytes"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            )
    return dict(totals)
