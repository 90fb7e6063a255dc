"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload migrate_bulk --seed 1 --seconds 13 --trace 0

Run it from the root of a checkout. The engine runs in this process on
``local[<cpus available>]``, closed loop: the next unit starts when the
previous one has finished. A run has three phases:

1. set-up, reported as ``setup_s``: the Spark session starts, the
   workload builds its inputs, and one untimed warm-up pass runs;
2. measured passes, until ``--seconds`` have gone by;
3. the report: the last line of standard output is one JSON object
   with ``correct``, ``attempted``, ``failed`` and ``metrics``. The
   lines before it give each metric with its unit, and
   ``failed_ratio``.

With ``--trace 0`` the metrics are the end-to-end ones, all wall-clock:
``setup_s``, ``wall_s`` (median pass), ``rows_per_s`` and ``unit_p50_s``
(median over units of each unit's median latency); ``peak_rss_mb``
(VmHWM of this process plus the JVM) is printed beside them. With
``--trace 1`` the session
also writes Spark's JSON event log, measured passes go untraced,
traced, traced, untraced, and the metrics are per layer: span times
and counts per traced pass, job counts from the status tracker, task
metrics from the event log, the self time of every layer plus the
named residual (they add up to ``trace.wall_s``), and the tracing
overhead (traced minus untraced pass time; below the pass-to-pass
noise it can read negative).

Standard error gets one line per pass and the CPU share the hypervisor
took from the machine while measuring: on a shared host that share,
not the program, is what moves a run's figures most.

Every file the run writes goes under ``perfbench/.work/`` and is
deleted when the run ends.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: per-layer span metrics, per traced pass: "<span>_s" and "<span>_n"
SPANS = (
    "cdc.run", "cdc.wm_get", "cdc.wm_advance", "sink.parquet_write",
    "catalog.write", "gates.require_no_nulls", "gates.observed_check",
    "pipelines.transform", "queries.build", "queries.exec",
)
LAYERS = ("cdc", "catalog", "sink", "gates", "pipelines", "queries", "exec", "residual")
EXEC_METRICS = (
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
)


def _env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the
    engine importable by Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        # JVM temp files; no hsperfdata file under /tmp
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    sys.path.insert(0, ROOT)


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _log_pass(idx: int, res) -> None:
    units = " ".join(f"{u:.2f}" for u in res.unit_s.values())
    print(f"pass {idx}: {res.wall_s:.2f} s, units [{units}], "
          f"{len(res.failures)} failed", file=sys.stderr, flush=True)


def _traced_unit(spark, tracer, groups: list[str], idx: int):
    """The unit hook of a traced pass: each unit runs under its own
    Spark job group, and in a span when the workload names one."""

    @contextlib.contextmanager
    def unit(label: str, span: str | None = None):
        group = f"p{idx}:{label}"
        groups.append(group)
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            with tracer.span(span) if span else contextlib.nullcontext():
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    return unit


def _measure(spark, wl, args, tracer, groups):
    """Measured passes until ``args.seconds`` have gone by, at least
    two. A traced run goes in blocks of four passes, untraced, traced, traced,
    untraced, so a drift that is still warming the engine up falls on
    both sides alike."""
    import workloads

    untraced, traced = [], []
    t0 = time.perf_counter()
    idx = 1
    while True:
        if args.trace and idx % 4 in (2, 3):
            tracer.install()
            try:
                res = wl.run_pass(idx, _traced_unit(spark, tracer, groups, idx))
            finally:
                tracer.uninstall()
            traced.append(res)
        else:
            res = wl.run_pass(idx, workloads.no_unit)
            untraced.append(res)
        _log_pass(idx, res)
        idx += 1
        # at least two untraced passes, or whole blocks when traced
        done = idx % 4 == 1 if args.trace else idx > 2
        if done and time.perf_counter() - t0 >= args.seconds:
            return untraced, traced


def run(args) -> dict:
    work = os.path.join(HERE, ".work", str(os.getpid()))
    _env(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only if no other run uses it


def _run(args, work: str) -> dict:
    import procfs
    import tracing
    import workloads

    from data_migration_etl_scripts_spark import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        conf.update(tracing.eventlog_conf(log_dir))
    spark = get_spark(app_name=f"perfbench_{args.workload}", extra_conf=conf)
    tracer = tracing.Tracer()
    groups: list[str] = []
    jobs = {}
    try:
        session_s = time.perf_counter() - T_START
        wl = workloads.WORKLOADS[args.workload]()
        t0 = time.perf_counter()
        wl.prepare(spark, work, args.seed)
        inputs_s = time.perf_counter() - t0
        warmup = wl.run_pass(0, workloads.no_unit)
        _log_pass(0, warmup)
        warmup_s = time.perf_counter() - t0 - inputs_s
        setup_s = time.perf_counter() - T_START

        t_steal, steal0 = time.perf_counter(), procfs.steal_s()
        untraced, traced = _measure(spark, wl, args, tracer, groups)
        print(f"stolen by the hypervisor while measuring: "
              f"{(procfs.steal_s() - steal0) / (time.perf_counter() - t_steal):.2f} CPUs",
              file=sys.stderr)
        py_mb = procfs.hwm_mb(os.getpid())
        jvm_mb = sum(procfs.hwm_mb(p) for p in procfs.jvm_pids())
        print(f"peak rss: python {py_mb:.0f} MB, jvm {jvm_mb:.0f} MB", file=sys.stderr)
        rss_mb = py_mb + jvm_mb
        if args.trace:
            tracing.wait_for_listener(spark, groups)
            jobs = {
                kind: tracing.job_counts(spark, [g for g in groups if g.endswith(suffix)])
                for kind, suffix in (("spark", ""), ("build", ":build"), ("exec", ":exec"))
            }
    finally:
        _stop(spark)  # also flushes the event log

    passes = [warmup] + untraced + traced
    attempted = sum(p.attempted for p in passes)
    failures = [f for p in passes for f in p.failures]
    for f in failures[:20]:
        print(f"FAILED {f}", file=sys.stderr)

    if args.trace:
        metrics = _layer_metrics(tracer, traced, untraced, jobs,
                                 tracing.exec_metrics(log_dir, set(groups)))
        metrics.update({
            "session.start_s": (session_s, "s"),
            "setup.inputs_s": (inputs_s, "s"),
            "setup.warmup_s": (warmup_s, "s"),
            "peak_rss_mb": (rss_mb, "MB"),
        })
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(p.wall_s for p in untraced), "s"),
            "rows_per_s": (sum(p.rows for p in untraced) / sum(p.wall_s for p in untraced),
                           "rows/s"),
            "unit_p50_s": (_unit_p50(untraced), "s"),
        }
        # JVM heap growth spreads it by a quarter from run to run, so it
        # is reported here and as a per-layer metric, not end to end
        print(f"peak_rss_mb {rss_mb:.6g} MB")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"failed_ratio {len(failures) / attempted:.6g} failed/attempted")
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _unit_p50(passes) -> float:
    """A unit's latency is its median over the passes; the metric is
    the median over units (0 when no unit succeeded, which the
    failures report)."""
    per_unit: dict[str, list[float]] = {}
    for p in passes:
        for label, sec in p.unit_s.items():
            per_unit.setdefault(label, []).append(sec)
    units = [statistics.median(v) for v in per_unit.values()]
    return statistics.median(units) if units else 0.0


def _layer_metrics(tracer, traced, untraced, jobs, exec_totals) -> dict:
    n = len(traced)
    out = {}
    for span in SPANS:
        out[f"{span}_s"] = (tracer.total[span] / n, "s")
        out[f"{span}_n"] = (tracer.count[span] / n, "count")
    for key in ("cdc.batches", "cdc.rows"):
        out[key] = (tracer.extra[key] / n, "count")
    out["catalog.bytes_written"] = (tracer.extra["catalog.bytes_written"] / n, "bytes")
    out["spark.jobs"] = (jobs["spark"]["jobs"] / n, "count")
    out["spark.stages"] = (jobs["spark"]["stages"] / n, "count")
    out["spark.tasks"] = (jobs["spark"]["tasks"] / n, "count")
    out["spark.jobs_build"] = (jobs["build"]["jobs"] / n, "count")
    out["spark.jobs_exec"] = (jobs["exec"]["jobs"] / n, "count")
    for key, unit in EXEC_METRICS:
        out[key] = (exec_totals.get(key, 0.0) / n, unit)
    traced_wall = statistics.mean(p.wall_s for p in traced)
    # top-level spans cover what the layers did; the rest of the
    # traced pass time is the residual: the benchmark's own loop and
    # whatever runs outside the traced calls
    for layer in LAYERS[:-1]:
        out[f"self.{layer}_s"] = (tracer.self_s[layer] / n, "s")
    covered = sum(tracer.self_s[layer] for layer in LAYERS[:-1]) / n
    out["self.residual_s"] = (traced_wall - covered, "s")
    untraced_wall = statistics.mean(p.wall_s for p in untraced)
    out["trace.wall_s"] = (traced_wall, "s")
    out["trace.untraced_wall_s"] = (untraced_wall, "s")
    out["trace.overhead_s"] = (traced_wall - untraced_wall, "s")
    return out


def main(argv=None) -> int:
    # a terminated run still stops its JVM and deletes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("migrate_bulk", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    result = run(ap.parse_args(argv))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
