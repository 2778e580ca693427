"""The repo benchmark: one command, two window workloads, per-layer traces.

    python3 perfbench/run.py --workload window_large --seed 1 --seconds 10 --trace 0

Run it from the repository root. It generates every input from ``--seed``
(``perfbench/gen.py``), starts Spark on ``local[nproc]`` through the
engine's own session factory, measures for ``--seconds`` seconds (at least
one full unit of the workload), checks the reports against the generator's
ground truth and prints every metric by name with its unit. The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``).

Workloads (closed loop, one client; production fires one window per 300 s):

- ``window_large``: one big window through the ``app batch`` path with
  deployment-sized dimensions and the concurrent sink.
- ``backfill_small``: consecutive small windows replayed through
  ``run_backfill`` with the serial idempotent sink and demo dimensions.

Set-up (session start + dimension load + warm-up) is repeated three times in
each run, restarting the Spark context in between, and ``setup_s`` is the
median. All scratch, warehouse and Spark local dirs live under
``.bench_build/perfbench/`` in the working directory and are removed at exit;
a traced run leaves its spans in ``.bench_build/perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3

# name -> (unit, better) of the end-to-end metrics a --trace 0 run prints
END_TO_END = {
    "setup_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "events_per_s": ("1/s", "higher"),
    "window_p50_s": ("s", "lower"),
}


# which end-to-end metric each per-layer family should move, and where
MOVES = {
    "session.": "setup_s, both workloads",
    "sources.events.rescan_ratio": "backfill_small window_p50_s",
    "sources.events.": "window_large events_per_s",
    "operators.enrich.": "window_large wall_s; backfill_small: no change",
    "operators.reports.": "window_large wall_s, backfill_small window_p50_s",
    "io.": "backfill_small window_p50_s (serial sink); window_large hides most of it",
    "streaming.pipeline.": "backfill_small window_p50_s and cached memory",
    "trace.": "none (traced wall minus untraced wall)",
}


def _moves(name: str) -> str:
    return next(v for k, v in MOVES.items() if name.startswith(k))


def _per_layer() -> dict[str, tuple[str, str]]:
    from workloads import REPORTS

    m = {
        "session.start_s": ("s", "lower"),
        "session.warm_s": ("s", "lower"),
        "sources.events.self_s": ("s", "lower"),
        "sources.events.rows_in": ("count", "higher"),
        "sources.events.rows_corrupt": ("count", "lower"),
        "sources.events.rows_out_of_window": ("count", "lower"),
        "sources.events.rows_out": ("count", "higher"),
        "sources.events.rescan_ratio": ("ratio", "lower"),
        "operators.enrich.self_s": ("s", "lower"),
        "operators.enrich.driver_s": ("s", "lower"),
        "operators.enrich.rule_rows_broadcast": ("count", "lower"),
        "operators.enrich.client_default_ratio": ("ratio", "lower"),
        "operators.enrich.geo_miss_ratio": ("ratio", "lower"),
    }
    for r in REPORTS:
        m[f"operators.reports.{r}.self_s"] = ("s", "lower")
    m.update({
        "operators.reports.jobs": ("count", "lower"),
        "operators.reports.stages": ("count", "lower"),
        "operators.reports.tasks": ("count", "lower"),
        "operators.reports.task_s": ("s", "lower"),
        "operators.reports.shuffle_write_bytes": ("bytes", "lower"),
        "operators.reports.spill_bytes": ("bytes", "lower"),
        "io.write_s": ("s", "lower"),
        "io.fanout_gap_s": ("s", "lower"),
        "io.files_written": ("count", "lower"),
        "io.bytes_written": ("bytes", "lower"),
        "io.write_failures": ("count", "lower"),
        "streaming.pipeline.build_s": ("s", "lower"),
        "streaming.pipeline.persisted_rdds_end": ("count", "lower"),
        "streaming.pipeline.cached_mb_end": ("MB", "lower"),
        "streaming.pipeline.cached_mb_max": ("MB", "lower"),
        "streaming.pipeline.jobs_per_window": ("count", "lower"),
        "trace.overhead_s": ("s", "lower"),
    })
    return m


def _driver_memory() -> str:
    """A quarter of the box, between 1 and 4 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(fh.readline().split()[1])
    except (OSError, ValueError, IndexError):
        return "2g"
    return f"{max(1, min(4, kb // 2**20 // 4))}g"


def _pin_environment(root: str, work: str, nproc: int) -> dict[str, str]:
    """Environment and Spark conf the benchmark pins; returned for the record."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.master": f"local[{nproc}]",
        "spark.sql.shuffle.partitions": str(nproc),
        "spark.driver.memory": _driver_memory(),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    return conf


def _start_session(conf: dict[str, str], event_log: str | None):
    from dnsflow_clickhouse_spark.session import get_spark

    extra = {k: v for k, v in conf.items() if k != "spark.master"}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=conf["spark.master"],
                     shuffle_partitions=int(conf["spark.sql.shuffle.partitions"]),
                     extra_conf=extra)


def _warm_up(dims) -> None:
    """Scan the two dimension tables every event is joined against."""
    for df in (dims.client_rules, dims.geo):
        if df is not None:
            df.count()


def _stop_jvm(spark) -> None:
    """Stop the context and the JVM the session launched, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def _fmt(name: str, value: float, unit: str, note: str = "") -> str:
    return f"{name:48s} {value:>16.6g} {unit:6s} {note}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "dnsflow_clickhouse_spark")):
        print("perfbench: run from the repository root (dnsflow_clickhouse_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".bench_build", "perfbench", f"{wl.name}-s{args.seed}-{os.getpid()}")
    conf = _pin_environment(root, work, nproc)
    try:
        return _run(args, wl, work, conf, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, work: str, conf: dict[str, str], nproc: int) -> int:
    import numpy as np

    import gen
    from workloads import (REPORTS, check_windows, layer_metrics, run_traced, run_unit,
                           window_starts)

    # --- inputs, all from the seed ---------------------------------------------
    t_gen = time.perf_counter()
    rng = np.random.default_rng(args.seed)
    dims_rows = gen.Dims(rng, wl.dims_size)
    dims_dir = os.path.join(work, "dims")
    dims_rows.write(dims_dir)
    input_dir = os.path.join(work, "events")
    info = gen.write_events(rng, dims_rows, input_dir, wl.windows, wl.lines_per_window,
                            wl.out_of_window, files_per_window=wl.files_per_window)
    phases = {"gen_s": time.perf_counter() - t_gen}

    from dnsflow_clickhouse_spark.app import load_dims

    # --- set-up, repeated -----------------------------------------------------
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = None
    starts, warms = [], []
    try:
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = _start_session(conf, event_log)
            t1 = time.perf_counter()
            dims = load_dims(spark, dims_dir)
            _warm_up(dims)
            t2 = time.perf_counter()
            starts.append(t1 - t0)
            warms.append(t2 - t1)
        setup = [s + w for s, w in zip(starts, warms)]
        phases["setup_total_s"] = sum(setup)

        # --- measured units -------------------------------------------------------
        units = []
        t_meas = time.perf_counter()
        while not units or time.perf_counter() - t_meas < args.seconds:
            out_dir = os.path.join(work, f"out{len(units)}")
            u = run_unit(spark, wl, input_dir, dims, out_dir)
            checks, failures = check_windows(out_dir, info, window_starts(wl))
            u.attempted += checks
            u.failed += len(failures)
            u.failures += failures
            units.append(u)
            if args.trace:
                break

        attempted = sum(u.attempted for u in units)
        failed = sum(u.failed for u in units)
        walls = [u.wall_s for u in units]
        windows = [w for u in units for w in u.window_s]
        lines = info.lines
        wall = statistics.median(walls)
        e2e = {
            "setup_s": statistics.median(setup),
            "wall_s": wall,
            "events_per_s": lines / wall,
            "window_p50_s": statistics.median(windows),
        }
        last = units[-1]
        phases["measure_s"] = time.perf_counter() - t_meas

        layer = None
        if args.trace:
            from spans import Tracer, reduce_event_log

            tracer = Tracer(spark.sparkContext)
            out_dir = os.path.join(work, "traced")
            counts = run_traced(spark, tracer, wl, input_dir, dims, out_dir)
            checks, failures = check_windows(out_dir, info, window_starts(wl))
            attempted += checks + len(REPORTS) * wl.windows
            failed += len(failures) + counts.get("write_failures", 0)
            last.failures += failures
            shapes = tracer.job_shape()
            app_id = spark.sparkContext.applicationId
            spark.stop()
            spark = None
            stats, submits = reduce_event_log(os.path.join(event_log, app_id))
            setup_info = {"start_s": statistics.median(starts), "warm_s": statistics.median(warms)}
            layer = layer_metrics(tracer, shapes, stats, submits, counts, units[0], info, wl,
                                  out_dir, setup_info)
            traces = os.path.join(os.path.dirname(work), "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(traces, f"{wl.name}-s{args.seed}.jsonl"))
    finally:
        t_stop = time.perf_counter()
        _stop_jvm(spark)
    phases["stop_s"] = time.perf_counter() - t_stop

    # --- report -------------------------------------------------------------------
    print(f"# perfbench workload={wl.name} seed={args.seed} trace={args.trace} "
          f"nproc={nproc} " + " ".join(f"{k}={v:.3f}" for k, v in phases.items()))
    print("# config " + json.dumps(conf, sort_keys=True))
    for f in (u for unit in units for u in unit.failures):
        print(f"# FAILED {f}")
    ops_ratio = failed / attempted
    print(_fmt("setup_s", e2e["setup_s"], "s", f"median of {SETUP_REPS}: "
               + " ".join(f"{s:.3f}+{w:.3f}" for s, w in zip(starts, warms))))
    print(_fmt("wall_s", e2e["wall_s"], "s", f"units={len(walls)}"))
    print(_fmt("events_per_s", e2e["events_per_s"], "1/s", f"lines={lines}"))
    print(_fmt("window_p50_s", e2e["window_p50_s"], "s", f"samples={len(windows)}: "
               + " ".join(f"{w:.3f}" for w in windows)))
    print(_fmt("cached_mb_end", last.cached_mb[-1] if last.cached_mb else 0.0, "MB",
               f"persisted_rdds_end={last.persisted_rdds[-1] if last.persisted_rdds else 0}"))
    print(_fmt("ops_failed_ratio", ops_ratio, "ratio", f"{failed}/{attempted}"))
    if layer is not None:
        specs = _per_layer()
        for k, v in layer.items():
            print(_fmt(k, v, specs[k][0], "-> " + _moves(k)))
        metrics = {k: {"value": v, "unit": specs[k][0]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
