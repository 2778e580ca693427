"""The two window workloads, their correctness gate and their layer trace.

``window_large`` is the ``app batch`` path: one big window, deployment-sized
dimensions, ``run_batch_from_lines`` -> ``write_reports_concurrent`` ->
``write_report_idempotent``. ``backfill_small`` is the ``app backfill`` path:
several small consecutive windows in one input directory, demo-sized
dimensions, replayed through ``run_backfill`` with the idempotent sink.

The untraced unit calls exactly what ``dnsflow_clickhouse_spark.app`` calls
and nothing else: no ``clearCache`` and no ``unpersist`` anywhere. The
traced unit calls the same layers one at a time under spans, materializing
each layer's output on its own clock.
"""

from __future__ import annotations

import os
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from gen import APP_TIME, WINDOW_S, EventsInfo, Truth

REPORTS = [
    "dns_flow_qps", "dns_flow_request_type", "dns_flow_response_type",
    "dns_flow_response_code", "dns_flow_code_domain", "dns_flow_code_authority",
    "dns_flow_code_domain_client", "dns_flow_code_authority_client",
    "dns_flow_code_client_ip", "dns_flow_code_client_ip_client", "dns_flow_clear",
    "dns_flow_trend", "dns_flow_top_business", "dns_flow_top_server",
    "dns_flow_top_province", "dns_flow_top_operator", "bigdata_dns_flow_top_user",
    "dns_middle_user",
]


@dataclass
class Workload:
    name: str
    dims_size: str
    windows: int
    lines_per_window: int
    out_of_window: float
    files_per_window: int
    concurrent_sink: bool


# Sizes are set by the benchmark's time budget: every run pays a cold JVM and
# a cold first window (JIT and plan codegen, about 30 s on 4 vCPUs) before
# any warm work, and the whole suite of runs must fit in under an hour.
WORKLOADS = {
    "window_large": Workload("window_large", "deployment", 1, 50_000, 0.05, 4, True),
    "backfill_small": Workload("backfill_small", "demo", 2, 3_000, 0.0, 1, False),
}


@dataclass
class UnitResult:
    wall_s: float
    window_s: list[float]
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    persisted_rdds: list[int] = field(default_factory=list)
    cached_mb: list[float] = field(default_factory=list)
    interval: tuple[float, float] = (0.0, 0.0)  # epoch seconds, for event-log lookups


def window_starts(wl: Workload) -> list[int]:
    return [APP_TIME + w * WINDOW_S for w in range(wl.windows)]


def cache_probe(spark) -> tuple[int, float]:
    """Persisted RDD count and MB of storage memory they hold."""
    jsc = spark.sparkContext._jsc
    mem = sum(i.memSize() for i in jsc.sc().getRDDStorageInfo())
    return len(jsc.getPersistentRDDs()), mem / 2**20


def run_unit(spark, wl: Workload, input_dir: str, dims, out_dir: str) -> UnitResult:
    """One untraced unit: the windows of the workload, exactly the way the
    app drives them. Times each window from the previous window's last
    commit to its own last commit."""
    from dnsflow_clickhouse_spark.io import write_report_idempotent, write_reports_concurrent
    from dnsflow_clickhouse_spark.sources.events import parse_raw_lines
    from dnsflow_clickhouse_spark.streaming.pipeline import run_backfill, run_batch_from_lines

    res = UnitResult(0.0, [])
    last_commit: dict[int, float] = {}
    written: Counter = Counter()
    lock = threading.Lock()

    def sink(name, df, app_time):
        try:
            write_report_idempotent(df, out_dir, name, batch_id=app_time)
            failure = None
        except Exception as exc:  # counted and reported; the run goes on
            failure = f"write {name}@{app_time}: {type(exc).__name__}"
        with lock:
            res.attempted += 1
            if failure:
                res.failed += 1
                res.failures.append(failure)
            last_commit[app_time] = time.perf_counter()
            written[app_time] += 1
            window_done = written[app_time] == len(REPORTS)
        if window_done:
            n, mb = cache_probe(spark)
            res.persisted_rdds.append(n)
            res.cached_mb.append(mb)

    t0, epoch0 = time.perf_counter(), time.time()
    if wl.concurrent_sink:
        lines = spark.read.text(input_dir)
        reports = run_batch_from_lines(lines, dims, APP_TIME, deterministic=True)
        write_reports_concurrent(reports, lambda name, df: sink(name, df, APP_TIME))
    else:
        events = parse_raw_lines(spark.read.text(input_dir))
        run_backfill(spark, events, dims, APP_TIME, APP_TIME + wl.windows * WINDOW_S, sink,
                     deterministic=True)
    prev = t0
    for app_time in sorted(last_commit):
        res.window_s.append(last_commit[app_time] - prev)
        prev = last_commit[app_time]
    res.wall_s = time.perf_counter() - t0
    res.interval = (epoch0, time.time())
    return res


# --- correctness gate ---------------------------------------------------------


def _all_clients(out_dir: str, report: str, app_time: int, key: str | None):
    part = os.path.join(out_dir, report, f"batch_id={app_time}")
    t = pq.read_table(part).to_pylist()
    rows = [r for r in t if r["clientName"] == 0]
    if key is None:
        return rows
    return {r[key]: r["dnsNum"] for r in rows}


def check_windows(out_dir: str, info: EventsInfo, windows: list[int]) -> tuple[int, list[str]]:
    """Compare each window's reports against the generator's ground truth.
    Returns (checks attempted, failure messages)."""
    attempted, failures = 0, []
    for app_time in windows:
        truth: Truth = info.windows[app_time]

        def check(label, fn):
            nonlocal attempted
            attempted += 1
            try:
                got, want = fn()
            except Exception as exc:  # a missing/unreadable table is a failed check
                failures.append(f"{label}@{app_time}: {type(exc).__name__}: {exc}")
                return
            if got != want:
                failures.append(f"{label}@{app_time}: got {got} want {want}")

        def qps():
            (row,) = _all_clients(out_dir, "dns_flow_qps", app_time, None)
            return (row["dnsNum"], row["errNum"]), (truth.dns_num, truth.err_num)

        check("dns_flow_qps", qps)
        for report, key, want in (
            ("dns_flow_response_code", "responseCode", truth.response_code),
            ("dns_flow_request_type", "requestType", truth.request_type),
            ("dns_flow_top_server", "dnsIp", truth.server),
            ("dns_flow_top_province", "province", truth.province),
        ):
            check(report, lambda r=report, k=key, w=want: (
                _all_clients(out_dir, r, app_time, k), dict(w)))
        # an empty report creates its table but no batch partition
        check("all_report_tables_exist", lambda: (
            [r for r in REPORTS if not os.path.isdir(os.path.join(out_dir, r))], []))
    return attempted, failures


def output_files(out_dir: str) -> tuple[int, int]:
    """Parquet part files written under out_dir, and their bytes."""
    n = size = 0
    for root, _dirs, files in os.walk(out_dir):
        for f in files:
            if f.startswith("part-"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


# --- traced unit ----------------------------------------------------------------


def run_traced(spark, tracer, wl: Workload, input_dir: str, dims, out_dir: str) -> dict:
    """The same windows, one layer call at a time under spans. Returns
    span-derived counts that need the live context (row counts, ratios).

    It runs after the untraced unit in the same session, so it is warm:
    ``trace.overhead_s`` (traced wall minus untraced wall) understates the
    tracing cost by the untraced unit's cold-start share."""
    from pyspark.sql import functions as F

    from dnsflow_clickhouse_spark.io import write_report_idempotent, write_reports_concurrent
    from dnsflow_clickhouse_spark.operators.enrich import enrich_base
    from dnsflow_clickhouse_spark.sources.events import derive_events, parse_raw_lines
    from dnsflow_clickhouse_spark.streaming.pipeline import process_batch

    counts: Counter = Counter()
    lock = threading.Lock()
    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    t0 = time.perf_counter()
    for app_time in window_starts(wl):
        trace_id = f"{wl.name}-window-{app_time}"
        with tracer.span("streaming.pipeline.window", trace_id):
            with tracer.span("sources.events", trace_id):
                lines = spark.read.text(input_dir)
                raw = parse_raw_lines(lines)
                derived = derive_events(raw, app_time, app_time + WINDOW_S, deterministic_aip=True)
                noop(derived)
                with tracer.span("sources.events.counts", trace_id):
                    n_in = lines.count()
                    n_parsed = raw.count()
                    n_unwindowed = derive_events(raw, deterministic_aip=True).count()
                    n_out = derived.count()
                counts["rows_in"] += n_in
                counts["rows_corrupt"] += n_in - n_parsed
                counts["rows_out_of_window"] += n_unwindowed - n_out
                counts["rows_out"] += n_out
            with tracer.span("operators.enrich", trace_id):
                enriched = enrich_base(derived, dims)
                noop(enriched)
                with tracer.span("operators.enrich.counts", trace_id):
                    r = enriched.agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum((F.col("clientName") == 5).cast("long")).alias("client_default"),
                        F.sum((F.col("country") == "").cast("long")).alias("geo_miss"),
                    ).collect()[0]
                    counts["enrich_rows"] += r["n"]
                    counts["client_default"] += r["client_default"] or 0
                    counts["geo_miss"] += r["geo_miss"] or 0
                    counts["rule_rows_broadcast"] += dims.client_rules.count() + dims.geo.count()
            with tracer.span("streaming.pipeline.build", trace_id):
                reports = process_batch(parse_raw_lines(spark.read.text(input_dir)), dims,
                                        app_time, deterministic=True)
            with tracer.span("io.fanout", trace_id) as fan:

                def write_one(name, df, _app=app_time, _fan=fan, _tid=trace_id):
                    with tracer.span(f"operators.reports.{name}", _tid, parent=_fan):
                        noop(df)
                    with tracer.span("io.write", _tid, parent=_fan):
                        try:
                            write_report_idempotent(df, out_dir, name, batch_id=_app)
                        except Exception:  # counted; the run goes on
                            with lock:
                                counts["write_failures"] += 1

                if wl.concurrent_sink:
                    write_reports_concurrent(reports, write_one)
                else:
                    for name, df in reports.items():
                        write_one(name, df)
    counts["wall_s"] = time.perf_counter() - t0
    return dict(counts)


def layer_metrics(tracer, shapes: dict, stats: dict, submits: list[float], counts: dict,
                  untraced: UnitResult, info: EventsInfo, wl: Workload, out_dir: str,
                  setup: dict) -> dict[str, float]:
    """Reduce spans, job-group shapes and event-log stats to the per-layer
    metrics (values summed over the workload's windows)."""
    from spans import union_len

    m: dict[str, float] = {}
    by_name: dict[str, list] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)

    def self_sum(name):
        return sum(tracer.self_time(s) for s in by_name.get(name, []))

    m["session.start_s"] = setup["start_s"]
    m["session.warm_s"] = setup["warm_s"]
    m["sources.events.self_s"] = self_sum("sources.events")
    for k in ("rows_in", "rows_corrupt", "rows_out_of_window", "rows_out"):
        m[f"sources.events.{k}"] = counts[k]
    # rows read from the input by all jobs of the production windows, per row
    # timestamped inside a window
    prod_ids = {s.span_id for n in ("streaming.pipeline.build", "io.fanout")
                for s in by_name.get(n, [])}
    prod = [s for s in tracer.spans if s.span_id in prod_ids or s.parent in prod_ids]
    records = sum(stats[s.group].records_read for s in prod if s.group in stats)
    in_window = sum(info.per_window_lines.get(t, 0) for t in window_starts(wl))
    m["sources.events.rescan_ratio"] = records / max(1, in_window)

    enrich = by_name.get("operators.enrich", [])
    m["operators.enrich.self_s"] = self_sum("operators.enrich")
    driver = 0.0
    for s in enrich:
        busy = union_len(stats[s.group].tasks, s.start, s.end) if s.group in stats else 0.0
        driver += tracer.self_time(s) - busy
    m["operators.enrich.driver_s"] = driver
    m["operators.enrich.rule_rows_broadcast"] = counts["rule_rows_broadcast"]
    m["operators.enrich.client_default_ratio"] = counts["client_default"] / max(1, counts["enrich_rows"])
    m["operators.enrich.geo_miss_ratio"] = counts["geo_miss"] / max(1, counts["enrich_rows"])

    report_spans = [s for s in tracer.spans if s.name.startswith("operators.reports.")]
    for r in REPORTS:
        m[f"operators.reports.{r}.self_s"] = self_sum(f"operators.reports.{r}")
    for k in ("jobs", "stages", "tasks"):
        m[f"operators.reports.{k}"] = sum(shapes[s.group][k] for s in report_spans)
    report_stats = [stats[s.group] for s in report_spans if s.group in stats]
    m["operators.reports.task_s"] = sum(st.run_ms for st in report_stats) / 1000
    m["operators.reports.shuffle_write_bytes"] = sum(st.shuffle_write_bytes for st in report_stats)
    m["operators.reports.spill_bytes"] = sum(st.spill_bytes for st in report_stats)

    writes = by_name.get("io.write", [])
    m["io.write_s"] = sum(s.dur for s in writes)
    gap = 0.0
    for f in by_name.get("io.fanout", []):
        kids = [c for c in tracer.spans if c.parent == f.span_id]
        jobs = [iv for c in kids if c.group in stats for iv in stats[c.group].jobs]
        gap += f.dur - union_len(jobs, f.start, f.end)
    m["io.fanout_gap_s"] = gap
    files, size = output_files(out_dir)
    m["io.files_written"] = files
    m["io.bytes_written"] = size
    m["io.write_failures"] = counts.get("write_failures", 0)
    m["streaming.pipeline.build_s"] = self_sum("streaming.pipeline.build")

    # cache and job probes come from the untraced unit, which is the
    # production path
    m["streaming.pipeline.persisted_rdds_end"] = untraced.persisted_rdds[-1] if untraced.persisted_rdds else 0
    m["streaming.pipeline.cached_mb_end"] = untraced.cached_mb[-1] if untraced.cached_mb else 0.0
    m["streaming.pipeline.cached_mb_max"] = max(untraced.cached_mb, default=0.0)
    lo, hi = untraced.interval
    m["streaming.pipeline.jobs_per_window"] = sum(1 for t in submits if lo <= t <= hi) / wl.windows
    m["trace.overhead_s"] = counts["wall_s"] - untraced.wall_s
    return m
