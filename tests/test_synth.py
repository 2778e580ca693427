"""Synthetic DNS batch input (sources/synth.py): the generator feeding
bench.py's ``dns_batch_wall`` metric must be deterministic, schema-true
and must actually exercise the enrichment paths it claims to."""

from __future__ import annotations

from pyspark.sql import functions as F

from dnsflow_clickhouse_spark import schemas as S
from dnsflow_clickhouse_spark.sources.synth import (
    SYNTH_APP_TIME,
    demo_dims,
    synthetic_raw_events,
)

SF_DIR = "/root/testdata/sf0.001"


def test_synthetic_raw_events_schema_and_determinism(spark):
    raw = synthetic_raw_events(spark, SF_DIR)
    assert [f.name for f in raw.schema.fields] == [
        f.name for f in S.RAW_EVENT_SCHEMA.fields
    ]
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert raw.count() == n_events
    # byte-for-byte deterministic: two builds hash identically (bit_xor
    # fold — a SUM of xxhash64 values overflows int64 under ANSI)
    fold = F.expr("bit_xor(xxhash64(to_json(struct(*))))")
    h1 = raw.select(fold).collect()[0][0]
    h2 = synthetic_raw_events(spark, SF_DIR).select(fold).collect()[0][0]
    assert h1 == h2


def test_synthetic_events_exercise_enrichment_paths(spark):
    raw = synthetic_raw_events(spark, SF_DIR)
    # every Timestamp inside the synthetic window
    ts = raw.agg(
        F.min("Timestamp").alias("lo"), F.max("Timestamp").alias("hi")
    ).collect()[0]
    assert SYNTH_APP_TIME <= ts.lo and ts.hi < SYNTH_APP_TIME + 300
    # value mix: user-dim clients, out-of-dim clients, auth-domain hits,
    # whitelist member, scheme-strip case, junk domain, empty answers
    counts = raw.agg(
        F.sum((F.col("ClientIP") == "10.0.0.1").cast("int")).alias("alice"),
        F.sum(F.col("ClientIP").startswith("44.").cast("int")).alias("nodim"),
        F.sum(F.col("Domain").endswith("baidu.com").cast("int")).alias("auth"),
        F.sum((F.col("Domain") == "rare.baidu.com").cast("int")).alias("wl"),
        F.sum(F.col("Domain").startswith("http://").cast("int")).alias("scheme"),
        F.sum((F.col("Domain") == "host.localdomain").cast("int")).alias("junk"),
        F.sum(F.col("Answers").isNull().cast("int")).alias("no_answers"),
        F.sum((~F.col("QR")).cast("int")).alias("requests"),
    ).collect()[0]
    for field in counts.asDict():
        assert counts[field] > 0, f"no rows exercising {field}"


def test_process_batch_runs_on_synthetic_input(spark):
    from dnsflow_clickhouse_spark.streaming.pipeline import run_window

    raw = synthetic_raw_events(spark, SF_DIR)
    rows: dict[str, int] = {}

    def sink(name, df, _app_time):
        rows[name] = df.count()

    run_window(raw, demo_dims(spark), SYNTH_APP_TIME, sink, deterministic=True)
    assert len(rows) == 18
    assert rows["dns_flow_qps"] > 0
