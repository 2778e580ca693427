from dnsflow_clickhouse_spark.streaming.pipeline import (
    process_batch,
    run_backfill,
    run_window,
    start_stream,
)

__all__ = ["process_batch", "run_backfill", "run_window", "start_stream"]
