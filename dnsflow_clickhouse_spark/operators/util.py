"""Shared operator plumbing."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Target bytes of input per task for CPU-bound stages. Deliberately far
# below spark.sql.files.maxPartitionBytes / AQE's advisory size (both
# ~64-128 MB, tuned for I/O-bound scans): CPU-bound stages (interpreted
# higher-order expressions, Arrow/pandas kernels) carry seconds of work
# per MB of text, so partitions must be much smaller than an I/O
# scheduler would pick.  1 MiB keeps tasks well above scheduling
# overhead (~10 ms) while a small corpus still fans out.
CPU_TARGET_PARTITION_BYTES = 1 << 20

# Parallelism floor for CPU stages: even a tiny input gets a few tasks
# (the work per byte is what AQE's byte-based model cannot see).
MIN_CPU_PARALLELISM = 8


def est_input_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the frame's optimized plan.

    Plan-build-time only (no job). For scan-rooted plans this is the
    file size (times ``spark.sql.sources.fileCompressionFactor``), which
    is the honest proxy available before execution; join/agg-rooted
    plans can overestimate wildly, which is safe here because every
    caller CLAMPS the derived partition count to the session width.
    """
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def cpu_repartition(df: DataFrame, *cols: Column | str) -> DataFrame:
    """Repartition for a CPU-bound downstream stage (interpreted
    higher-order expressions, Arrow/pandas kernels) with an EXPLICIT,
    size-derived partition count.

    ``df.repartition(F.col(...))`` without a count is advisory: AQE
    coalesces it by shuffle BYTE size (advisoryPartitionSizeInBytes),
    which is the right call for I/O-bound stages but starves CPU-bound
    ones — a few MB of text can carry seconds of per-row signature
    work, and AQE will happily fold it onto 2-3 tasks. An explicit
    count is exempt from AQE coalescing.

    The count adapts to the input: ``clamp(est_bytes / 1 MiB,
    MIN_CPU_PARALLELISM, session width)``.  Small corpora no longer pay
    session-width task overhead on every barrier (round 2 shipped an
    unconditional full-width shuffle and taxed the whole catalog ~1.7x
    at sf0.1), while at cluster scale the estimate saturates the clamp
    and the behavior is exactly the session-width shuffle the 100 TB
    plan wants.
    """
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    floor = min(MIN_CPU_PARALLELISM, width)
    try:
        est = est_input_bytes(df)
    except Exception:  # defensive: stats unavailable -> full width
        est = None
    n = width if est is None else max(floor, min(width, est // CPU_TARGET_PARTITION_BYTES))
    exprs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return df.repartition(n, *exprs)


# Persist only pays when the subtree it deduplicates is expensive at the
# current data size; below this input estimate, recomputing the subtree
# is cheaper than materializing it (measured: round 2's unconditional
# persist in curation_funnel cost 6.5x at sf0.1 while saving one pass
# over ~650 KB of text).
PERSIST_MIN_INPUT_BYTES = 256 << 20


def maybe_persist(df: DataFrame, source: DataFrame | None = None):
    """Persist ``df`` (MEMORY_AND_DISK) only when its input is big
    enough that recomputing the subtree per consumer would dominate the
    materialization cost.  ``source`` (default: ``df`` itself) is the
    frame whose Catalyst size estimate gates the decision — pass the
    scan-rooted source when ``df`` sits above joins/aggregates whose
    stats are unreliable.  Returns ``df`` (possibly persisted); callers
    at cluster scale get the persist, local test scales skip it.
    """
    from pyspark import StorageLevel

    try:
        est = est_input_bytes(source if source is not None else df)
    except Exception:
        est = PERSIST_MIN_INPUT_BYTES  # defensive: unknown -> persist
    if est >= PERSIST_MIN_INPUT_BYTES:
        return df.persist(StorageLevel.MEMORY_AND_DISK)
    return df


def barrier(df: DataFrame) -> DataFrame:
    """The package's one lineage barrier: truncate ``df``'s plan so
    every consumer reads its materialized rows instead of re-running
    the upstream pipeline (fixpoint loops, Generate inputs, frames read
    by several joins or by a separate audit job).

    Default mode: ``localCheckpoint(eager=False)``. Lazy, because the
    truncation happens at plan-build time either way; an eager barrier
    only adds one blocking job (a scheduler round-trip) per call, which
    at small scale was a fixed-cost tax on the whole catalog. The first
    action that reads the frame materializes it, and the blocks persist
    for every later consumer. Executor-local blocks do not survive the
    loss of an executor: a long loop on a large cluster can outlive
    the executors' MTBF, and a lost block fails the job.

    Reliable mode: when the session has Spark's own
    ``spark.checkpoint.dir`` (``--conf spark.checkpoint.dir=D`` at
    submit, which also sets the SparkContext's checkpoint directory),
    every barrier is ``checkpoint(eager=True)`` written to that (DFS)
    directory and survives executor loss. Eager, because durability
    requires the write to finish before the barrier is passed. The
    mode is chosen once per deployment, never per call site.
    """
    if df.sparkSession.conf.get("spark.checkpoint.dir", None):
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=False)


class _ClosureBroadcast:
    """Connect fallback for ``SparkContext.broadcast``: same ``.value``
    surface, but the payload rides each task's serialized closure
    (cloudpickle) instead of the torrent-style once-per-executor
    broadcast. Correct everywhere; at real scale prefer a classic
    session where the py4j broadcast exists (the payloads here are the
    CAPPED query-side matrices, a few MB by construction)."""

    __slots__ = ("value",)

    def __init__(self, value) -> None:
        self.value = value


def spark_broadcast(spark, value):
    """``sc.broadcast(value)`` when a py4j SparkContext exists (classic
    session), else a plain closure-captured holder with the same
    ``.value`` shape (Spark Connect has no broadcast API). ONLY the
    gateway-absent errors degrade — a broadcast that fails for a real
    reason on a classic session (pickle failure, oversized payload,
    driver pressure) must surface, not silently re-ship per task."""
    try:
        from pyspark.errors import PySparkNotImplementedError

        no_gateway: tuple = (AttributeError, PySparkNotImplementedError)
    except ImportError:  # pragma: no cover - errors module always ships
        no_gateway = (AttributeError,)
    try:
        sc = spark.sparkContext
    except no_gateway:
        return _ClosureBroadcast(value)
    return sc.broadcast(value)
