"""Deterministic sampling operators (engine extension for training-data
pipelines): hash-gated Bernoulli, stratified, and per-key reservoir
sampling.

Why hash-gated instead of ``rand()``: Spark seeds ``rand()`` per
partition, so the sample changes whenever the partitioning does, and no
external engine can replay it. Gating on a stable content key makes the
sample a *pure function of the data*: reproducible across runs, cluster
sizes and engines (the DuckDB oracles replay ``poly_hash``), and stable
under incremental reruns — a row's membership never depends on which
other rows are present. That last property is what training pipelines
need for consistent train/holdout splits as a corpus grows.

Scale shape: Bernoulli/stratified sampling is a pure filter — no
shuffle, fully pushed into the scan stage; the reference's analogue is
its per-record sampled `aip` pick (DnsRptCH.scala:950), made
deterministic here per SURVEY §7.4. Per-key reservoir sampling is one
window shuffle on the key (same plan family as grouped top-K,
SURVEY §2.6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.functions.textfn import POLY_MOD, poly_hash

PPM = 1_000_000
# Knuth-style multiplicative mix: a short id string's polynomial hash is
# bounded by 31^len(str) — tiny for small ids — which would put every
# small-id row under any ppm gate. One multiply-mod round spreads those
# low hashes across the full modulus. MIX * (POLY_MOD-1) < 2^63.
MIX_MULT = 2_654_435_761


def sample_key(id_col: Column | str, seed: int = 0) -> Column:
    """Deterministic bucket in [0, 1e6) from the row id: the portable
    polynomial hash of the id's decimal string, multiplicatively mixed so
    short strings still spread uniformly. Engine-replayable (unlike
    xxhash64)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = poly_hash(c.cast("string"), seed=seed)
    return (h * F.lit(MIX_MULT)) % F.lit(POLY_MOD) % F.lit(PPM)


def hash_sample(
    df: DataFrame, id_col: str, rate: float, seed: int = 0
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose hash bucket falls
    below ``rate`` (ppm resolution). A pure filter — no shuffle."""
    return df.filter(sample_key(id_col, seed) < int(round(rate * PPM)))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    id_col: str,
    default_rate: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling rates (e.g. rebalance languages
    in a corpus). The rate table is inherently tiny, so it rides along as
    a broadcast join — never a driver-side closure capture (SURVEY §2.1
    S5's rebuild rule)."""
    spark = df.sparkSession
    rate_rows = [(k, int(round(v * PPM))) for k, v in sorted(rates.items())]
    rates_df = spark.createDataFrame(rate_rows, f"{strata_col} string, __ppm int")
    return (
        df.join(F.broadcast(rates_df), strata_col, "left")
        .withColumn("__ppm", F.coalesce("__ppm", F.lit(int(round(default_rate * PPM)))))
        .filter(sample_key(id_col, seed) < F.col("__ppm"))
        .drop("__ppm")
    )


def per_key_sample(
    df: DataFrame, key_col: str, id_col: str, k: int, seed: int = 0
) -> DataFrame:
    """Deterministic size-``k`` uniform sample per key ("reservoir
    sampling" with a replayable reservoir): rank rows inside each key by
    their hash bucket and keep the ``k`` smallest. One window shuffle on
    the key; ties broken by id so the ordering is total."""
    w = Window.partitionBy(key_col).orderBy(
        sample_key(id_col, seed), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def group_split(
    df: DataFrame,
    group_col: str,
    weights: dict[str, float],
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Leakage-free train/val/test assignment: every row of a group
    (user, session, document cluster) lands in the SAME split, because
    the assignment is a pure function of the group key's hash — the
    standard guard against train/test contamination when correlated
    rows (a user's events, a document's chunks) would otherwise straddle
    splits. Pure map-side expression: no shuffle, no state, replayable
    on any engine via the portable hash.

    ``weights`` must sum to 1 (ppm rounding absorbed by the last split).
    """
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights must sum to 1, got {total}")
    if len(weights) < 2:
        raise ValueError("need at least two splits")
    bucket = sample_key(group_col, seed)
    names = list(weights)
    expr = None
    cum = 0
    for name in names[:-1]:
        cum += int(round(weights[name] * PPM))
        expr = (F.when if expr is None else expr.when)(bucket < cum, name)
    return df.withColumn(split_col, expr.otherwise(names[-1]))


def global_positions(
    df: DataFrame,
    order_cols: list[Column | str],
    pos_col: str = "pos",
    n_parts: int | None = None,
) -> DataFrame:
    """Scale-safe global row numbering by ``order_cols`` (a total order —
    include a unique tiebreaker).

    ``row_number().over(Window.orderBy(...))`` moves the ENTIRE dataset
    through one partition — the classic global-window scale bug. This is
    the distributed equivalent: range-repartition by the order key
    (Spark's sampled range exchange), rank locally inside each range
    partition, then add per-partition offsets computed from a
    partition-count aggregate that is only ``n_parts`` rows (its own
    prefix-sum window is over those few rows, then broadcast back).

    The ranged frame sits behind a lineage barrier because the rank and
    offset branches must see the SAME sampled range boundaries;
    recomputing the range exchange per branch could legally resample.
    Both branches read its one materialization, and nothing stays in
    the session's DataFrame cache afterwards. State held: the order key
    columns only.

    The default partition count adapts to the input estimate (16 MiB
    per range partition, clamped to the session width) — a small frame
    doesn't pay a full-width exchange, a 100 TB one saturates the clamp.
    ``pos`` is a long: at the 100 TB design point row counts pass 2^31,
    where an int position would silently wrap.
    """
    from dnsflow_clickhouse_spark.operators.util import barrier, est_input_bytes

    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    if n_parts:
        n = n_parts
    else:
        try:
            est = est_input_bytes(df)
        except Exception:
            est = None
        n = width if est is None else max(min(8, width), min(width, est >> 24))
    ranged = barrier(
        df.repartitionByRange(n, *cols).withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    # offsets: n_parts rows — the unpartitioned prefix-sum window here is
    # over the tiny aggregate, not the data
    off_w = (
        Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        ranged.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__off", F.coalesce(F.sum("__n").over(off_w), F.lit(0)))
        .select("__pid", "__off")
    )
    local_w = Window.partitionBy("__pid").orderBy(*cols)
    return (
        ranged.withColumn("__rn", F.row_number().over(local_w))
        .join(F.broadcast(offsets), "__pid")
        .withColumn(pos_col, (F.col("__off") + F.col("__rn")).cast("long"))
        .drop("__pid", "__rn", "__off")
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    weight_col: str,
    k: int,
    seed: int = 0,
    priority_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k per group
    (Efraimidis-Spirakis A-ES): each row draws u = (sample_key(id)+1)/1e6
    in (0, 1] and is ranked by key = u^(1/w); the k largest keys win, so
    a row's selection probability is proportional to its weight — the
    importance-weighted subsampling step of a curation pipeline (e.g.
    quality-score-weighted downsampling), reproducible across engines,
    cluster sizes and reruns because u is a pure function of the id.

    Ranking detail: log2(key) = log2(u)/w is order-equivalent to the
    key itself and needs no pow(); log2(u) is TERM-QUANTIZED to integer
    micros (the operators/lm.py discipline) and the single division
    ``quant_micro / w`` is one IEEE double op — bit-identical in any
    engine, no float accumulation. Ties (same quantized priority) break
    by id ascending. Rows with weight <= 0 or NULL are excluded (their
    ES key is 0 — never sampled).

    Plan shape: one window shuffle on the group key (the grouped top-K
    family, SURVEY §2.6); the priority is a pure map-side expression.
    """
    w = F.col(weight_col).cast("double")
    u_ppm = (sample_key(id_col, seed) + 1).cast("double")
    # micro-quantized log2(u): floor(log2(u_ppm/1e6) * 1e6 + 0.5) <= 0
    q = F.floor(F.log2(u_ppm / F.lit(float(PPM))) * PPM + F.lit(0.5)).cast(
        "long"
    )
    prio = q.cast("double") / w
    win = Window.partitionBy(*group_cols).orderBy(
        F.desc("__prio"), F.asc(id_col)
    )
    out = (
        df.filter(F.col(weight_col).isNotNull() & (w > 0))
        .withColumn("__prio", prio)
        .withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") <= k)
    )
    if priority_col is not None:
        out = out.withColumn(priority_col, F.col("__prio"))
    return out.drop("__prio", "__rn")


def _cutpoint_row(df: DataFrame, value_col: str, k: int) -> DataFrame:
    """ONE row of k-1 quantile cutpoints for ``value_col``: cut_j = the
    smallest value whose cumulative count reaches ceil(j*n/k) (the
    discrete ceil(q*n)-th element, integer-exact — the same portability
    recipe as event_value_percentiles). Computed on the (value, count)
    HISTOGRAM: the window walks distinct values, never rows."""
    hist = df.groupBy(F.col(value_col).alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = hist.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(w_all)
    )
    aggs = []
    for j in range(1, k):
        # ceil(j*n/k) in pure integers: (j*n + k - 1) div k
        tgt = F.expr(f"({j} * n + {k - 1}) div {k}")
        aggs.append(
            F.min(F.when(F.col("cum") >= tgt, F.col("v"))).alias(f"c{j}")
        )
    return c.agg(*aggs)


def curriculum_buckets(
    df: DataFrame,
    quality_col: str,
    length_col: str,
    weight_col: str,
    n_q: int = 5,
    n_len: int = 3,
) -> DataFrame:
    """Curriculum schedule report: quality quintile x length tercile
    buckets with a deterministic training phase order (highest-quality,
    shortest-first — the standard easy-to-hard curriculum; Bengio 2009).
    Buckets cut by VALUE at discrete quantile cutpoints, so ties stay
    together (reproducible across engines and runs, unlike ntile's
    row-position splits) and the assignment is a pure map-side
    expression once the k-1 cutpoints are known.

    Scale shape: two histogram-sized cutpoint jobs (distinct values,
    never rows), then one crossJoin of the data against TWO single-row
    cutpoint frames (broadcast by construction) and one hash aggregate.

    Output per bucket: (phase, q_bucket, len_bucket, n_docs,
    total_weight, min_quality, max_quality), ordered by phase.
    """
    qcuts = _cutpoint_row(df, quality_col, n_q)
    lcuts = _cutpoint_row(df, length_col, n_len)
    lc = lcuts.select(*[F.col(c).alias(f"l{c}") for c in lcuts.columns])
    both = df.crossJoin(F.broadcast(qcuts)).crossJoin(F.broadcast(lc))
    qb = F.lit(1)
    for j in range(1, n_q):
        qb = qb + (F.col(quality_col) > F.col(f"c{j}")).cast("int")
    lb = F.lit(1)
    for j in range(1, n_len):
        lb = lb + (F.col(length_col) > F.col(f"lc{j}")).cast("int")
    tagged = both.withColumn("q_bucket", qb.cast("long")).withColumn(
        "len_bucket", lb.cast("long")
    )
    phase = (
        (F.lit(n_q) - F.col("q_bucket")) * F.lit(n_len)
        + F.col("len_bucket")
    ).cast("long")
    return (
        tagged.groupBy("q_bucket", "len_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(weight_col).cast("long").alias("total_weight"),
            F.min(quality_col).alias("min_quality"),
            F.max(quality_col).alias("max_quality"),
        )
        .withColumn("phase", phase)
        .select(
            "phase", "q_bucket", "len_bucket", "n_docs",
            "total_weight", "min_quality", "max_quality",
        )
        .orderBy("phase")
    )


def shard_balance(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    weight: Column | str | None = None,
    seed: int = 0,
) -> DataFrame:
    """Balance audit for a deterministic hash sharding: per shard, the
    row count and (optional) weight mass, plus each shard's skew vs the
    ideal even split in exact ppm — the pre-flight check before a
    sharded export (a 100 TB job whose largest shard is 2× the mean
    finishes when that straggler does). One map-side-combinable
    aggregate on the shard key."""
    w = (
        F.lit(1)
        if weight is None
        else (F.col(weight) if isinstance(weight, str) else weight)
    )
    shards = df.select(
        (sample_key(id_col, seed) % F.lit(n_shards)).alias("shard"),
        w.cast("long").alias("__w"),
    )
    agg = shards.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("__w").alias("mass"),
    )
    tot = Window.partitionBy()
    return (
        agg.withColumn("total_mass", F.sum("mass").over(tot))
        .select(
            F.col("shard").cast("int").alias("shard"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("mass").cast("long").alias("mass"),
            # shard's share of mass vs the even split, in ppm of ideal:
            # 1e6 = perfectly even, 2e6 = double-loaded straggler.
            # decimal(38,0) widening: mass*1e6*shards overflows int64
            # once per-corpus mass passes ~1e12 (true 100 TB token mass)
            F.expr(
                f"(CAST(mass AS DECIMAL(38,0)) * 1000000 * {n_shards})"
                " div total_mass"
            )
            .cast("long")
            .alias("load_ppm"),
        )
        .orderBy("shard")
    )


def distribution_match(
    df: DataFrame,
    group_col: str,
    bucket: Column,
    id_col: str,
    ref_group: str,
    seed: int = 0,
) -> DataFrame:
    """Distribution-matching rejection sampler: downsample every group
    so its BUCKET profile matches the reference group's (the curation
    move when a new crawl's length/quality profile must match the
    corpus it joins). Per (group, bucket) the acceptance probability is
    min(1, target_share / actual_share) — computed exactly in ppm with
    decimal(38,0) widening — and applied as the deterministic portable
    hash gate, so the sample is replayable on any engine.

    Scale shape: two (group, bucket) count aggregates (tiny grain), a
    broadcast of the acceptance table, and a map-side filter — the
    fact table is scanned once and never shuffled.

    Output: per (group, bucket) — original count, acceptance ppm, and
    the count actually kept by the hash gate."""
    tagged = df.select(
        F.col(group_col).alias("g"),
        bucket.cast("long").alias("b"),
        F.col(id_col).alias("id"),
    )
    counts = tagged.groupBy("g", "b").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.groupBy("g").agg(F.sum("cnt").alias("tot"))
    ref = (
        counts.join(totals, "g")
        .filter(F.col("g") == ref_group)
        .select(
            F.col("b"),
            F.col("cnt").alias("ref_cnt"),
            F.col("tot").alias("ref_tot"),
        )
    )
    accept = (
        counts.join(totals, "g")
        .join(F.broadcast(ref), "b", "left")
        .select(
            "g",
            "b",
            "cnt",
            F.when(
                F.col("ref_cnt").isNotNull(),
                F.least(
                    F.lit(1_000_000).cast("long"),
                    F.expr(
                        "CAST((CAST(ref_cnt AS DECIMAL(38,0)) * tot * 1000000)"
                        " div (CAST(ref_tot AS DECIMAL(38,0)) * cnt) AS BIGINT)"
                    ),
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("accept_ppm"),
        )
    )
    kept = (
        tagged.join(F.broadcast(accept.select("g", "b", "accept_ppm")), ["g", "b"])
        .filter(sample_key("id", seed) < F.col("accept_ppm"))
        .groupBy("g", "b")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        accept.join(kept, ["g", "b"], "left")
        .select(
            F.col("g").alias(group_col),
            F.col("b").alias("bucket"),
            F.col("cnt").cast("long").alias("n"),
            "accept_ppm",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )
