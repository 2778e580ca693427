"""Sketch query batch: deterministic HyperLogLog distinct estimation
(with a merge-losslessness demonstration), Count-Min heavy-hitter
estimation over the events table, and Bloom-filter membership gating
over the documents table.

Both oracles replay the engine's portable polynomial hash and exact
dyadic float algebra (operators/sketches.py documents why every
intermediate is bit-identical across IEEE engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.operators.sketches import (
    CMS_DEPTH,
    CMS_WIDTH,
    HLL_M,
    cms_estimate,
    cms_sketch,
    hll_estimate,
    hll_merge,
    hll_registers,
)
from dnsflow_clickhouse_spark.queries.catalog_mlops import _sql_poly
from dnsflow_clickhouse_spark.operators.util import barrier
from dnsflow_clickhouse_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------


def _sql_mixed(expr: str, seed: int = 0) -> str:
    """Mixed polynomial hash in [0, POLY_MOD) — operators.sketches
    ``_mixed_hash`` replay."""
    return f"(({_sql_poly(expr, seed)}) * 2654435761) % 1000000007"


def _sql_hll_rank(word: str) -> str:
    """25 - bitlength(word), 25 for the zero word (sketches.hll_rank)."""
    return f"CASE WHEN {word} = 0 THEN 25 ELSE 25 - length(bin({word})) END"


# alpha_64 * m^2 / (absent + sum 2^-rank); exact-dyadic — see sketches.py
_SQL_HLL_EST = (
    f"CAST(round(CAST(0.709 AS DOUBLE) * {HLL_M * HLL_M} / "
    f"(({HLL_M} - count(*)) + sum(CAST(1.0 AS DOUBLE) / (1 << mr)))) AS BIGINT)"
)


def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: exact distinct users vs the HLL-sketch estimate,
    computed twice — one pass over the whole table, and per-day register
    tables merged afterwards. ``est_hll == est_merged`` on every row is
    the algebraic-mergeability property made visible in the output: the
    incremental rollup (union of daily sketch states, no history rescan)
    loses nothing vs the full scan. regs_hit is the occupied-register
    count (the sketch's whole state is <= 64 rows per key)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.to_date("ts").alias("day")
    )
    regs = hll_registers(ev, ["event_type"], "user_id")
    single = hll_estimate(regs, ["event_type"]).select(
        "event_type", "regs_hit", F.col("est_distinct").alias("est_hll")
    )
    daily = hll_registers(ev, ["event_type", "day"], "user_id")
    merged = hll_estimate(hll_merge(daily, ["event_type"]), ["event_type"]).select(
        "event_type", F.col("est_distinct").alias("est_merged")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return (
        exact.join(single, "event_type")
        .join(merged, "event_type")
        .select("event_type", "n_exact", "regs_hit", "est_hll", "est_merged")
        .orderBy("event_type")
    )


_HLL_SQL = f"""
WITH h AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         {_sql_mixed('CAST(user_id AS VARCHAR)')} AS hv
  FROM events
),
hw AS (SELECT event_type, day, hv % {HLL_M} AS reg, hv // {HLL_M} AS w FROM h),
r1 AS (SELECT event_type, reg, max({_sql_hll_rank('w')}) AS mr
       FROM hw GROUP BY 1, 2),
e1 AS (SELECT event_type, count(*) AS regs_hit, {_SQL_HLL_EST} AS est_hll
       FROM r1 GROUP BY 1),
rd AS (SELECT event_type, day, reg, max({_sql_hll_rank('w')}) AS mr
       FROM hw GROUP BY 1, 2, 3),
rm AS (SELECT event_type, reg, max(mr) AS mr FROM rd GROUP BY 1, 2),
e2 AS (SELECT event_type, {_SQL_HLL_EST} AS est_merged FROM rm GROUP BY 1),
x AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
      FROM events GROUP BY 1)
SELECT x.event_type, x.n_exact, e1.regs_hit, e1.est_hll, e2.est_merged
FROM x JOIN e1 USING (event_type) JOIN e2 USING (event_type)
ORDER BY event_type
"""


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters: the 10 most frequent users with their
    exact counts and the sketch's point estimate. ``est_count >=
    n_exact`` always (collisions only inflate); ``overcount`` makes the
    sketch error visible. The sketch is depth x width = 3x1024 counters
    built in one pass — at 100 TB the sketch, not the data, is what a
    monitoring rollup stores and merges. The near-uniform synthetic
    events are CMS's worst case (error is ~total_count/width, which
    dwarfs uniform per-item counts); on the skewed streams the sketch is
    built for, the same counters pin heavy hitters tightly."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    sketch = cms_sketch(ev, "user_id")
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), "user_id")
        .limit(10)
    )
    return (
        cms_estimate(sketch, top.select("user_id"), "user_id")
        .join(top, "user_id")
        .select(
            "user_id",
            "n_exact",
            "est_count",
            (F.col("est_count") - F.col("n_exact")).alias("overcount"),
        )
        .orderBy(F.desc("n_exact"), "user_id")
    )


def _sql_cms() -> str:
    probes = " UNION ALL ".join(
        f"SELECT {r} AS row, ({_sql_mixed('CAST(user_id AS VARCHAR)', r + 1)})"
        f" % {CMS_WIDTH} AS bucket, user_id FROM top"
        for r in range(CMS_DEPTH)
    )
    counters = " UNION ALL ".join(
        f"SELECT {r} AS row, ({_sql_mixed('CAST(user_id AS VARCHAR)', r + 1)})"
        f" % {CMS_WIDTH} AS bucket, count(*) AS cnt FROM events GROUP BY 2"
        for r in range(CMS_DEPTH)
    )
    return f"""
WITH top AS (
  SELECT user_id, count(*) AS n_exact FROM events
  GROUP BY 1 ORDER BY n_exact DESC, user_id LIMIT 10
),
sketch AS ({counters}),
probes AS ({probes}),
est AS (
  SELECT p.user_id, min(s.cnt) AS est_count
  FROM probes p JOIN sketch s USING (row, bucket) GROUP BY 1
)
SELECT t.user_id, t.n_exact, e.est_count,
       e.est_count - t.n_exact AS overcount
FROM top t JOIN est e USING (user_id)
ORDER BY t.n_exact DESC, t.user_id
"""


def bloom_membership_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership gating, the join-free decontamination
    primitive: build the filter over a reference slice (doc_id % 10 == 0
    plays the benchmark/already-ingested set), probe every other
    document map-side, and report per language how many probes the
    filter flags vs exact membership — ``n_false_pos`` makes the FP set
    visible (false negatives are impossible; the oracle replays the
    identical bit math, FPs included). At 100 TB the filter is a few KB
    broadcast and the fact table never shuffles; the exact-membership
    join here exists only to exhibit the FP bound."""
    from dnsflow_clickhouse_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    d = load_table(spark, sf_dir, "documents")
    ref = d.filter(F.col("doc_id") % 10 == 0).select("text")
    bloom = bloom_build(ref, "text")
    probes = d.filter(F.col("doc_id") % 10 != 0).select("doc_id", "lang", "text")
    flagged = bloom_probe(bloom, probes, "text")
    ref_texts = ref.distinct().withColumnRenamed("text", "__rt")
    with_exact = flagged.join(
        F.broadcast(ref_texts), flagged["text"] == F.col("__rt"), "left"
    ).select(
        "lang",
        "maybe_present",
        F.col("__rt").isNotNull().cast("int").alias("exact_dup"),
    )
    return (
        with_exact.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_probed"),
            F.sum("maybe_present").alias("n_flagged"),
            F.sum("exact_dup").alias("n_exact"),
            F.sum(F.col("maybe_present") - F.col("exact_dup")).alias(
                "n_false_pos"
            ),
        )
        .orderBy("lang")
    )


def _sql_bloom() -> str:
    from dnsflow_clickhouse_spark.operators.sketches import (
        BLOOM_BITS,
        BLOOM_K,
        BLOOM_WORD_BITS,
    )

    build_pos = " UNION ALL ".join(
        f"SELECT ({_sql_mixed('text', r + 1)}) % {BLOOM_BITS} AS pos FROM ref"
        for r in range(BLOOM_K)
    )
    probe_pos = " UNION ALL ".join(
        f"SELECT doc_id, lang, text,"
        f" ({_sql_mixed('text', r + 1)}) % {BLOOM_BITS} AS pos FROM probes"
        for r in range(BLOOM_K)
    )
    return f"""
WITH ref AS (SELECT text FROM documents WHERE doc_id % 10 = 0),
bp AS ({build_pos}),
words AS (
  SELECT CAST(pos // {BLOOM_WORD_BITS} AS INT) AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % {BLOOM_WORD_BITS} AS INT)) AS word
  FROM bp GROUP BY 1
),
probes AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 <> 0),
pp AS ({probe_pos}),
ph AS (
  SELECT doc_id, lang, text,
         CAST(pos // {BLOOM_WORD_BITS} AS INT) AS word_idx,
         CAST(1 AS BIGINT) << CAST(pos % {BLOOM_WORD_BITS} AS INT) AS mask
  FROM pp
),
hits AS (
  SELECT doc_id, lang, text,
         min(CASE WHEN (COALESCE(w.word, 0) & ph.mask) = ph.mask
                  THEN 1 ELSE 0 END) AS maybe_present
  FROM ph LEFT JOIN words w USING (word_idx)
  GROUP BY 1, 2, 3
),
ex AS (
  SELECT h.lang, h.maybe_present,
         CASE WHEN EXISTS (SELECT 1 FROM ref r WHERE r.text = h.text)
              THEN 1 ELSE 0 END AS exact_dup
  FROM hits h
)
SELECT lang, count(*) AS n_probed,
       CAST(sum(maybe_present) AS BIGINT) AS n_flagged,
       CAST(sum(exact_dup) AS BIGINT) AS n_exact,
       CAST(sum(maybe_present - exact_dup) AS BIGINT) AS n_false_pos
FROM ex GROUP BY lang ORDER BY lang
"""


def quantile_sketch_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile-histogram sketch (HDR-histogram bucketing,
    integer-only): per event type, p50/p90/p99 of the value micro-units
    answered from (a) a single-pass sketch and (b) per-day sketch states
    merged afterwards — ``est_single == est_merged`` on every row is the
    algebraic-mergeability proof, same pattern as hll_distinct_users.
    ``exact_micro`` (full per-key rank) makes the <= 2^-5 relative error
    bound visible. At 100 TB the sketch state (dozens of rows per key,
    growing with log(max), not volume) is what a monitoring rollup
    stores; the exact column is the toy-scale reference only."""
    from dnsflow_clickhouse_spark.operators.sketches import (
        qh_merge,
        qh_quantiles,
        qh_sketch,
    )

    qs = [500_000, 900_000, 990_000]
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 1_000_000).cast("long").alias("micro"),
    )
    single = qh_quantiles(
        qh_sketch(ev, ["event_type"], "micro"), ["event_type"], qs
    ).withColumnRenamed("value_floor", "est_single")
    daily = qh_sketch(ev, ["event_type", "day"], "micro")
    merged = qh_quantiles(
        qh_merge(daily, ["event_type"]), ["event_type"], qs
    ).withColumnRenamed("value_floor", "est_merged")
    w = Window.partitionBy("event_type").orderBy("micro")
    n = Window.partitionBy("event_type")
    ranked = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(n)
    )
    exact = (
        ranked.select(
            "event_type",
            "micro",
            "rn",
            "n",
            F.explode(F.array(*[F.lit(q) for q in qs])).alias("q_ppm"),
        )
        .filter(
            F.col("rn")
            == ((F.col("q_ppm") * F.col("n") + F.lit(999_999)) / F.lit(1_000_000)).cast(
                "long"
            )
        )
        .select("event_type", "q_ppm", F.col("micro").alias("exact_micro"))
    )
    return (
        single.join(merged, ["event_type", "q_ppm"])
        .join(exact, ["event_type", "q_ppm"])
        .orderBy("event_type", "q_ppm")
    )


# HDR bucket replay: shift = max(bitlen - 6, 0); id = shift*32 + (v >> shift)
_SQL_QH_BUCKET = (
    "CASE WHEN micro = 0 THEN 0"
    " ELSE (greatest(length(bin(micro)) - 6, 0) * 32)"
    "      + (micro >> greatest(length(bin(micro)) - 6, 0)) END"
)
# bucket lower bound: exact below 64, else sub << shift
_SQL_QH_FLOOR = (
    "CASE WHEN bucket_id < 64 THEN bucket_id"
    " ELSE (bucket_id - ((bucket_id // 32 - 1) * 32)) << (bucket_id // 32 - 1) END"
)


def _sql_qh_pick(state: str, out: str) -> str:
    """Cumulative-count rank pick + floor over a (event_type, bucket_id,
    cnt) state CTE."""
    return f"""
c_{out} AS (
  SELECT event_type, bucket_id,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket_id) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM {state}
),
p_{out} AS (
  SELECT event_type, q_ppm, min(bucket_id) AS bucket_id
  FROM c_{out} JOIN qs ON cum >= (q_ppm * n + 999999) // 1000000
  GROUP BY 1, 2
),
f_{out} AS (
  SELECT event_type, q_ppm, CAST({_SQL_QH_FLOOR} AS BIGINT) AS {out}
  FROM p_{out}
)"""


_QH_SQL = f"""
WITH e AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(round(value * 1000000) AS BIGINT) AS micro
  FROM events
),
qs(q_ppm) AS (VALUES (500000), (900000), (990000)),
b AS (SELECT event_type, day, {_SQL_QH_BUCKET} AS bucket_id FROM e),
s1 AS (SELECT event_type, bucket_id, count(*) AS cnt FROM b GROUP BY 1, 2),
sd AS (SELECT event_type, day, bucket_id, count(*) AS cnt FROM b GROUP BY 1, 2, 3),
sm AS (SELECT event_type, bucket_id, sum(cnt) AS cnt FROM sd GROUP BY 1, 2),
{_sql_qh_pick('s1', 'est_single')},
{_sql_qh_pick('sm', 'est_merged')},
r AS (
  SELECT event_type, micro,
         row_number() OVER (PARTITION BY event_type ORDER BY micro) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM e
),
ex AS (
  SELECT event_type, q_ppm, micro AS exact_micro
  FROM r JOIN qs ON rn = (q_ppm * n + 999999) // 1000000
)
SELECT f_est_single.event_type, f_est_single.q_ppm,
       est_single, est_merged, exact_micro
FROM f_est_single
JOIN f_est_merged USING (event_type, q_ppm)
JOIN ex USING (event_type, q_ppm)
ORDER BY event_type, q_ppm
"""




def kmv_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-vocabulary overlap between two corpus halves (even vs
    odd doc_id) via the KMV/theta sketch, with the exact answers beside
    the estimates.

    This is the sketch family's SET-ALGEBRA member: HLL counts
    distincts but cannot intersect; the KMV states here estimate
    distinct intersection / union / Jaccard between corpora from two
    ~k-row samples — the shape a 100 TB train-vs-benchmark
    contamination check at the distinct-token level needs (the corpora
    themselves are never joined; each is scanned once to build its
    sketch). The halves share most vocabulary by construction, so the
    estimates land near the exact values while the theta threshold is
    genuinely exercised: items are token TRIGRAMS (the decontamination
    granularity), ~10k distinct per side at sf0.01 — far past k=256, so
    both sketches run in the estimator regime, not the exhaustive
    small-set shortcut."""
    from dnsflow_clickhouse_spark.functions.textfn import tokens
    from dnsflow_clickhouse_spark.operators.dedup import ngrams_from_tokens
    from dnsflow_clickhouse_spark.operators.sketches import (
        KMV_K,
        kmv_estimate,
        kmv_set_estimates,
        kmv_sketch,
    )

    from dnsflow_clickhouse_spark.operators.util import cpu_repartition

    # cpu_repartition before the explode: the trigram expansion is the
    # CPU-heavy stage and the documents table arrives as one small file
    # locally (one input partition = one core; measured 12.7s -> ~1s).
    docs = cpu_repartition(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    # Stage the token array in its own projection before the gram
    # expansion: ``token_ngrams`` inlines ``tokens(text)`` ~6x per row
    # (size + 3 element_at + fallbacks) and CollapseProject keeps the
    # stage because split() is non-cheap — one tokenization per row
    # instead of six (measured 2.3s -> 0.9s for the explode at sf0.1).
    toks = docs.select(
        (F.col("doc_id") % 2).alias("side"),
        tokens(F.lower(F.col("text"))).alias("__toks"),
    ).select(
        "side",
        F.explode(ngrams_from_tokens(F.col("__toks"))).alias("tok"),
    )
    # ONE pass over the exploded trigrams: (tok, in_a, in_b) carries
    # everything downstream — the exact answers AND both side sketches
    # (kmv_sketch distincts its input anyway, so feeding it the already-
    # distinct membership frame is equivalent to re-exploding the side).
    # Checkpointed because three branches hang off it; its size is the
    # distinct vocabulary, not the corpus (round-3 verdict: the previous
    # query exploded the trigrams three times, 12.8s at sf0.1).
    tagged = (
        toks.groupBy("tok")
        .agg(
            F.max(F.when(F.col("side") == 0, 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("side") == 1, 1).otherwise(0)).alias("in_b"),
        )
        .transform(barrier)
    )
    exact = tagged.agg(
        F.sum("in_a").alias("n_exact_a"),
        F.sum("in_b").alias("n_exact_b"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_exact_inter"),
        F.count(F.lit(1)).alias("n_exact_union"),
    ).select(
        "*",
        F.expr("n_exact_inter * 1000000 div n_exact_union").alias("jaccard_ppm"),
    )
    side_a = tagged.filter(F.col("in_a") == 1).select("tok")
    side_b = tagged.filter(F.col("in_b") == 1).select("tok")
    ska = kmv_sketch(side_a, [], "tok")
    skb = kmv_sketch(side_b, [], "tok")
    est_a = kmv_estimate(ska, []).select(F.col("est_distinct").alias("est_a"))
    est_b = kmv_estimate(skb, []).select(F.col("est_distinct").alias("est_b"))
    sets = kmv_set_estimates(ska.select("hv"), skb.select("hv"), KMV_K)
    return (
        exact.crossJoin(est_a).crossJoin(est_b).crossJoin(sets).select(
            "n_exact_a",
            "n_exact_b",
            "n_exact_inter",
            "n_exact_union",
            "jaccard_ppm",
            "est_a",
            "est_b",
            "est_inter",
            "est_union",
            "jaccard_est_ppm",
        )
    )


def _sql_kmv() -> str:
    """DuckDB replay of kmv_corpus_overlap: same mixed polynomial hash,
    same k-smallest-distinct states, same integer theta algebra. Sums
    are cast to BIGINT (DuckDB sums to HUGEINT, which the driver's
    canonicalizer cannot hash — tests/test_oracle_types.py)."""
    k = 256
    mixed = _sql_mixed("tok")
    return f"""
WITH tk AS (
  SELECT doc_id, CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
                      ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks
  FROM documents),
tok AS (
  SELECT doc_id % 2 AS side, unnest(CASE
    WHEN len(toks) >= 3 THEN list_distinct(list_transform(
          generate_series(1, len(toks) - 2), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
    WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
    ELSE CAST([] AS VARCHAR[]) END) AS tok
  FROM tk),
tag AS (SELECT tok,
               max(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS in_b
        FROM tok GROUP BY tok),
exact AS (SELECT CAST(sum(in_a) AS BIGINT) AS n_exact_a,
                 CAST(sum(in_b) AS BIGINT) AS n_exact_b,
                 CAST(sum(in_a * in_b) AS BIGINT) AS n_exact_inter,
                 count(*) AS n_exact_union,
                 CAST(sum(in_a * in_b) * 1000000 // count(*) AS BIGINT) AS jaccard_ppm
          FROM tag),
ha AS (SELECT DISTINCT {mixed} AS hv FROM tag WHERE in_a = 1),
hb AS (SELECT DISTINCT {mixed} AS hv FROM tag WHERE in_b = 1),
ka AS (SELECT hv FROM (SELECT hv, row_number() OVER (ORDER BY hv) AS r FROM ha) WHERE r <= {k}),
kb AS (SELECT hv FROM (SELECT hv, row_number() OVER (ORDER BY hv) AS r FROM hb) WHERE r <= {k}),
ea AS (SELECT CAST(CASE WHEN count(*) < {k} THEN count(*)
                        ELSE CAST({k - 1} AS BIGINT) * 1000000007 // max(hv) END AS BIGINT) AS est_a,
              CASE WHEN count(*) < {k} THEN 1000000007 ELSE max(hv) END AS theta_a
       FROM ka),
eb AS (SELECT CAST(CASE WHEN count(*) < {k} THEN count(*)
                        ELSE CAST({k - 1} AS BIGINT) * 1000000007 // max(hv) END AS BIGINT) AS est_b,
              CASE WHEN count(*) < {k} THEN 1000000007 ELSE max(hv) END AS theta_b
       FROM kb),
th AS (SELECT least(theta_a, theta_b) AS theta FROM ea, eb),
mg AS (SELECT hv, max(in_a) AS in_a, max(in_b) AS in_b FROM (
         SELECT hv, 1 AS in_a, 0 AS in_b FROM ka
         UNION ALL SELECT hv, 0, 1 FROM kb) GROUP BY hv),
below AS (SELECT mg.* FROM mg, th WHERE hv < theta),
sets AS (SELECT CAST(CAST(sum(in_a * in_b) AS BIGINT) * 1000000007 // theta AS BIGINT) AS est_inter,
                CAST(count(*) * 1000000007 // theta AS BIGINT) AS est_union,
                CAST(CASE WHEN count(*) = 0 THEN 0
                          ELSE CAST(sum(in_a * in_b) AS BIGINT) * 1000000 // count(*) END AS BIGINT) AS jaccard_est_ppm
         FROM below, th GROUP BY theta)
SELECT exact.*, ea.est_a, eb.est_b, sets.est_inter, sets.est_union, sets.jaccard_est_ppm
FROM exact, ea, eb, sets
"""


SKETCH_REGISTRY = {
    "quantile_sketch_values": (quantile_sketch_values, _QH_SQL),
    "hll_distinct_users": (hll_distinct_users, _HLL_SQL),
    "cms_heavy_hitters": (cms_heavy_hitters, _sql_cms()),
    "bloom_membership_flags": (bloom_membership_flags, _sql_bloom()),
    "kmv_corpus_overlap": (kmv_corpus_overlap, _sql_kmv()),
}
