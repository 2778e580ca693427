"""Corpus-curation query batch: deterministic sampling, TF-IDF,
quantile quality gating, benchmark decontamination — the remaining
training-data-pipeline surface, each with a DuckDB oracle that replays
the portable primitives (poly_hash sampling keys, integer micro-unit
thresholds, the shared tokenizer/n-gram SQL)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.operators.corpus import (
    contamination_report,
    quantile_quality_filter,
    tf_idf_top_terms,
)
from dnsflow_clickhouse_spark.operators.sampling import (
    per_key_sample,
    stratified_sample,
)
from dnsflow_clickhouse_spark.operators.util import barrier, cpu_repartition
from dnsflow_clickhouse_spark.queries.catalog_mlops import _sql_poly, _SQL_TOKS
from dnsflow_clickhouse_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------

# sampling bucket replay: poly_hash(CAST(id AS VARCHAR)), multiplicative
# mix (operators.sampling.MIX_MULT), then the ppm modulus
_SQL_BUCKET_DOC = (
    f"(({_sql_poly('CAST(doc_id AS VARCHAR)')}) * 2654435761) % 1000000007 % 1000000"
)
_SQL_BUCKET_EVT = (
    f"(({_sql_poly('CAST(event_id AS VARCHAR)')}) * 2654435761) % 1000000007 % 1000000"
)


def _sql_grams_n(n: int) -> str:
    """Distinct token n-grams, mirroring operators.dedup.ngrams_from_tokens."""
    terms = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
    return f"""CASE
  WHEN len(toks) >= {n} THEN list_distinct(list_transform(
        generate_series(1, len(toks) - {n - 1}), i -> {terms}))
  WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
  ELSE CAST([] AS VARCHAR[]) END"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

_STRATA_RATES = {"en": 0.6, "de": 0.4, "fr": 0.3}
_DEFAULT_RATE = 0.1


def stratified_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing stratified sample of the documents corpus:
    60% en / 40% de / 30% fr / 10% everything else, hash-gated on the
    doc id so the selection is a pure function of the data (pure filter,
    zero shuffle)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        stratified_sample(
            d, "lang", _STRATA_RATES, "doc_id", default_rate=_DEFAULT_RATE
        )
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


_STRATIFIED_SQL = f"""
SELECT doc_id, lang, source
FROM documents
WHERE {_SQL_BUCKET_DOC} <
      CASE lang WHEN 'en' THEN 600000 WHEN 'de' THEN 400000
                WHEN 'fr' THEN 300000 ELSE 100000 END
ORDER BY doc_id
"""


def per_user_event_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-per-user event reservoir: rank each user's events
    by the portable hash of the event id, keep the 3 smallest. One window
    shuffle on user_id (grouped top-K plan family)."""
    e = load_table(spark, sf_dir, "events")
    return (
        per_key_sample(e, "user_id", "event_id", k=3)
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id", "event_id")
    )


_PER_KEY_SQL = f"""
WITH r AS (
  SELECT user_id, event_id, event_type,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY {_SQL_BUCKET_EVT}, event_id) AS rn
  FROM events
)
SELECT user_id, event_id, event_type FROM r WHERE rn <= 3
ORDER BY user_id, event_id
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most document-specific terms per document (tf/df score,
    engine-exact double division, term-string tie-break)."""
    d = load_table(spark, sf_dir, "documents")
    return tf_idf_top_terms(d, "doc_id", "text", k=3).orderBy("doc_id", "rn")


_TFIDF_SQL = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
occ AS (SELECT doc_id, unnest(toks) AS term FROM t),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM occ GROUP BY doc_id, term),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         CAST(tf.tf AS DOUBLE) / CAST(dfreq.df AS DOUBLE) AS raw,
         CAST(row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY CAST(tf.tf AS DOUBLE) / CAST(dfreq.df AS DOUBLE) DESC,
                    tf.term) AS INTEGER) AS rn
  FROM tf JOIN dfreq USING (term)
)
SELECT doc_id, term, tf, df, floor(raw * 1000000 + 0.5) / 1000000 AS score, rn
FROM scored WHERE rn <= 3
ORDER BY doc_id, rn
"""


def quality_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality gate at the 25th percentile: score every
    document (text-analysis quality expression), take each language's
    discrete p25 in integer micro-units, count survivors."""
    from dnsflow_clickhouse_spark.operators.text_analysis import score_documents

    d = load_table(spark, sf_dir, "documents")
    scored = score_documents(d).select("doc_id", "lang", "quality")
    return quantile_quality_filter(
        scored, "lang", "quality", "doc_id", q=0.25
    ).orderBy("stratum")


# quality replay matches catalog._DOC_QUALITY_SQL's expression shape
from dnsflow_clickhouse_spark.functions.textfn import STOPWORDS_EN as _SW

_SW_LIST = ", ".join(f"'{w}'" for w in _SW)
_QUALITY_EXPR = rf"""floor((
  0.3 * least(1.0, CAST(len(toks) AS DOUBLE) / 200.0)
  + 0.4 * (1.0 - (CASE WHEN length(text) = 0 THEN 0.0
       ELSE CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
            / CAST(length(text) AS DOUBLE) END))
  + 0.3 * (CASE WHEN len(toks) = 0 THEN 0.0
       ELSE CAST(len(list_filter(toks, t -> lower(t) IN ({_SW_LIST}))) AS DOUBLE)
            / CAST(len(toks) AS DOUBLE) END)
  ) * 1000000 + 0.5) / 1000000"""

_QUANTILE_GATE_SQL = rf"""
WITH t AS (
  SELECT doc_id, lang, text, {_SQL_TOKS} AS toks FROM documents
),
s AS (
  SELECT doc_id, lang AS stratum,
         CAST(round({_QUALITY_EXPR} * 1000000) AS BIGINT) AS si
  FROM t
),
r AS (
  SELECT stratum, si,
         row_number() OVER (PARTITION BY stratum ORDER BY si, doc_id) AS rn,
         count(*) OVER (PARTITION BY stratum) AS n
  FROM s
),
thr AS (
  SELECT stratum, si AS thr FROM r
  WHERE rn = CAST(ceil(0.25 * n) AS BIGINT)
)
SELECT s.stratum,
       max(thr.thr) AS threshold_micro,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN s.si >= thr.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM s JOIN thr ON s.stratum = thr.stratum
GROUP BY s.stratum
ORDER BY s.stratum
"""


def decontamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination sweep: docs with doc_id % 20 == 0 play
    the held-out eval suite; flag every training doc sharing a distinct
    token 4-gram with it (broadcast the benchmark gram set)."""
    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 20 == 0)
    train = d.filter(F.col("doc_id") % 20 != 0)
    return contamination_report(train, bench, "doc_id", "text", ngram=4).orderBy(
        "doc_id"
    )


_DECONTAM_SQL = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
g AS (SELECT doc_id, {_sql_grams_n(4)} AS grams FROM t),
e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
bench AS (SELECT doc_id AS bench_id, gram FROM e WHERE doc_id % 20 = 0),
train AS (SELECT doc_id, gram FROM e WHERE doc_id % 20 != 0)
SELECT train.doc_id,
       count(DISTINCT train.gram) AS n_shared_grams,
       count(DISTINCT bench.bench_id) AS n_bench_docs
FROM train JOIN bench USING (gram)
GROUP BY train.doc_id
ORDER BY train.doc_id
"""


def props_json_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access over the events props JSON column (the
    reference's core ingest primitive, SURVEY §2.1 S3, as a standalone
    capability): extract a typed field, roll up per event_type. The
    extraction is a Catalyst expression, so it runs inside codegen and
    prunes to the two columns read."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


_PROPS_JSON_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


def event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete p50/p90/p99 of the event value per event_type, in integer
    micro-units (element at ceil(q*n) of the ordered values — exact
    arithmetic, no interpolation, engine-replayable).

    Scale shape: event_type has tiny cardinality, so ranking raw rows
    inside per-type window partitions would funnel the whole table
    through a handful of partitions. Instead the rows collapse first
    into a (type, value) histogram — a map-side-combinable aggregate —
    and the cumulative window walks the histogram (distinct values per
    type), not the data. The ceil(q*n)-th ordered element is exactly the
    smallest value whose cumulative count reaches the target, so the
    result is identical to the direct ranking."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    hist = (
        e.select(
            "event_type",
            F.round(F.col("value") * 1_000_000).cast("long").alias("vi"),
        )
        .groupBy("event_type", "vi")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("vi")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    cum = hist.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(w_all)
    )

    def pick(q: float):
        target = F.ceil(F.lit(q) * F.col("n")).cast("long")
        return F.min(F.when(F.col("cum") >= target, F.col("vi")))

    return (
        cum.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            pick(0.5).alias("p50_micro"),
            pick(0.9).alias("p90_micro"),
            pick(0.99).alias("p99_micro"),
        )
        .orderBy("event_type")
    )


_VALUE_PCTL_SQL = """
WITH b AS (
  SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS vi, event_id
  FROM events
),
r AS (
  SELECT event_type, vi,
         row_number() OVER (PARTITION BY event_type ORDER BY vi, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM b
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       max(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN vi END) AS p50_micro,
       max(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT) THEN vi END) AS p90_micro,
       max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN vi END) AS p99_micro
FROM r GROUP BY event_type ORDER BY event_type
"""


def pack_sequences_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing of the documents corpus: 8 deterministic
    shards, 256-token budget, packed per shard in one Arrow batch
    (applyInPandas). The recursive-CTE oracle replays the fold exactly."""
    from dnsflow_clickhouse_spark.operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    return pack_sequences(d, "doc_id", "text", cap=256, n_shards=8).orderBy("doc_id")


_PACK_SQL = rf"""
WITH RECURSIVE t AS (
  SELECT doc_id, doc_id % 8 AS shard,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS ntok
  FROM documents
),
r AS (
  SELECT doc_id, shard, ntok,
         row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM t
),
walk(shard, rn, doc_id, ntok, acc, seq_id) AS (
  SELECT shard, rn, doc_id, ntok, ntok, CAST(0 AS BIGINT) FROM r WHERE rn = 1
  UNION ALL
  SELECT r.shard, r.rn, r.doc_id, r.ntok,
         CASE WHEN w.acc + r.ntok > 256 THEN r.ntok ELSE w.acc + r.ntok END,
         CASE WHEN w.acc + r.ntok > 256 THEN w.seq_id + 1 ELSE w.seq_id END
  FROM walk w JOIN r ON r.shard = w.shard AND r.rn = w.rn + 1
)
SELECT doc_id, shard, ntok, seq_id FROM walk ORDER BY doc_id
"""


def repetition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signal, rolled up per language:
    average and max duplicate n-gram fractions (integer ppm). Map-only
    scoring + one tiny aggregation; no shuffle of the text itself."""
    from dnsflow_clickhouse_spark.operators.text_analysis import repetition_metrics

    d = load_table(spark, sf_dir, "documents")
    m = repetition_metrics(cpu_repartition(d, "doc_id"), "text", ns=(2, 3))
    cnt = F.count(F.lit(1))
    return (
        m.groupBy("lang")
        .agg(
            cnt.alias("n_docs"),
            F.floor(F.sum("dup2_ppm").cast("double") / cnt.cast("double"))
            .cast("long")
            .alias("avg_dup2_ppm"),
            F.floor(F.sum("dup3_ppm").cast("double") / cnt.cast("double"))
            .cast("long")
            .alias("avg_dup3_ppm"),
            F.max("dup3_ppm").alias("max_dup3_ppm"),
        )
        .orderBy("lang")
    )


def _sql_dup_ppm(n: int) -> str:
    terms = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
    total = f"(len(toks) - {n - 1})"
    distinct = (
        f"len(list_distinct(list_transform("
        f"generate_series(1, len(toks) - {n - 1}), i -> {terms})))"
    )
    return (
        f"CASE WHEN len(toks) >= {n} THEN "
        f"CAST(floor(({total} - {distinct}) * 1000000.0 / {total}) AS BIGINT) "
        f"ELSE 0 END"
    )


_REPETITION_SQL = f"""
WITH t AS (SELECT lang, {_SQL_TOKS} AS toks FROM documents),
m AS (SELECT lang, {_sql_dup_ppm(2)} AS dup2_ppm, {_sql_dup_ppm(3)} AS dup3_ppm FROM t)
SELECT lang, count(*) AS n_docs,
       CAST(floor(sum(dup2_ppm) * 1.0 / count(*)) AS BIGINT) AS avg_dup2_ppm,
       CAST(floor(sum(dup3_ppm) * 1.0 / count(*)) AS BIGINT) AS avg_dup3_ppm,
       max(dup3_ppm) AS max_dup3_ppm
FROM m GROUP BY lang ORDER BY lang
"""


def temperature_lang_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha = 0.5) language rebalancing: per-language keep
    rates derived from the corpus itself, applied through the
    deterministic ppm hash gate; reports kept counts per language."""
    from dnsflow_clickhouse_spark.operators.corpus import temperature_resample

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        temperature_resample(d, "lang", "doc_id")
        .groupBy("lang")
        .agg(
            F.max("stratum_n").alias("n_docs"),
            F.max("rate_ppm").alias("rate_ppm"),
            F.sum("__keep").alias("kept"),
        )
        .orderBy("lang")
    )


_TEMPERATURE_SQL = f"""
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
r AS (SELECT lang, n,
             CAST(floor(1000000 * sqrt((SELECT min(n) FROM c) * 1.0 / n)) AS BIGINT)
             AS rate_ppm
      FROM c)
SELECT d.lang, max(r.n) AS n_docs, max(r.rate_ppm) AS rate_ppm,
       CAST(sum(CASE WHEN {_SQL_BUCKET_DOC} < r.rate_ppm THEN 1 ELSE 0 END) AS BIGINT) AS kept
FROM documents d JOIN r ON d.lang = r.lang
GROUP BY d.lang ORDER BY d.lang
"""


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two document-length histogram (dataset shape stats).

    The bucket is the bit length of n_chars — computed by decimal→binary
    string conversion in both engines, so bucket boundaries are exact
    integers with no log2 float edge cases."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn(
            "bits", F.length(F.conv(F.col("n_chars").cast("string"), 10, 2))
        )
        .groupBy("bits")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("bits")
    )


_LENGTH_HIST_SQL = """
SELECT CAST(length(bin(n_chars)) AS INTEGER) AS bits, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars, min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM documents GROUP BY 1 ORDER BY 1
"""


_FUNNEL_THR = 500_000  # quality gate in micro-units


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-curation funnel in one declarative program:
    exact dedup (md5 canonical) -> quality gate (fixed micro-unit
    threshold) -> temperature (alpha=0.5) language rebalancing, reporting
    per-language survivor counts at every stage.

    Shuffle inventory at scale: one hash shuffle on md5(text) for the
    dedup window, one per-language aggregate (broadcast back), and the
    final counting aggregate — quality scoring and the resample gate are
    map-side. The per-language rates derive from the *quality survivors*
    (not the raw corpus), which is the order a real pipeline wants."""
    from dnsflow_clickhouse_spark.operators.sampling import sample_key
    from dnsflow_clickhouse_spark.operators.text_analysis import score_documents
    from dnsflow_clickhouse_spark.operators.util import cpu_repartition, maybe_persist

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text"))
    flags = maybe_persist(
        # fan the interpreted scoring out before it runs: a single-file
        # corpus scans as ONE partition (single row group), which would
        # serialize the stopword/ratio expressions on one core
        score_documents(cpu_repartition(d, "doc_id"))
        .withColumn("uniq", (F.col("doc_id") == F.min("doc_id").over(w)).cast("int"))
        .withColumn("qm", F.round(F.col("quality") * 1_000_000).cast("long"))
        .withColumn(
            "q",
            ((F.col("uniq") == 1) & (F.col("qm") >= _FUNNEL_THR)).cast("int"),
        )
        .withColumn("bucket", sample_key("doc_id"))
        .select("doc_id", "lang", "uniq", "q", "bucket"),
        # the flags subtree (tokenize + quality-score + md5 dedup window)
        # feeds BOTH the per-language rate aggregate and the final count.
        # At corpus scale, persisting the slim 5-column projection
        # (~50 B/row, MEMORY_AND_DISK, spill-safe) makes the expensive
        # scoring run once instead of twice; at test scale recomputing is
        # cheaper than materializing (round 2's unconditional persist
        # cost 6.5x at sf0.1), so the persist is gated on the INPUT size
        # estimate — the scan-rooted source, whose stats are reliable.
        source=d,
    )
    counts = flags.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum("uniq").alias("n_unique"),
        F.sum("q").alias("n_quality"),
    )
    # global min over the per-language aggregate via an unpartitioned
    # window: counts is language-cardinality (tiny at any data scale),
    # and this keeps the expensive flags subtree at two plan occurrences
    # (counts + the final count) instead of three
    rates = counts.withColumn(
        "__min_q", F.min("n_quality").over(Window.partitionBy())
    ).select(
        "lang",
        "n_raw",
        "n_unique",
        "n_quality",
        F.when(F.col("n_quality") <= 0, F.lit(0))
        .otherwise(
            F.floor(
                F.lit(1_000_000)
                * F.sqrt(
                    F.col("__min_q").cast("double") / F.col("n_quality").cast("double")
                )
            )
        )
        .cast("long")
        .alias("rate_ppm"),
    )
    return (
        flags.join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(
            F.max("n_raw").alias("n_raw"),
            F.max("n_unique").alias("n_unique"),
            F.max("n_quality").alias("n_quality"),
            F.max("rate_ppm").alias("rate_ppm"),
            F.sum(
                ((F.col("q") == 1) & (F.col("bucket") < F.col("rate_ppm"))).cast(
                    "long"
                )
            ).alias("n_final"),
        )
        .orderBy("lang")
    )


_FUNNEL_SQL = f"""
WITH t AS (SELECT doc_id, lang, text, {_SQL_TOKS} AS toks FROM documents),
f AS (
  SELECT doc_id, lang,
         CAST(doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS INT) AS uniq,
         CAST(round({_QUALITY_EXPR} * 1000000) AS BIGINT) AS qm,
         {_SQL_BUCKET_DOC} AS bucket
  FROM t
),
g AS (SELECT *, CASE WHEN uniq = 1 AND qm >= {_FUNNEL_THR} THEN 1 ELSE 0 END AS q FROM f),
c AS (SELECT lang, count(*) AS n_raw, CAST(sum(uniq) AS BIGINT) AS n_unique,
             CAST(sum(q) AS BIGINT) AS n_quality
      FROM g GROUP BY lang),
r AS (SELECT lang, n_raw, n_unique, n_quality,
             CASE WHEN n_quality <= 0 THEN 0
                  ELSE CAST(floor(1000000 * sqrt(
                       (SELECT min(n_quality) FROM c) * 1.0 / n_quality)) AS BIGINT)
             END AS rate_ppm
      FROM c)
SELECT g.lang,
       max(r.n_raw) AS n_raw, max(r.n_unique) AS n_unique,
       max(r.n_quality) AS n_quality, max(r.rate_ppm) AS rate_ppm,
       CAST(sum(CASE WHEN g.q = 1 AND g.bucket < r.rate_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_final
FROM g JOIN r ON g.lang = r.lang
GROUP BY g.lang ORDER BY g.lang
"""


def chunk_documents_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-token chunks every 48 tokens (context-window prep), with
    boundary tokens exposed so the oracle pins exact chunk edges."""
    from dnsflow_clickhouse_spark.operators.corpus import chunk_documents

    d = load_table(spark, sf_dir, "documents")
    return chunk_documents(d, "doc_id", "text", size=64, stride=48).orderBy(
        "doc_id", "chunk_id"
    )


_CHUNK_SQL = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
c AS (
  SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
         list_slice(toks, i*48 + 1, i*48 + 64) AS ct
  FROM t, UNNEST(CASE WHEN len(toks) > 0
                 THEN generate_series(0, CAST(ceil(greatest(len(toks) - 64, 0) / 48.0) AS BIGINT))
                 ELSE [] END) AS u(i)
)
SELECT doc_id, chunk_id, CAST(len(ct) AS INTEGER) AS n_tokens,
       ct[1] AS first_token, ct[len(ct)] AS last_token
FROM c ORDER BY doc_id, chunk_id
"""


def quality_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-feature export: per document, the quality-model feature
    vector in integer micro-units (token count, quality score, dup-2/3-gram
    ppm, language one-hots) — the assembly shape a downstream trainer
    consumes. Map-only; vector built in-row and serialized as a
    comma-joined string: the correctness harness canonicalizes output via
    a pandas sort, which cannot factorize list values (round-2 driver red
    ``TypeError: unhashable type: 'list'``), so no registered query may
    emit an array/map column (guarded by tests/test_oracle_types.py)."""
    from dnsflow_clickhouse_spark.operators.text_analysis import (
        repetition_metrics,
        score_documents,
    )

    d = load_table(spark, sf_dir, "documents")
    scored = repetition_metrics(
        score_documents(cpu_repartition(d, "doc_id")), "text", ns=(2, 3)
    )
    feats = F.array(
        F.col("toks"),
        F.round(F.col("quality") * 1_000_000).cast("long"),
        F.col("dup2_ppm"),
        F.col("dup3_ppm"),
        (F.col("lang") == "en").cast("long"),
        (F.col("lang") == "zh").cast("long"),
    )
    features = F.array_join(feats.cast("array<string>"), ",")
    return d.select("doc_id").join(
        scored.select("doc_id", features.alias("features")), "doc_id"
    ).select("doc_id", "features").orderBy("doc_id")


_FEATURE_MATRIX_SQL = f"""
WITH t AS (SELECT doc_id, lang, text, {_SQL_TOKS} AS toks FROM documents)
SELECT doc_id,
       array_to_string(
       [CAST(len(toks) AS BIGINT),
        CAST(round({_QUALITY_EXPR} * 1000000) AS BIGINT),
        {_sql_dup_ppm(2)},
        {_sql_dup_ppm(3)},
        CAST(lang = 'en' AS BIGINT),
        CAST(lang = 'zh' AS BIGINT)], ',') AS features
FROM t ORDER BY doc_id
"""


def deterministic_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible pre-training shuffle: global permutation by the
    mixed id hash (a pure function of the data — rerunning on the same
    corpus gives byte-identical shard files), with round-robin shard
    assignment over the permuted order. Positions come from
    operators.sampling.global_positions — a range exchange + local rank
    + tiny offsets join — NOT a global window, which would funnel the
    whole corpus through one partition at 100 TB."""
    from dnsflow_clickhouse_spark.operators.sampling import (
        global_positions,
        sample_key,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        global_positions(d, [sample_key("doc_id"), F.col("doc_id")])
        .select(
            "doc_id",
            "pos",
            ((F.col("pos") - 1) % 8).cast("int").alias("shard"),
        )
        .orderBy("pos")
    )


_SHUFFLE_SHARDS_SQL = f"""
SELECT doc_id, pos, CAST((pos - 1) % 8 AS INT) AS shard
FROM (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY {_SQL_BUCKET_DOC}, doc_id) AS BIGINT) AS pos
  FROM documents
)
ORDER BY pos
"""


def normalized_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware dedup summary: per language, distinct raw
    texts vs distinct NORMALIZED texts (functions.textfn.normalize_text
    — lowercase, punctuation stripped, whitespace collapsed). The gap
    between the two counts is exactly the near-duplicate mass that
    differs only in casing/punctuation/spacing — the cheapest dedup win
    a corpus pipeline takes before any MinHash machinery. Map-only
    normalization + one aggregate."""
    from dnsflow_clickhouse_spark.functions.textfn import normalize_text

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            F.md5("text").alias("__raw_h"),
            F.md5(normalize_text("text")).alias("__norm_h"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("__raw_h").alias("n_raw_distinct"),
            F.countDistinct("__norm_h").alias("n_norm_distinct"),
            (F.countDistinct("__raw_h") - F.countDistinct("__norm_h")).alias(
                "n_case_punct_dups"
            ),
        )
        .orderBy("lang")
    )


_SQL_NORM_TEXT = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)

_NORMALIZED_DEDUP_SQL = f"""
SELECT lang, count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_raw_distinct,
       count(DISTINCT md5({_SQL_NORM_TEXT})) AS n_norm_distinct,
       count(DISTINCT md5(text)) - count(DISTINCT md5({_SQL_NORM_TEXT}))
           AS n_case_punct_dups
FROM documents GROUP BY lang ORDER BY lang
"""


def incremental_report_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental report maintenance under the oracle gate: the events
    table is split into three ingest periods (event_id % 3); each
    period aggregates ONLY its slice to the report grain and
    io.merge_additive folds the partial states together. The oracle
    aggregates the raw table directly — the hash match proves the
    folded state is indistinguishable from a full recompute (sums,
    counts, extrema; micro-unit integers so addition order can't
    drift)."""
    from dnsflow_clickhouse_spark.io import merge_additive

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 1_000_000).cast("long").alias("vi"),
    )

    def partial(period: int) -> DataFrame:
        return (
            e.filter(F.col("event_id") % 3 == period)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("vi").alias("sum_micro"),
                F.max("vi").alias("max_micro"),
                F.min("vi").alias("min_micro"),
            )
        )

    state = partial(0)
    for p in (1, 2):
        state = merge_additive(
            state,
            partial(p),
            keys=["event_type"],
            sum_cols=["n_events", "sum_micro"],
            max_cols=["max_micro"],
            min_cols=["min_micro"],
        )
    return state.orderBy("event_type")


_INCR_MERGE_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_micro,
       max(CAST(round(value * 1000000) AS BIGINT)) AS max_micro,
       min(CAST(round(value * 1000000) AS BIGINT)) AS min_micro
FROM events GROUP BY event_type ORDER BY event_type
"""


def duplicate_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-span mass per document (the distributed
    stand-in for suffix-array exact-substring dedup): token 8-gram
    shingles shared by >= 2 distinct docs, overlapping positions merged
    into maximal spans, reported as exact-integer ppm of each doc's
    tokens. Docs with no duplicated span report zeros."""
    from dnsflow_clickhouse_spark.operators.spans import duplicate_span_stats

    d = load_table(spark, sf_dir, "documents")
    return duplicate_span_stats(d, "doc_id", "text", k=8, min_df=2).orderBy(
        "doc_id"
    )


_DUP_SPAN_SQL = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
p AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
  FROM t, UNNEST(CASE WHEN len(toks) >= 8
                 THEN generate_series(1, len(toks) - 7)
                 ELSE CAST([] AS BIGINT[]) END) AS u(i)
),
dup AS (SELECT gram FROM p GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
d AS (SELECT p.doc_id, p.pos FROM p JOIN dup USING (gram)),
m AS (
  SELECT doc_id, pos,
         max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM d
),
i AS (
  SELECT doc_id, pos,
         sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
  FROM m
),
sp AS (SELECT doc_id, span_id, min(pos) AS s, max(pos) + 8 AS e
       FROM i GROUP BY doc_id, span_id),
agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(e - s) AS BIGINT) AS dup_tokens
        FROM sp GROUP BY doc_id)
SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_toks,
       coalesce(agg.n_spans, 0) AS n_spans,
       coalesce(agg.dup_tokens, 0) AS dup_tokens,
       CASE WHEN len(t.toks) = 0 THEN 0
            ELSE CAST(floor(1000000.0 * coalesce(agg.dup_tokens, 0)
                            / len(t.toks)) AS BIGINT) END AS dup_ppm
FROM t LEFT JOIN agg USING (doc_id) ORDER BY t.doc_id
"""


_MIX_WEIGHTS = {
    "en": 500_000, "zh": 150_000, "de": 120_000,
    "es": 120_000, "fr": 80_000, "ja": 30_000,  # ja: no supply -> shortfall
}
_MIX_BUDGET = 20_000


def mixture_budget_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining data-mixing step: split an exact 20k-token budget
    across languages by target weights (largest-remainder rounding so
    the allocations sum to the budget EXACTLY), cap each language by its
    actual supply, and surface under-supplied strata as ``shortfall``
    (the 'ja' weight has zero supply by construction). Integer-exact
    end to end; all allocation logic runs on the tiny strata frame."""
    from dnsflow_clickhouse_spark.functions.textfn import token_count
    from dnsflow_clickhouse_spark.operators.corpus import budget_allocation

    d = load_table(spark, sf_dir, "documents").select(
        "lang", token_count(F.col("text")).alias("toks")
    )
    return budget_allocation(
        d, "lang", "toks", _MIX_WEIGHTS, _MIX_BUDGET
    ).orderBy("lang")


_MIX_VALUES = ", ".join(f"('{k}', {v})" for k, v in _MIX_WEIGHTS.items())

_MIXTURE_SQL = f"""
WITH w(lang, target_ppm) AS (VALUES {_MIX_VALUES}),
t AS (SELECT lang, {_SQL_TOKS} AS toks FROM documents),
a AS (SELECT lang, CAST(sum(len(toks)) AS BIGINT) AS avail_tokens
      FROM t GROUP BY 1),
b AS (
  SELECT w.lang, coalesce(a.avail_tokens, 0) AS avail_tokens,
         CAST(w.target_ppm AS BIGINT) AS target_ppm,
         (CAST({_MIX_BUDGET} AS BIGINT) * w.target_ppm) // 1000000 AS base,
         (CAST({_MIX_BUDGET} AS BIGINT) * w.target_ppm) % 1000000 AS rem
  FROM w LEFT JOIN a USING (lang)
),
l AS (
  SELECT *, {_MIX_BUDGET} - sum(base) OVER () AS leftover,
         row_number() OVER (ORDER BY rem DESC, lang) AS rk
  FROM b
),
al AS (
  SELECT lang, avail_tokens, target_ppm,
         CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
           AS alloc_tokens
  FROM l
)
SELECT lang, avail_tokens, target_ppm, alloc_tokens,
       least(alloc_tokens, avail_tokens) AS quota_tokens,
       alloc_tokens - least(alloc_tokens, avail_tokens) AS shortfall,
       CAST(floor(1000000.0 * least(alloc_tokens, avail_tokens)
                  / {_MIX_BUDGET}) AS BIGINT) AS achieved_ppm
FROM al ORDER BY lang
"""


def snapshot_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version CDC audit: synthesize the 'previous' snapshot from
    the documents table (docs with doc_id % 11 == 3 absent -> they read
    as 'added'; docs with doc_id % 9 == 0 carry an old-revision marker
    -> 'changed'; shadow ids +1000000 exist only in the old snapshot ->
    'removed'), then diff against the current table per id and roll up
    per (status, lang). Fingerprint-only join — texts never shuffle."""
    from dnsflow_clickhouse_spark.operators.corpus import snapshot_diff

    d = load_table(spark, sf_dir, "documents")
    old = (
        d.filter(F.col("doc_id") % 11 != 3)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 9 == 0, F.concat(F.col("text"), F.lit(" [v1]"))
            ).otherwise(F.col("text")).alias("text"),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 13 == 5).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
    )
    diff = snapshot_diff(old, d.select("doc_id", "text"), "doc_id", ["text"])
    lang = d.select("doc_id", "lang")
    return (
        diff.join(lang, diff.id == lang.doc_id, "left")
        .groupBy("status", F.coalesce("lang", F.lit("-")).alias("lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("status", "lang")
    )


_SNAPSHOT_SQL = """
WITH old AS (
  SELECT doc_id,
         CASE WHEN doc_id % 9 = 0 THEN text || ' [v1]' ELSE text END AS text
  FROM documents WHERE doc_id % 11 != 3
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 13 = 5
),
o AS (SELECT doc_id AS id, md5(text) AS ofp FROM old),
n AS (SELECT doc_id AS id, md5(text) AS nfp FROM documents),
j AS (
  SELECT coalesce(o.id, n.id) AS id,
         CASE WHEN o.id IS NULL THEN 'added'
              WHEN n.id IS NULL THEN 'removed'
              WHEN ofp = nfp THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM o FULL OUTER JOIN n ON o.id = n.id
)
SELECT j.status, coalesce(d.lang, '-') AS lang,
       CAST(count(*) AS BIGINT) AS n_docs
FROM j LEFT JOIN documents d ON d.doc_id = j.id
GROUP BY 1, 2 ORDER BY 1, 2
"""


def boilerplate_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate leaderboard (the C4-style shared-lines diagnostic,
    gram-granular because this corpus has no line structure): the 20
    token 8-grams appearing in the most distinct documents (df >= 3),
    with occurrence counts. What a curation run reads before deciding a
    removal pattern. One map-side gram explode + one hash aggregate;
    the top-k lowers to TakeOrderedAndProject."""
    from dnsflow_clickhouse_spark.functions.textfn import tokens
    from dnsflow_clickhouse_spark.operators.spans import positional_ngrams

    d = load_table(spark, sf_dir, "documents")
    # generate-input rule: explode re-evaluates its input per emitted
    # row, so the token pipeline must be staged behind a barrier or the
    # query does O(tokens^2) splitting per document (measured 25s vs
    # 1s at sf0.1)
    staged = d.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).transform(barrier)
    pos = staged.select(
        "doc_id",
        F.explode(positional_ngrams(F.col("toks"), 8)).alias("pg"),
    ).select("doc_id", F.col("pg.gram").alias("gram"))
    return (
        pos.groupBy("gram")
        .agg(
            F.count_distinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("df") >= 3)
        .orderBy(F.desc("df"), "gram")
        .limit(20)
    )


_BOILERPLATE_SQL = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
p AS (
  SELECT doc_id, array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
  FROM t, UNNEST(CASE WHEN len(toks) >= 8
                 THEN generate_series(1, len(toks) - 7)
                 ELSE CAST([] AS BIGINT[]) END) AS u(i)
)
SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       CAST(count(*) AS BIGINT) AS n_occ
FROM p GROUP BY gram HAVING count(DISTINCT doc_id) >= 3
ORDER BY df DESC, gram LIMIT 20
"""


def rare_token_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rare-token mass (corpus count <= 2) in exact ppm —
    the model-free, log-free perplexity filter stand-in. Output ordered
    per doc; every doc appears (zeros for empty)."""
    from dnsflow_clickhouse_spark.operators.corpus import rare_token_stats

    d = load_table(spark, sf_dir, "documents")
    return rare_token_stats(d, "doc_id", "text", rare_max_count=2).orderBy(
        "doc_id"
    )


_RARE_TOKEN_SQL = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
occ AS (SELECT doc_id, unnest(toks) AS term FROM t),
c AS (SELECT term, count(*) AS n FROM occ GROUP BY 1),
f AS (SELECT occ.doc_id, CASE WHEN c.n <= 2 THEN 1 ELSE 0 END AS is_rare
      FROM occ JOIN c USING (term)),
p AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
             CAST(sum(is_rare) AS BIGINT) AS n_rare
      FROM f GROUP BY 1)
SELECT t.doc_id,
       coalesce(p.n_toks, 0) AS n_toks,
       coalesce(p.n_rare, 0) AS n_rare,
       CASE WHEN coalesce(p.n_toks, 0) = 0 THEN 0
            ELSE CAST(floor(1000000.0 * p.n_rare / p.n_toks) AS BIGINT)
       END AS rare_ppm
FROM t LEFT JOIN p USING (doc_id) ORDER BY t.doc_id
"""


CORPUS_REGISTRY = {
    "duplicate_span_report": (duplicate_span_report, _DUP_SPAN_SQL),
    "boilerplate_grams": (boilerplate_grams, _BOILERPLATE_SQL),
    "rare_token_report": (rare_token_report, _RARE_TOKEN_SQL),
    "mixture_budget_report": (mixture_budget_report, _MIXTURE_SQL),
    "snapshot_diff_report": (snapshot_diff_report, _SNAPSHOT_SQL),
    "incremental_report_merge": (incremental_report_merge, _INCR_MERGE_SQL),
    "normalized_dedup_docs": (normalized_dedup_docs, _NORMALIZED_DEDUP_SQL),
    "deterministic_shuffle_shards": (
        deterministic_shuffle_shards,
        _SHUFFLE_SHARDS_SQL,
    ),
    "quality_feature_matrix": (quality_feature_matrix, _FEATURE_MATRIX_SQL),
    "curation_funnel": (curation_funnel, _FUNNEL_SQL),
    "chunk_documents": (chunk_documents_query, _CHUNK_SQL),
    "repetition_report": (repetition_report, _REPETITION_SQL),
    "temperature_lang_resample": (temperature_lang_resample, _TEMPERATURE_SQL),
    "doc_length_histogram": (doc_length_histogram, _LENGTH_HIST_SQL),
    "stratified_doc_sample": (stratified_doc_sample, _STRATIFIED_SQL),
    "per_user_event_sample": (per_user_event_sample, _PER_KEY_SQL),
    "tfidf_top_terms": (tfidf_top_terms, _TFIDF_SQL),
    "quality_quantile_gate": (quality_quantile_gate, _QUANTILE_GATE_SQL),
    "decontamination_report": (decontamination_report, _DECONTAM_SQL),
    "props_json_rollup": (props_json_rollup, _PROPS_JSON_SQL),
    "event_value_percentiles": (event_value_percentiles, _VALUE_PCTL_SQL),
    "pack_sequences": (pack_sequences_query, _PACK_SQL),
}


# ---------------------------------------------------------------------------
# weighted sampling (Efraimidis-Spirakis A-ES)
# ---------------------------------------------------------------------------

_WS_SEED, _WS_K = 5, 3


def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample, 3 docs per source with selection
    probability proportional to n_chars (A-ES: rank by quantized
    log2(u)/w, u a pure hash of the doc id) — the importance-weighted
    downsampling step of a curation pipeline, replayable in any engine.
    One window shuffle on source (grouped top-K plan family); the
    priority is a pure map-side expression."""
    from dnsflow_clickhouse_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    d = load_table(spark, sf_dir, "documents")
    return (
        weighted_sample_per_group(
            d, ["source"], "doc_id", "n_chars", k=_WS_K, seed=_WS_SEED,
            priority_col="prio",
        )
        .select("source", "doc_id", "n_chars", "prio")
        .orderBy("source", "doc_id")
    )


_WS_SQL = f"""
WITH u AS (
  SELECT source, doc_id, n_chars,
         CAST((({_sql_poly('CAST(doc_id AS VARCHAR)', seed=_WS_SEED)})
               * 2654435761) % 1000000007 % 1000000 + 1 AS DOUBLE) AS u_ppm
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
p AS (
  SELECT source, doc_id, n_chars,
         CAST(CAST(floor(log2(u_ppm / 1000000) * 1000000 + 0.5) AS BIGINT)
              AS DOUBLE) / CAST(n_chars AS DOUBLE) AS prio
  FROM u),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY source ORDER BY prio DESC, doc_id) AS rn
  FROM p)
SELECT source, doc_id, n_chars, prio FROM r WHERE rn <= {_WS_K}
ORDER BY source, doc_id
"""

CORPUS_REGISTRY["es_weighted_source_sample"] = (weighted_doc_sample, _WS_SQL)
