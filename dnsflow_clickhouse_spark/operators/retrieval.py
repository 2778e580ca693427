"""Lexical retrieval scoring (engine extension): Okapi BM25 over the
documents table — the ranking function a curation/retrieval pass runs
against a corpus before any embedding model exists (Robertson &
Zaragoza 2009).

Engine-portability discipline (the same rules as operators/lm.py):
- BM25's tf normalization tf*(k1+1) / (tf + k1*(1-b+b*len/avgdl)) is
  computed as a SINGLE integer ratio by clearing denominators with
  k1 = 6/5, b = 3/4 and avgdl = T/D (total tokens / doc count):
      tf_norm = 22*T*tf / (10*T*tf + 3*T + 9*len*D)
  Exact integer arithmetic end to end (decimal(38,0)-widened — the
  numerator passes int64 around 1e13 corpus tokens), quantized to
  micros with one truncating division.
- The idf log is quantized per TERM before any aggregation
  (floor(log2(x)*1e6 + 0.5), lm.py's discipline — raw log2 differs
  across engines in the last ulp), with the classic BM25+1 idf
  log2((N - df + 0.5)/(df + 0.5) + 1) expressed over exact odd
  integers (2N-2df+1)/(2df+1).
- Per-term contribution = idf_micro * tfnorm_micro div 1e6; the score
  is their integer sum — no float accumulation order anywhere.

Scale shape: one staged tokenize + posting aggregate (map-side
combinable), corpus stats as a one-row broadcast, the query-term table
broadcast by construction (it is the literal query workload), one
(doc, term) join, one doc-grain aggregate, grouped top-k window. The
full corpus is never sorted and no all-pairs term join exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.operators.util import barrier

PPM = 1_000_000


def bm25_topk(
    df: DataFrame,
    queries: list[tuple[int, list[str]]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Top-k documents per query under exact integer-quantized BM25
    (k1=1.2, b=0.75). ``queries``: [(query_id, [term, ...]), ...] — the
    literal query workload. Returns (query_id, doc_id, score_micro,
    rnk) with (score desc, doc_id) ranking; only documents containing
    at least one query term are scored (standard inverted-index
    behavior)."""
    from dnsflow_clickhouse_spark.functions.textfn import tokens

    spark = df.sparkSession
    staged = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    ).transform(barrier)
    lens = staged.select("id", F.size("toks").cast("long").alias("len"))
    post = (
        staged.select("id", F.explode("toks").alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    stats = lens.agg(
        F.count(F.lit(1)).cast("long").alias("d_cnt"),
        F.sum("len").cast("long").alias("t_cnt"),
    )
    qt = spark.createDataFrame(
        [(qid, t) for qid, terms in queries for t in terms],
        "query_id long, term string",
    ).dropDuplicates()
    dfreq = (
        post.join(F.broadcast(qt.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count_distinct("id").cast("long").alias("df"))
    )
    # idf quantized per term (lm.py discipline): the log argument is an
    # exact small-integer ratio, identical in any engine
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "term",
        F.floor(
            F.log2(
                (2 * F.col("d_cnt") - 2 * F.col("df") + 1).cast("double")
                / (2 * F.col("df") + 1).cast("double")
                + F.lit(1.0)
            )
            * PPM
            + F.lit(0.5)
        )
        .cast("long")
        .alias("idf_micro"),
    )
    scored = (
        post.join(F.broadcast(qt), "term")
        .join(F.broadcast(idf), "term")
        .join(lens, "id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "tfnorm_micro",
            F.expr(
                "CAST(22 AS DECIMAL(38,0)) * t_cnt * tf * 1000000"
                " div (CAST(10 AS DECIMAL(38,0)) * t_cnt * tf"
                "      + 3 * t_cnt + 9 * len * d_cnt)"
            ),
        )
        .withColumn(
            "contrib", F.expr("idf_micro * tfnorm_micro div 1000000")
        )
        .groupBy("query_id", "id")
        .agg(F.sum("contrib").cast("long").alias("score_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            F.col("id").alias(id_col),
            "score_micro",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def lexical_cosine_rerank(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact term-frequency cosine² for a bounded candidate pair set —
    the verify/rerank stage after LSH blocking (candidates from
    lsh_candidate_pairs; this scores them lexically, the way a dedup
    pipeline confirms candidates before acting). cos² is reported as
    exact integer parts-per-billion: ``dot² * 1e9 // (|a|²·|b|²)`` in
    DECIMAL(38,0) — monotone in |cosine| with zero float ops, so the
    threshold gate is engine-portable (dot is nonnegative here: raw
    term counts).

    Plan shape (100 TB): TF rows (id, term, tf) are built once (one
    explode + one groupBy); the dot product is two equi-joins keyed by
    (pair id, term) over ONLY the candidate pairs' postings — never a
    corpus self-join; norms ride a broadcast-friendly per-id aggregate.
    Work is Σ_pairs(|terms_a| + |terms_b|), linear in candidate mass.
    """
    from dnsflow_clickhouse_spark.functions.textfn import tokens
    from dnsflow_clickhouse_spark.operators.util import cpu_repartition

    tf = (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
        .transform(lambda d: cpu_repartition(d, "id"))
        .select("id", tokens(F.col("__text")).alias("__toks"))
        # Generate-input barrier (the dedup.py rule): explode over the
        # LIVE tokenizer expression re-evaluates it per emitted token,
        # and tf is read four times below (norms + both dot sides) —
        # without the checkpoint each reuse re-runs the whole pipeline
        .transform(barrier)
        .select("id", F.explode("__toks").alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(barrier)
    )
    norms = tf.groupBy("id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("long").alias("norm_sq")
    )
    # the candidate generator upstream (LSH signatures) is the
    # expensive lineage; it is read once for dot and once for the
    # final pair frame — pin it
    p = barrier(pairs.select("id_a", "id_b"))
    dot = (
        p.join(tf.select(F.col("id").alias("id_a"), "term", F.col("tf").alias("tf_a")), "id_a")
        .join(
            tf.select(F.col("id").alias("id_b"), "term", F.col("tf").alias("tf_b")),
            ["id_b", "term"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).cast("long").alias("dot"))
    )
    na = norms.select(F.col("id").alias("id_a"), F.col("norm_sq").alias("na"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("norm_sq").alias("nb"))
    return (
        p.join(dot, ["id_a", "id_b"], "left")
        .join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.coalesce("dot", F.lit(0)).cast("long").alias("dot"),
            F.col("na").alias("norm_sq_a"),
            F.col("nb").alias("norm_sq_b"),
            F.expr(
                "CAST(CAST(coalesce(dot, 0) AS DECIMAL(38,0))"
                " * coalesce(dot, 0) * 1000000000"
                " div (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"
            ).alias("cos_sq_ppb"),
        )
    )
