"""Cross-document duplicate-SPAN detection (engine extension).

The dedup family so far answers "which DOCUMENTS are near-duplicates"
(MinHash/SimHash/Jaccard in operators/dedup.py) and "how repetitive is
a document INTERNALLY" (repetition_metrics in operators/text_analysis).
The remaining curation question from the exact-substring-dedup
literature (suffix-array dedup à la "Deduplicating Training Data Makes
Language Models Better") is positional: WHICH token ranges of each
document also occur in other documents, and how much of the corpus is
duplicated mass. A suffix array is not a Spark-shaped structure; the
standard distributed approximation is fixed-width token shingles —
every duplicated span of >= k tokens is covered by duplicated k-gram
shingles, so merging the overlapping duplicated-shingle positions
recovers the maximal duplicated spans (granularity k, the same
trade the MinHash shingle width makes).

Scale shape (everything built-in, no Python stages):
- shingle extraction is an in-row ``transform(sequence(...))`` +
  ``posexplode`` — one output row per token position, linear;
- document frequency is one ``groupBy(gram)`` with map-side partial
  aggregation; the semi-join back to positions is an equi-join on the
  gram (AQE skew-splits hot shingles, e.g. boilerplate);
- interval merge is the classic gaps-and-islands: one window per
  ``doc_id`` ordered by position (running max of span ends), then a
  ``groupBy(doc_id, island)`` that reuses the window's partitioning.
  No global window, no driver state — survives 100 TB by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.functions.textfn import tokens
from dnsflow_clickhouse_spark.operators.util import barrier


def positional_ngrams(toks: Column, k: int) -> Column:
    """array<struct<pos:int, gram:string>> of ALL k-gram shingles with
    their 0-based start position (duplicates kept — position matters
    here, unlike the distinct sets in ``ngrams_from_tokens``). Empty
    array when the document is shorter than ``k``."""
    cnt = F.size(toks)
    idx = F.sequence(F.lit(0), cnt - k)
    grams = F.transform(
        idx,
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.concat_ws(
                " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(k)]
            ).alias("gram"),
        ),
    )
    return F.when(cnt >= k, grams).otherwise(
        F.array().cast("array<struct<pos:int,gram:string>>")
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_df: int = 2,
    hash_grams: bool = False,
) -> DataFrame:
    """Per-document duplicated-span record: ``(doc_id, n_toks, n_spans,
    dup_tokens, dup_ppm)`` where a position is duplicated iff the
    k-token shingle starting there occurs in at least ``min_df``
    DISTINCT documents (cross-document mass only — within-doc repeats
    are repetition_metrics' job), and overlapping duplicated shingles
    are merged into maximal spans. ``dup_ppm`` is exact-integer:
    floor(1e6 * dup_tokens / n_toks).

    Every document of the input appears in the output (docs with no
    duplicated span report zeros), so the result is directly usable as
    a filter/penalty column source in a curation funnel.

    ``hash_grams=True`` is the 100 TB shuffle knob: the DF groupBy and
    the semi-join key become ``xxhash64(gram)`` (8 bytes) instead of the
    raw k-token string (~50-100 bytes) — ~an order of magnitude less
    shuffle traffic for the heaviest stage. A 64-bit collision falsely
    marks one k-gram position duplicated (~n^2/2^65 expected over the
    corpus — vanishing); the catalog query keeps raw grams so the
    DuckDB oracle replays the join bit-exactly.
    """
    base = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    )
    # Stage the token arrays once: the explode below would otherwise
    # re-run tokenization per emitted shingle (generate-input rule, same
    # as ngram_jaccard_pairs).
    staged = base.select(
        "doc_id", F.size("toks").alias("n_toks"), "toks"
    ).transform(barrier)
    gram_key = (
        F.xxhash64(F.col("pg.gram")) if hash_grams else F.col("pg.gram")
    )
    pos = staged.select(
        "doc_id",
        F.explode(positional_ngrams(F.col("toks"), k)).alias("pg"),
    ).select("doc_id", F.col("pg.pos").alias("pos"), gram_key.alias("g"))
    # Shingles seen in >= min_df distinct docs. countDistinct is exact;
    # the groupBy partially aggregates map-side on (g, doc_id) pairs.
    dup_grams = (
        pos.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("g")
    )
    dup_pos = pos.join(dup_grams, "g", "semi").select("doc_id", "pos")
    # Gaps-and-islands interval merge, one window per doc ordered by pos.
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = dup_pos.withColumn(
        "brk",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0),
    ).withColumn(
        "span_id",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = islands.groupBy("doc_id", "span_id").agg(
        F.min("pos").alias("s"), (F.max("pos") + k).alias("e")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).alias("dup_tokens"),
    )
    out = (
        staged.select("doc_id", "n_toks")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_toks").cast("long").alias("n_toks"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        )
        .withColumn(
            "dup_ppm",
            F.when(F.col("n_toks") == 0, F.lit(0).cast("long")).otherwise(
                F.floor(F.lit(1_000_000) * F.col("dup_tokens") / F.col("n_toks"))
            ),
        )
    )
    return out
