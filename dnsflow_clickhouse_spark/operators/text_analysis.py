"""Text-analysis operators (engine extension): heuristic language ID,
document fingerprinting, quality filtering. All in-row Catalyst
expressions over the shared textfn primitives — zero shuffle until the
final aggregation a caller adds.

Expression-shape rule (see operators/dedup.py): higher-order lambdas run
interpreted and nested Columns re-inline their children, so
``analyze_documents`` stages the token array once and derives every
feature from the staged column; Column-level helpers remain for
composition and tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.functions.textfn import (
    non_alnum_ratio,
    poly_hash,
    stopword_ratio,
    token_count,
    tokens,
)
from dnsflow_clickhouse_spark.operators.util import barrier

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不"],
}
_LANG_ORDER = ["de", "en", "es", "fr", "zh"]  # tie-break: alphabetical


def _hits_from_tokens(toks: Column, lang: str) -> Column:
    sw = LANG_STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: F.lower(t).isin(*sw)))


def lang_hits(text: Column, lang: str) -> Column:
    """Count of tokens belonging to ``lang``'s stopword list."""
    return _hits_from_tokens(tokens(text), lang)


def _guess_from_hits(hits: dict[str, Column]) -> Column:
    best = F.greatest(*hits.values())
    guess = F.lit("unknown")
    # build right-to-left so earlier languages win ties
    for lg in reversed(_LANG_ORDER):
        guess = F.when((best > 0) & (hits[lg] == best), F.lit(lg)).otherwise(guess)
    return guess


def lang_guess(text: Column) -> Column:
    """argmax over language stopword hits; 'unknown' when all zero.
    Ties resolve to the alphabetically-first language (deterministic)."""
    return _guess_from_hits({lg: lang_hits(text, lg) for lg in _LANG_ORDER})


def fingerprint(text: Column) -> Column:
    """Deterministic 2-part document fingerprint: polynomial rolling hash
    of the whole text combined with the token count — a cheap stable
    identity for shard-level dedup bookkeeping."""
    return F.concat_ws(
        "-",
        poly_hash(text).cast("string"),
        token_count(text).cast("string"),
    )


def _round6(x: Column) -> Column:
    """6-decimal engine-portable rounding — see functions/numeric.py
    (Spark's round() HALF_UPs the shortest decimal string; caught live
    at sf0.1 on three quality scores)."""
    from dnsflow_clickhouse_spark.functions.numeric import portable_round

    return portable_round(x, 6)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality: length, alnum-ness, stopword-ness. The
    expression shape is fixed so cross-engine doubles agree."""
    toks = token_count(text).cast("double")
    return _round6(
        F.lit(0.3) * F.least(F.lit(1.0), toks / F.lit(200.0))
        + F.lit(0.4) * (F.lit(1.0) - non_alnum_ratio(text))
        + F.lit(0.3) * stopword_ratio(text)
    )


def repetition_metrics(
    df: DataFrame, text_col: str = "text", ns: tuple[int, ...] = (2, 3)
) -> DataFrame:
    """Gopher-style within-document repetition: for each n in ``ns``,
    attach ``dup{n}_ppm`` — the fraction of n-gram occurrences that are
    repeats of an earlier occurrence, in integer parts-per-million.

    Repeated boilerplate (headers, spam templates, looping generations)
    shows up as a high duplicate-gram fraction long before exact dedup
    would catch it. Map-only: one staged tokenization per row, each
    fraction a single integer-exact expression — no shuffle, no UDF.
    The ppm is floor((total - distinct) * 1e6 / total): with total ≤
    doc length, the true quotient is never within an ulp of an integer
    from below, so the IEEE floor is engine-identical.
    """
    toks = F.col("__toks")
    out = df.withColumn("__toks", tokens(F.col(text_col)))
    for n in ns:
        total = F.size(toks) - F.lit(n - 1)
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
            ),
        )
        dup = total - F.size(F.array_distinct(grams))
        out = out.withColumn(
            f"dup{n}_ppm",
            F.when(
                total > 0,
                F.floor(dup.cast("double") * 1_000_000 / total.cast("double")),
            )
            .otherwise(0)
            .cast("long"),
        )
    return out.drop("__toks")


def score_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach only (toks, quality) with the token array staged once.

    Lean sibling of ``analyze_documents`` for quality-gating passes that
    don't need lang/fingerprint columns: the analysis tree stays small
    (planning + codegen cost scales with expression size, which matters
    when the pass runs per micro-batch), and the op stays map-only — no
    shuffle, file splits provide the parallelism at scale.
    """
    from dnsflow_clickhouse_spark.functions.textfn import STOPWORDS_EN

    t = F.col(text_col)
    toks = F.col("__toks")
    n_toks = F.col("toks")
    sw_hits = F.size(F.filter(toks, lambda x: F.lower(x).isin(*STOPWORDS_EN)))
    quality = _round6(
        F.lit(0.3) * F.least(F.lit(1.0), n_toks.cast("double") / F.lit(200.0))
        + F.lit(0.4) * (F.lit(1.0) - non_alnum_ratio(t))
        + F.lit(0.3)
        * F.when(n_toks == 0, F.lit(0.0)).otherwise(
            sw_hits.cast("double") / n_toks.cast("double")
        )
    )
    return (
        df.withColumn("__toks", tokens(t))
        .withColumn("toks", F.size(toks).cast("long"))
        .withColumn("quality", quality)
        .drop("__toks")
    )


def analyze_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full text-analysis column family (toks, lang_guess,
    quality, fp), with the token array staged once per row and every
    feature derived from the staged columns."""
    t = F.col(text_col)
    toks = F.col("__toks")
    n_toks = F.col("toks")
    # per-language hit counts staged as columns: the guess expression
    # references each count twice (argmax + tie chain), so attributes
    # keep the scan count at one per language and the codegen tree small
    hits = {lg: F.col(f"__hit_{lg}") for lg in _LANG_ORDER}
    from dnsflow_clickhouse_spark.functions.textfn import STOPWORDS_EN

    sw_hits = F.size(F.filter(toks, lambda x: F.lower(x).isin(*STOPWORDS_EN)))
    quality = _round6(
        F.lit(0.3) * F.least(F.lit(1.0), n_toks.cast("double") / F.lit(200.0))
        + F.lit(0.4) * (F.lit(1.0) - non_alnum_ratio(t))
        + F.lit(0.3)
        * F.when(n_toks == 0, F.lit(0.0)).otherwise(
            sw_hits.cast("double") / n_toks.cast("double")
        )
    )
    out = df.withColumn("__toks", tokens(t)).withColumn(
        "toks", F.size(toks).cast("long")
    )
    for lg in _LANG_ORDER:
        out = out.withColumn(f"__hit_{lg}", _hits_from_tokens(toks, lg))
    return (
        out.withColumn("lang_guess", _guess_from_hits(hits))
        .withColumn("quality", quality)
        .withColumn(
            "fp",
            F.concat_ws("-", poly_hash(t).cast("string"), n_toks.cast("string")),
        )
        .drop("__toks", *[f"__hit_{lg}" for lg in _LANG_ORDER])
    )


def _mask_mix(doc_id: Column, pos: Column, seed: int = 0) -> Column:
    """Deterministic pseudo-random value in [0, 1000003) from
    (doc_id, pos): the same square-mix recipe as similarity's
    hyperplane coefficients — pure int64-safe modular arithmetic (the
    doc id is reduced mod 1000003 BEFORE the multiply so the mix never
    overflows at 100 TB id ranges), replayable verbatim in any SQL
    engine. Chosen over poly_hash(token) because masking needs only
    positional determinism and poly_hash's per-char fold is an
    interpreted lambda on the hot path."""
    m = 1_000_003
    y = (
        F.pmod(doc_id.cast("long"), F.lit(m)) * F.lit(131071)
        + pos.cast("long") * F.lit(8191)
        + F.lit(seed)
    ) % F.lit(m)
    return (y * y + y) % F.lit(m)


def mask_positions_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rate_pct: int = 15,
    seed: int = 0,
) -> DataFrame:
    """Masked-LM sample plan (BERT-style 15% masking, Devlin 2018) with
    DETERMINISTIC mask positions: token position p of document d is
    masked iff mix(d, p) % 100 < rate_pct. Deterministic masking makes
    the training set reproducible end-to-end (and the op
    oracle-replayable) — the standard seeded-RNG recipe re-expressed as
    modular arithmetic.

    Scale shape: stage the token array behind a lineage barrier (the
    explode-input rule — Generate re-evaluates a live expression per
    emitted row), posexplode, one map-side mask expression, one hash
    aggregate back to doc grain. No UDFs, no driver state.

    Output per doc: (id, n_toks, n_masked, mask_ppm, first_mask) —
    first_mask the smallest masked position, -1 when none/empty.
    """
    from dnsflow_clickhouse_spark.functions.textfn import tokens

    staged = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    ).transform(barrier)
    pos = staged.select(
        "id", F.posexplode("toks").alias("pos", "tok")
    ).withColumn(
        "is_masked",
        (F.pmod(_mask_mix(F.col("id"), F.col("pos"), seed), F.lit(100))
         < F.lit(rate_pct)).cast("long"),
    )
    per = pos.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_toks"),
        F.sum("is_masked").cast("long").alias("n_masked"),
        F.coalesce(
            F.min(F.when(F.col("is_masked") == 1, F.col("pos"))), F.lit(-1)
        )
        .cast("long")
        .alias("first_mask"),
    )
    return (
        staged.select("id")
        .join(per, "id", "left")
        .select(
            "id",
            F.coalesce("n_toks", F.lit(0)).cast("long").alias("n_toks"),
            F.coalesce("n_masked", F.lit(0)).cast("long").alias("n_masked"),
            F.when(
                F.coalesce(F.col("n_toks"), F.lit(0)) > 0,
                F.expr("n_masked * 1000000 div n_toks"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("mask_ppm"),
            F.coalesce("first_mask", F.lit(-1)).cast("long").alias("first_mask"),
        )
    )


def bigram_novelty(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Cross-document n-gram novelty: the fraction of a document's
    distinct bigrams that appear in NO other document (document
    frequency 1) — the content-originality score dual to
    boilerplate_grams' shared-gram leaderboard. High novelty = unique
    content; near-zero = assembled from corpus-common phrasing.

    Scale shape: staged gram arrays (explode-input rule), one explode,
    one gram-keyed hash aggregate for document frequency (map-side
    combinable), one join back on the gram, one doc-grain aggregate.
    The gram vocabulary is the only shuffled key — no pair join, no
    quadratic term anywhere.

    Output per doc: (id, n_grams, n_novel, novel_ppm) — zeros for
    empty docs; ppm = floor(n_novel * 1e6 / n_grams).
    """
    from dnsflow_clickhouse_spark.operators.dedup import staged_grams

    # Generate-input barrier (the explode-input rule): explode over a
    # LIVE HOF-built gram array re-evaluates the builder per emitted row
    g = barrier(staged_grams(df, id_col, text_col, ngram=2))
    e = g.select("id", F.explode("grams").alias("gram"))
    dfreq = e.groupBy("gram").agg(F.count_distinct("id").alias("gdf"))
    per = (
        e.join(dfreq, "gram")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("gdf") == 1).cast("long")).cast("long").alias("n_novel"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per, "id", "left")
        .select(
            "id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.when(
                F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
                F.expr("n_novel * 1000000 div n_grams"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("novel_ppm"),
        )
    )


def chi2_token_assoc(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 5,
    top_k: int = 3,
) -> DataFrame:
    """Chi-squared token-vs-group association (one-vs-rest 2x2 on
    document-level presence) — the classic feature-selection /
    "what words characterize this slice" screen (Manning & Schütze ch.5)
    a curation run uses to see what distinguishes a source before
    up/down-weighting it.

    chi2 = N (ad - bc)^2 / ((a+b)(c+d)(a+c)(b+d)) over presence counts
    a,b,c,d; computed exactly in decimal(38,0) (the numerator passes
    int64 at ~1e5 docs) and reported as chi2_micro = floor(num * 1e6 /
    den) — integer-exact ranking, no float boundary. Tokens must appear
    in >= min_df docs; all-docs tokens drop (degenerate margin).

    Scale shape: distinct (group, token, doc) presence -> two hash
    aggregates -> a groups x vocab grid joined from the marginals
    (vocab-sized, not corpus-sized) -> per-group top-k window.
    """
    from dnsflow_clickhouse_spark.functions.textfn import tokens

    staged = df.select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("id"),
        # distinct inside the barrier: explode must read a materialized
        # array, not re-evaluate tokenize+distinct per emitted row
        F.array_distinct(tokens(F.col(text_col))).alias("toks"),
    ).transform(barrier)
    pres = staged.select("g", "id", F.explode("toks").alias("tok"))
    tok_df = pres.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok")
    )
    grp_n = staged.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("n_g"))
    total = staged.agg(F.count(F.lit(1)).cast("long").alias("n_tot"))
    gt = pres.groupBy("g", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    cells = (
        grp_n.crossJoin(tok_df.filter(F.col("n_tok") >= min_df))
        .join(gt, ["g", "tok"], "left")
        .withColumn("a", F.coalesce(F.col("a"), F.lit(0)))
        .crossJoin(total)
        .withColumn("b", F.col("n_g") - F.col("a"))
        .withColumn("c", F.col("n_tok") - F.col("a"))
        .withColumn(
            "d", F.col("n_tot") - F.col("n_g") - F.col("n_tok") + F.col("a")
        )
    )
    den = F.expr("CAST(a+b AS DECIMAL(38,0)) * (c+d) * (a+c) * (b+d)")
    # IntegralDivide on decimals returns long and truncates toward zero
    # == floor for these nonnegative operands == DuckDB // (the repo's
    # integer-div portability rule)
    chi2 = F.expr(
        "(CAST(n_tot AS DECIMAL(38,0)) * (a*d - b*c) * (a*d - b*c)"
        " * 1000000)"
        " div (CAST(a+b AS DECIMAL(38,0)) * (c+d) * (a+c) * (b+d))"
    )
    scored = cells.withColumn(
        "chi2_micro",
        F.when(den > 0, chi2).otherwise(F.lit(None)).cast("long"),
    ).filter(F.col("chi2_micro").isNotNull())
    w = Window.partitionBy("g").orderBy(F.desc("chi2_micro"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select(
            F.col("g").alias(group_col),
            "tok",
            "a",
            "n_tok",
            "chi2_micro",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def oov_rate_report(
    df: DataFrame,
    group_cols: list[str],
    text_col: str = "text",
    vocab_size: int = 20,
) -> DataFrame:
    """Vocabulary-coverage / out-of-vocabulary audit: fix the vocabulary
    as the corpus's ``vocab_size`` most frequent tokens (ties broken by
    token string, so the vocabulary is a pure function of the corpus),
    then report per group how much token mass falls OUTSIDE it — the
    coverage check run before committing to a tokenizer/vocab: a source
    whose oov_ppm spikes is a source the vocabulary underserves.

    Plan: one (group, token) count aggregate feeds BOTH the global
    vocabulary top-K (re-aggregate to token grain -> one
    TakeOrderedAndProject, driver never sees raw rows) and the per-group
    coverage sums (broadcast the tiny vocab back as a membership flag).
    The fact-side token counts are computed exactly once.
    """
    gcols = [F.col(c) for c in group_cols]
    tok_counts = (
        df.select(*gcols, F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy(*group_cols, "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = (
        tok_counts.groupBy("tok")
        .agg(F.sum("cnt").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(vocab_size)
        .select("tok")
    )
    flagged = tok_counts.join(
        F.broadcast(vocab.withColumn("__in", F.lit(1))), "tok", "left"
    )
    return (
        flagged.groupBy(*group_cols)
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("__in").isNull(), F.col("cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_oov"),
        )
        .withColumn("oov_ppm", F.expr("(n_oov * 1000000) div n_tokens").cast("long"))
    )


def vocab_coverage_curve(
    df: DataFrame, text_col: str = "text", ks: list[int] | None = None
) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocabulary size K,
    the exact ppm of corpus token mass covered by the top-K most
    frequent tokens (ties broken by token string) — the sizing curve
    read before fixing a vocab (oov_rate_report audits one point of it
    per group; this sweeps K).

    Plan: ONE corpus-scale (token, freq) aggregate; the rank window and
    the coverage joins run on the VOCAB-grain frame (distinct tokens),
    which is orders of magnitude smaller than the corpus — at web scale
    still millions of rows, but that is an executor-trivial sort, and
    the output is len(ks) rows."""
    ks = sorted(ks or [1, 2, 5, 10, 20])
    freqs = (
        df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("tok")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = (
        freqs.withColumn("cum", F.sum("freq").over(w))
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("tok"))),
        )
        .withColumn("total", F.sum("freq").over(Window.partitionBy()))
    )
    spark = df.sparkSession
    kdf = spark.createDataFrame([(k,) for k in ks], "k int")
    return (
        ranked.join(F.broadcast(kdf), F.col("rank") == F.col("k"))
        .select(
            F.col("k").cast("int").alias("k"),
            F.col("cum").cast("long").alias("covered_tokens"),
            F.col("total").cast("long").alias("total_tokens"),
            F.expr("(cum * 1000000) div total").cast("long").alias("coverage_ppm"),
        )
        .orderBy("k")
    )
