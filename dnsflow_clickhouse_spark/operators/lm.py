"""Statistical language-model scoring operators (engine extension for
training-data pipelines): add-one-smoothed bigram log-probability
scoring (the KenLM-style perplexity filter) and token-distribution
Shannon entropy.

These are the two classic log-domain corpus filters. The repo's
exactness discipline normally bans exp/log (libm results differ across
engines in the last ulp — measured: ~1/3 of raw log2 values differ
between Spark and DuckDB), so the log layer here is QUANTIZED AT THE
TERM LEVEL: each per-bigram/per-token contribution becomes an integer
micro/nano unit via floor(x * scale + 0.5) BEFORE any aggregation, and
only exact integers are ever summed. Engines then disagree only if a
single term's double lands within an ulp of a rounding boundary
(~1e-8 per term — measured zero over the smoothed-ratio range), not
whenever the float ACCUMULATION ORDER differs (which local shuffles
make certain).

Scale shapes:
- ``bigram_logprob_scores``: instances aggregate to (doc, a, b, n)
  before joining the count tables, so the two equi-joins move one row
  per distinct in-doc bigram, not one per token. The count tables are
  corpus-wide aggregates (map-side combinable); vocabulary size is a
  one-row frame broadcast into the expression. No collect, no window.
- ``token_entropy_by_group``: two hash aggregations (token counts,
  then per-group fold) — the same cascade as gini_concentration, plus
  the quantized log term in between.
- Overflow: term micros are O(30e6); n * micro sums stay < 2^63 until
  ~3e11 bigram instances per doc — unreachable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.operators.util import barrier

MICRO = 1_000_000
NANO = 1_000_000_000


def _quant_log2(x: Column, scale: int) -> Column:
    """floor(log2(x) * scale + 0.5) as long — the term-level log
    quantization both engines replay identically."""
    return F.floor(F.log2(x) * scale + F.lit(0.5)).cast("long")


def bigram_logprob_scores(
    df: DataFrame, id_col: str, toks: Column
) -> DataFrame:
    """Per-document add-one-smoothed bigram log2-probability under the
    corpus's own bigram LM — the self-perplexity filter: documents far
    below the corpus average are boilerplate/gibberish candidates.

    Model: p(b|a) = (c2(a,b) + 1) / (c1(a) + V), with c1(a) the history
    count (sum of c2 over continuations) and V the corpus vocabulary.
    Each distinct in-doc bigram contributes
    n_occurrences * floor(log2(p) * 1e6 + 0.5).

    Output: id, n_bigrams, logprob_micro (exact long sum),
    avg_logprob (double = micro sum / n / 1e6, deterministic).
    Documents with < 2 tokens are excluded (no bigrams to score).
    """
    base = df.select(F.col(id_col).alias("id"), toks.alias("toks")).filter(
        F.size("toks") >= 2
    )
    bg = base.select(
        "id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> struct(toks[i] AS a, toks[i + 1] AS b))"
            )
        ).alias("p"),
    ).select("id", "p.a", "p.b")
    per_doc = bg.groupBy("id", "a", "b").agg(F.count(F.lit(1)).alias("n"))
    c2 = per_doc.groupBy("a", "b").agg(F.sum("n").alias("c2"))
    c1 = c2.groupBy("a").agg(F.sum("c2").alias("c1"))
    vocab = df.select(F.explode(toks).alias("t")).agg(
        F.count_distinct("t").alias("v")
    )
    scored = (
        per_doc.join(c2, ["a", "b"])
        .join(c1, ["a"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "id",
            "n",
            _quant_log2(
                (F.col("c2") + 1).cast("double")
                / (F.col("c1") + F.col("v")).cast("double"),
                MICRO,
            ).alias("term_micro"),
        )
    )
    return scored.groupBy(F.col("id").alias(id_col)).agg(
        F.sum("n").cast("long").alias("n_bigrams"),
        F.sum(F.col("n") * F.col("term_micro")).cast("long").alias("logprob_micro"),
        (
            F.sum(F.col("n") * F.col("term_micro")).cast("double")
            / F.sum("n").cast("double")
            / MICRO
        ).alias("avg_logprob"),
    )


def dsir_log_ratio_scores(
    df: DataFrame, id_col: str, toks: Column, is_target: Column
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): per-document
    log-likelihood RATIO between a target-slice bigram LM and the raw
    corpus bigram LM. Documents whose n-gram statistics look like the
    target domain get positive weights; importance resampling then
    keeps a target-shaped subset of the raw corpus. This is the data-
    selection stage run before pre-training when a small high-quality
    exemplar corpus (the ``is_target`` slice) should steer what is
    kept from a 100 TB crawl.

    weight(doc) = sum over in-doc bigrams of
        n * (log2 p_target(b|a) - log2 p_raw(b|a)),
    both models add-one smoothed: p(b|a) = (c2+1) / (c1+V). Bigrams
    unseen in the target back off through the same smoothed formula
    (c2t=0; c1t=0 too when the history token is also unseen), so every
    weight is finite.

    Exactness: both log terms quantize to integer micros per bigram
    (floor(log2(p) * 1e6 + 0.5)) BEFORE the subtraction and the sum —
    the module's no-float-accumulation contract.

    Scale shape: instances pre-aggregate to (doc, a, b, n); the raw
    count tables are the corpus-wide aggregates bigram_logprob_scores
    already uses; the target tables aggregate only the target slice
    (typically tiny — AQE broadcasts them when they fit); vocabularies
    are one-row frames.
    Two LEFT equi-joins + one inner, no collect, no window.

    Output: id_col, n_bigrams, dsir_micro (exact long),
    avg_dsir (double = micro / n / 1e6).
    """
    base = df.select(
        F.col(id_col).alias("id"), toks.alias("toks"), is_target.alias("tgt")
    ).filter(F.size("toks") >= 2)
    bg = base.select(
        "id",
        "tgt",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> struct(toks[i] AS a, toks[i + 1] AS b))"
            )
        ).alias("p"),
    ).select("id", "tgt", "p.a", "p.b")
    per_doc = bg.groupBy("id", "a", "b").agg(F.count(F.lit(1)).alias("n"))
    # raw model: every document
    c2r = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c2r"))
    c1r = c2r.groupBy("a").agg(F.sum("c2r").alias("c1r"))
    # target model: the is_target slice only
    tgt_bg = bg.filter(F.col("tgt"))
    c2t = tgt_bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c2t"))
    c1t = c2t.groupBy("a").agg(F.sum("c2t").alias("c1t"))
    vocab = df.select(
        F.explode(toks).alias("t"), is_target.alias("tgt")
    ).agg(
        F.count_distinct("t").alias("vr"),
        F.count_distinct(F.when(F.col("tgt"), F.col("t"))).alias("vt"),
    )
    scored = (
        per_doc.join(c2r, ["a", "b"])
        .join(c1r, ["a"])
        .join(c2t, ["a", "b"], "left")
        .join(c1t, ["a"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "id",
            "n",
            (
                _quant_log2(
                    (F.coalesce(F.col("c2t"), F.lit(0)) + 1).cast("double")
                    / (F.coalesce(F.col("c1t"), F.lit(0)) + F.col("vt")).cast(
                        "double"
                    ),
                    MICRO,
                )
                - _quant_log2(
                    (F.col("c2r") + 1).cast("double")
                    / (F.col("c1r") + F.col("vr")).cast("double"),
                    MICRO,
                )
            ).alias("term_micro"),
        )
    )
    return scored.groupBy(F.col("id").alias(id_col)).agg(
        F.sum("n").cast("long").alias("n_bigrams"),
        F.sum(F.col("n") * F.col("term_micro")).cast("long").alias("dsir_micro"),
        (
            F.sum(F.col("n") * F.col("term_micro")).cast("double")
            / F.sum("n").cast("double")
            / MICRO
        ).alias("avg_dsir"),
    )


def token_jsd_pairs(
    df: DataFrame, group_col: str, toks: Column
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (bits) between every two
    groups' token distributions — the symmetric, bounded [0, 1]
    corpus-mixture diagnostic: which sources/languages/snapshots are
    interchangeable and which contribute genuinely distinct text.
    (Entropy — token_entropy_by_group — monitors each group alone;
    JSD is the cross-group member of the family.)

    JSD(P, Q) = KL(P||M)/2 + KL(Q||M)/2 with M = (P+Q)/2. Tokens
    absent from a side contribute 0 to that side's KL, so each KL sum
    needs only that side's tokens LEFT-joined to the other side's
    counts — no full-outer union-of-vocab frame.

    Exactness: per-token terms are count-weighted BEFORE summation
    (wterm = c * floor(log2(p/m) * 1e9 + 0.5)), so only exact longs
    are summed; the final division is one integer div per side. The
    double ratio p/m feeding log2 is a composition of IEEE-exact
    divisions both engines round identically.

    Scale shape: one (group, token) hash agg over the corpus, then the
    pair fan-out joins COUNT rows, not documents — cost is
    O(group_pairs_per_group x distinct (group, token) rows). Sized for
    tens of groups (sources, languages, snapshots); for hundreds,
    anchor one side (compare each group to a fixed reference mixture)
    to make the fan-out constant.

    Output: grp_a, grp_b, n_a, n_b, jsd_nano (exact long),
    jsd_bits (double = nano / 1e9).
    """
    counts = (
        df.select(F.col(group_col).alias("grp"), F.explode(toks).alias("t"))
        .groupBy("grp", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.groupBy("grp").agg(F.sum("c").alias("n"))
    pairs = (
        totals.alias("x")
        .crossJoin(totals.alias("y"))
        .filter(F.col("x.grp") < F.col("y.grp"))
        .select(
            F.col("x.grp").alias("grp_a"),
            F.col("x.n").alias("n_a"),
            F.col("y.grp").alias("grp_b"),
            F.col("y.n").alias("n_b"),
        )
    )

    def _side_sum(own: str, other: str, na: str, nb: str, out: str) -> DataFrame:
        ca = counts.select(
            F.col("grp").alias(own), F.col("t").alias("t"), F.col("c").alias("ca")
        )
        cb = counts.select(
            F.col("grp").alias(other), F.col("t").alias("t"), F.col("c").alias("cb")
        )
        frame = (
            F.broadcast(pairs)
            .join(ca, [own])
            .join(cb, [other, "t"], "left")
            .select(
                "grp_a",
                "grp_b",
                (
                    F.col("ca")
                    * _quant_log2(
                        (
                            F.col("ca").cast("double") / F.col(na).cast("double")
                        )
                        / (
                            (
                                F.col("ca").cast("double")
                                / F.col(na).cast("double")
                                + F.coalesce(F.col("cb"), F.lit(0)).cast("double")
                                / F.col(nb).cast("double")
                            )
                            / F.lit(2.0)
                        ),
                        NANO,
                    )
                ).alias("wterm"),
            )
        )
        return frame.groupBy("grp_a", "grp_b").agg(F.sum("wterm").alias(out))

    sa = _side_sum("grp_a", "grp_b", "n_a", "n_b", "wsum_a")
    sb = _side_sum("grp_b", "grp_a", "n_b", "n_a", "wsum_b")
    return (
        pairs.join(sa, ["grp_a", "grp_b"])
        .join(sb, ["grp_a", "grp_b"])
        .select(
            "grp_a",
            "grp_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            # each side is a KL >= 0 mathematically; term quantization can
            # push a true-zero sum a few nanos negative, and Spark's div
            # (truncate) vs DuckDB's // (floor) disagree on negative
            # numerators — clamp at the theoretical floor before dividing
            (
                F.expr("greatest(wsum_a, 0L) div (2 * n_a)")
                + F.expr("greatest(wsum_b, 0L) div (2 * n_b)")
            )
            .cast("long")
            .alias("jsd_nano"),
            (
                (
                    F.expr("greatest(wsum_a, 0L) div (2 * n_a)")
                    + F.expr("greatest(wsum_b, 0L) div (2 * n_b)")
                ).cast("double")
                / NANO
            ).alias("jsd_bits"),
        )
    )


def token_entropy_by_group(
    df: DataFrame, group_col: str, toks: Column
) -> DataFrame:
    """Shannon entropy (bits) of each group's token distribution —
    the vocabulary-diversity gate (a source whose entropy collapses is
    emitting templated/boilerplate text).

    H = -sum_t p_t log2 p_t with p_t = c_t / n; each distinct token's
    term quantizes to nano units before the per-group sum. Output:
    group, n_tokens, vocab, entropy_nano (exact long),
    entropy_bits (double = nano / 1e9)."""
    counts = (
        df.select(F.col(group_col).alias("grp"), F.explode(toks).alias("t"))
        .groupBy("grp", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.groupBy("grp").agg(F.sum("c").alias("n"))
    terms = counts.join(totals, "grp").select(
        "grp",
        "c",
        (
            -_quant_log2(F.col("c").cast("double") / F.col("n").cast("double"), NANO)
            * F.col("c")
        ).alias("wterm"),
        F.col("n"),
    )
    agg = terms.groupBy("grp").agg(
        F.max("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.col("wterm")).alias("wsum"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_tokens",
        "vocab",
        F.expr("wsum div n_tokens").cast("long").alias("entropy_nano"),
        (F.expr("wsum div n_tokens").cast("double") / NANO).alias("entropy_bits"),
    )


def pmi_collocations(
    df: DataFrame, toks: Column, min_count: int = 5, k: int = 50
) -> DataFrame:
    """Pointwise-mutual-information collocation mining (the word2phrase
    stage of word2vec, Mikolov et al. 2013): adjacent token pairs whose
    joint frequency beats the independence prediction are phrase
    candidates ("new york", "crude oil") — a tokenizer-vocabulary /
    phrase-merge input for a corpus pipeline.

    pmi(a,b) = log2( p(a,b) / (p(a) p(b)) )
             = log2( (c2 * N1 * N1) / (N2 * ca * cb) ),
    with c2 the adjacent-pair count (N2 total pairs), ca/cb unigram
    counts (N1 total tokens). ``min_count`` gates rare pairs before
    any join (the standard practice — PMI explodes on hapax pairs,
    and the gate also keeps the join input a small fraction of the
    vocabulary at 100 TB).

    Exactness: the ratio is built in a PINNED order of IEEE double ops
    (((c2 * N1) * N1) / ((N2 * ca) * cb)) and quantized once to
    integer micros (psi_report's discipline), so any engine replays it
    bit-for-bit; ordering and the top-k cut use only exact values.

    Scale shape: one explode + two hash aggregates (pair counts,
    unigram counts), the totals are one-row frames broadcast into the
    expression, and the pair->unigram joins move only pairs that
    survived ``min_count``; the final top-k lowers to
    TakeOrderedAndProject. No window, no collect.

    Output: a, b, c2, ca, cb, pmi_micro — top ``k`` by
    (pmi_micro DESC, a, b), a total order.
    """
    base = df.select(toks.alias("toks")).filter(F.size("toks") >= 1)
    base = barrier(base)
    uni = base.select(F.explode("toks").alias("t")).groupBy("t").agg(
        F.count(F.lit(1)).alias("c1")
    )
    pairs = (
        base.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> struct(toks[i] AS a, toks[i + 1] AS b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    totals = pairs.agg(F.sum("c2").alias("n2")).crossJoin(
        uni.agg(F.sum("c1").alias("n1"))
    )
    ratio = (
        (F.col("c2").cast("double") * F.col("n1")) * F.col("n1")
    ) / ((F.col("n2").cast("double") * F.col("ca")) * F.col("cb"))
    return (
        pairs.filter(F.col("c2") >= min_count)
        .join(uni.withColumnRenamed("t", "a").withColumnRenamed("c1", "ca"), "a")
        .join(uni.withColumnRenamed("t", "b").withColumnRenamed("c1", "cb"), "b")
        .crossJoin(F.broadcast(totals))
        .select(
            "a",
            "b",
            "c2",
            "ca",
            "cb",
            _quant_log2(ratio, MICRO).alias("pmi_micro"),
        )
        .orderBy(F.col("pmi_micro").desc(), "a", "b")
        .limit(k)
    )


def good_turing_vocab(
    df: DataFrame, group_col: str, toks: Column
) -> DataFrame:
    """Vocabulary-growth diagnostics per group (Good 1953; Chao 1984):
    token count N, observed vocabulary V, hapax/dis legomena counts
    (f1, f2), the Good-Turing unseen-probability mass f1/N in ppm, and
    the Chao1 lower-bound vocabulary estimate
    V + f1*(f1-1) div (2*(f2+1)) (the bias-corrected form, finite when
    f2 = 0). The question these answer for a curation run: "has this
    source's vocabulary saturated, or does more crawl still buy new
    types?" — sources whose unseen mass stays high are under-sampled;
    sources near zero are exhausted (or templated).

    All exact integers: two cascading hash aggregates — (group, token)
    counts, then frequency-of-frequency rollup — both map-side
    combinable; no window, no join. The (group, token) intermediate is
    vocabulary-sized, not corpus-sized, at any SF.

    Output: group_col, n_tokens, vocab, f1, f2, gt_unseen_ppm,
    chao1_vocab.
    """
    per_tok = (
        df.select(F.col(group_col).alias("g"), F.explode(toks).alias("tok"))
        .groupBy("g", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = per_tok.groupBy("g").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("f2"),
    )
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("vocab").cast("long").alias("vocab"),
        F.col("f1").cast("long").alias("f1"),
        F.col("f2").cast("long").alias("f2"),
        F.expr("CAST(f1 AS DECIMAL(38,0)) * 1000000 div n_tokens")
        .cast("long")
        .alias("gt_unseen_ppm"),
        (
            F.col("vocab")
            + F.expr("CAST(f1 AS DECIMAL(38,0)) * (f1 - 1) div (2 * (f2 + 1))")
        )
        .cast("long")
        .alias("chao1_vocab"),
    )


def zipf_decay_by_group(
    df: DataFrame, group_col: str, toks: Column, min_count: int = 1
) -> DataFrame:
    """Zipf decay exponent per group: the OLS slope magnitude of
    log2(frequency) against log2(rank) over the group's token
    frequency table (Zipf 1949 — natural text decays with exponent
    ~1; templated/boilerplate sources decay much faster, token soup
    much slower, so the exponent is a cheap "does this source look
    like language?" gate alongside entropy and the vocabulary-growth
    report).

    Exactness: ranks are a crisp permutation (count DESC, token), both
    logs quantize to integer micros via the pinned floor chain
    (:func:`_quant_log2`), and the OLS slope is reported as the
    NONNEGATIVE decay = (sx*sy - n*sxy) * 1e6 div (n*sxx - sx*sx) in
    micro units (the sums carry micro^2 on both sides, so the raw
    quotient is the unitless exponent; the 1e6 factor re-expresses it
    in micros) — by construction frequency is non-increasing in rank, so
    covariance <= 0 and both numerator and denominator are
    nonnegative, keeping Spark's truncating div and DuckDB's flooring
    // in agreement (the sign flip is deliberate; a signed slope would
    diverge between engines on the division).

    Scale shape: (group, token) hash agg -> one group-keyed window
    rank over the VOCABULARY-sized table -> one hash agg. Groups with
    a single type report NULL (slope undefined).

    Output: group_col, n_types, zipf_decay_micro.
    """
    per_tok = (
        df.select(F.col(group_col).alias("g"), F.explode(toks).alias("tok"))
        .groupBy("g", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
    )
    w = Window.partitionBy("g").orderBy(F.col("c").desc(), "tok")
    pts = per_tok.select(
        "g",
        _quant_log2(F.row_number().over(w).cast("double"), MICRO).alias("x"),
        _quant_log2(F.col("c").cast("double"), MICRO).alias("y"),
    )
    agg = pts.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
    )
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n_types"),
        F.when(
            (F.col("n") >= 2) & (F.expr("n * sxx - sx * sx") > 0),
            F.expr("(sx * sy - n * sxy) * 1000000 div (n * sxx - sx * sx)"),
        )
        .cast("long")
        .alias("zipf_decay_micro"),
    )
