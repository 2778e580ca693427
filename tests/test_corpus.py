"""Unit tests for the corpus-curation operators (sampling, TF-IDF,
quantile gate, decontamination) on handcrafted inputs with known
answers; the sf-scale hash parity is covered by the DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.operators.corpus import (
    contamination_report,
    quantile_quality_filter,
    tf_idf_top_terms,
)
from dnsflow_clickhouse_spark.operators.sampling import (
    hash_sample,
    per_key_sample,
    stratified_sample,
)


def test_hash_sample_deterministic_and_calibrated(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s1 = {r.doc_id for r in hash_sample(df, "doc_id", 0.3).collect()}
    s2 = {r.doc_id for r in hash_sample(df, "doc_id", 0.3).collect()}
    assert s1 == s2  # pure function of the data
    assert 0.2 < len(s1) / 2000 < 0.4  # mixing actually spreads short ids
    # nested property: a lower-rate sample is a subset of a higher-rate one
    s_small = {r.doc_id for r in hash_sample(df, "doc_id", 0.1).collect()}
    assert s_small <= s1


def test_stratified_sample_rates_and_default(spark):
    rows = [(i, "en" if i % 2 == 0 else "xx") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = stratified_sample(df, "lang", {"en": 1.0}, "doc_id", default_rate=0.0)
    langs = {r.lang for r in got.collect()}
    assert langs == {"en"} and got.count() == 500  # rate 1.0 keeps all, default drops


def test_per_key_sample_bound_and_determinism(spark):
    rows = [(u, u * 100 + i) for u in range(5) for i in range(20)]
    df = spark.createDataFrame(rows, "user_id long, event_id long")
    got = per_key_sample(df, "user_id", "event_id", k=3)
    per_user = got.groupBy("user_id").count().collect()
    assert all(r["count"] == 3 for r in per_user) and len(per_user) == 5
    again = per_key_sample(df, "user_id", "event_id", k=3)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, again.collect()))


def test_tfidf_prefers_rare_terms(spark):
    docs = spark.createDataFrame(
        [(1, "apple apple common"), (2, "banana common"), (3, "common common")],
        "doc_id long, text string",
    )
    top = {
        r.doc_id: (r.term, r.tf, r.df)
        for r in tf_idf_top_terms(docs, "doc_id", "text", k=1).collect()
    }
    # 'apple': tf=2, df=1 -> 2.0 beats 'common' (tf=1, df=3)
    assert top[1] == ("apple", 2, 1)
    assert top[2] == ("banana", 1, 1)
    assert top[3] == ("common", 2, 3)  # only term present


def test_quantile_gate_discrete_threshold(spark):
    # scores 0.1..1.0 in one stratum: p25 over n=10 -> element at
    # ceil(2.5)=3 -> 0.3; survivors are 0.3..1.0 = 8 rows
    rows = [(i, "en", i / 10.0) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, quality double")
    got = quantile_quality_filter(df, "lang", "quality", "doc_id", q=0.25).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.stratum, r.threshold_micro, r.n_total, r.n_kept) == ("en", 300000, 10, 8)


def test_contamination_counts_grams_and_bench_docs(spark):
    train = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z w q")], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(100, "a b c d zz"), (101, "b c d e zz")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_shared_grams, r.n_bench_docs)
        for r in contamination_report(train, bench, "doc_id", "text", ngram=4).collect()
    }
    # doc 1 grams: {a b c d, b c d e}; bench 100 shares the first,
    # bench 101 shares the second -> 2 grams across 2 bench docs
    assert got == {1: (2, 2)}


def test_pack_sequences_greedy_reset_and_oversize(spark):
    from dnsflow_clickhouse_spark.operators.packing import pack_sequences

    # one shard (n_shards=1); token counts: 3, 3, 20(oversized), 2, 2
    docs = spark.createDataFrame(
        [
            (0, "a b c"),
            (1, "d e f"),
            (2, " ".join(["w"] * 20)),
            (3, "x y"),
            (4, ""),  # empty doc joins the current sequence (0 tokens)
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.ntok, r.seq_id)
        for r in pack_sequences(docs, "doc_id", "text", cap=6, n_shards=1).collect()
    }
    # 3 -> seq0 (acc 3); 3 -> seq0 full (acc 6); 20 > cap -> own seq1;
    # 2 -> seq2; 0 -> stays in seq2
    assert got == {0: (3, 0), 1: (3, 0), 2: (20, 1), 3: (2, 2), 4: (0, 2)}


def test_repetition_metrics_known_values(spark):
    from dnsflow_clickhouse_spark.operators.text_analysis import repetition_metrics

    rows = [
        (1, "a b a b a b"),   # 2-grams: 5 total, 2 distinct -> 600000 ppm
        (2, "a b c d"),       # all distinct -> 0
        (3, "x"),             # shorter than n -> 0
        (4, ""),              # empty -> 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.dup2_ppm, r.dup3_ppm)
           for r in repetition_metrics(df).collect()}
    assert got[1] == (600000, 500000)  # 3-grams: 4 total, 2 distinct
    assert got[2] == (0, 0)
    assert got[3] == (0, 0)
    assert got[4] == (0, 0)


def test_temperature_resample_rates(spark):
    from dnsflow_clickhouse_spark.operators.corpus import temperature_resample

    rows = [(i, "big" if i < 400 else "small") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_resample(df, "lang", "doc_id")
    rates = {r.lang: r.rate_ppm for r in
             out.select("lang", "rate_ppm").distinct().collect()}
    assert rates["small"] == 1_000_000          # rarest stratum keeps all
    assert rates["big"] == 500_000              # sqrt(100/400) = 0.5
    kept = {r.lang: r.n for r in
            out.groupBy("lang").agg(F.sum("__keep").alias("n")).collect()}
    assert kept["small"] == 100                 # rate 1.0 keeps everything
    assert 120 < kept["big"] < 280              # ~200 expected, hash-gated


def test_chunk_documents_boundaries(spark):
    from dnsflow_clickhouse_spark.operators.corpus import chunk_documents

    toks = lambda n: " ".join(f"t{i}" for i in range(n))
    rows = [(1, toks(64)), (2, toks(65)), (3, toks(200)), (4, ""), (5, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in chunk_documents(df, "doc_id", "text", size=64, stride=48).collect():
        got.setdefault(r.doc_id, []).append(
            (r.chunk_id, r.n_tokens, r.first_token, r.last_token)
        )
    assert got[1] == [(0, 64, "t0", "t63")]            # exact fit: one chunk
    assert got[2] == [(0, 64, "t0", "t63"), (1, 17, "t48", "t64")]  # remainder
    assert [c[0] for c in got[3]] == [0, 1, 2, 3]       # ceil((200-64)/48)+1
    assert got[3][3] == (3, 56, "t144", "t199")
    assert 4 not in got                                 # empty doc: no chunks
    assert got[5] == [(0, 1, "solo", "solo")]

    # stride > size would emit an empty final chunk (and drop tokens in
    # the gap); the operator validates instead of silently mis-chunking
    import pytest as _pytest

    with _pytest.raises(ValueError, match="stride"):
        chunk_documents(df, "doc_id", "text", size=48, stride=64)


def test_pagerank_exact_known_graph(spark):
    from dnsflow_clickhouse_spark.operators.graph import pagerank_exact

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3)], "src long, dst long"
    )
    got = {r.id: r.rank for r in pagerank_exact(edges, iterations=3).collect()}
    # hand-computed: deg(1)=2, deg(2)=1; node 3 is dangling (mass drops)
    assert got == {1: 638750, 2: 421468, 3: 421468}


def test_group_split_leakproof_and_deterministic(spark):
    import pytest as _pytest

    from dnsflow_clickhouse_spark.operators.sampling import group_split

    rows = [(u, e) for u in range(40) for e in range(5)]
    df = spark.createDataFrame(rows, "user_id long, event_id long")
    out = group_split(df, "user_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    # every user maps to exactly one split (no leakage)
    per_user = out.groupBy("user_id").agg(F.countDistinct("split").alias("n"))
    assert per_user.filter(F.col("n") > 1).count() == 0
    # pure function of the data: rerun is identical
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, group_split(df, "user_id", {"train": 0.8, "val": 0.1, "test": 0.1}).collect()))
    assert a == b
    # all three splits nonempty at this size, and weights validated
    assert out.select("split").distinct().count() == 3
    with _pytest.raises(ValueError):
        group_split(df, "user_id", {"train": 0.5, "val": 0.1})


def test_redact_pii_and_counts(spark):
    from dnsflow_clickhouse_spark.functions.textfn import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            ("mail me at a.b+c@example.org or x@y.io",),
            ("call 139-1234-5678 or 555 123 4567",),
            ("clean text with no pii at all",),
        ],
        "t string",
    )
    out = df.select(
        redact_pii("t").alias("r"), pii_counts("t").alias("c")
    ).collect()
    assert out[0]["r"] == "mail me at <EMAIL> or <EMAIL>"
    assert out[0]["c"]["n_emails"] == 2 and out[0]["c"]["n_phones"] == 0
    assert out[1]["r"] == "call <PHONE> or <PHONE>"
    assert out[1]["c"]["n_phones"] == 2
    assert out[2]["r"] == "clean text with no pii at all"
    assert out[2]["c"]["n_emails"] == 0 and out[2]["c"]["n_phones"] == 0


def test_global_positions_matches_single_partition_ranking(spark):
    from dnsflow_clickhouse_spark.operators.sampling import global_positions

    df = spark.range(0, 997).select(
        F.col("id").alias("k"), (F.col("id") * 37 % 101).alias("sort1")
    )
    got = {
        r.k: r.pos
        for r in global_positions(df, ["sort1", "k"], n_parts=7).collect()
    }
    want = {
        r.k: i + 1
        for i, r in enumerate(
            df.orderBy("sort1", "k").collect()
        )
    }
    assert got == want  # dense 1..n, identical to the global ordering


def test_shuffle_shards_leave_no_cached_frames(spark, tmp_path):
    """global_positions puts its range-partitioned frame behind a
    lineage barrier, not a persist that no caller can release: running
    deterministic_shuffle_shards leaves the session's DataFrame cache as
    it found it, and the positions stay a dense 1..n permutation."""
    from dnsflow_clickhouse_spark.queries.catalog_corpus import (
        deterministic_shuffle_shards,
    )

    spark.range(0, 300).select(F.col("id").alias("doc_id")).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    rows = deterministic_shuffle_shards(spark, str(tmp_path)).collect()
    assert cache.numCachedEntries() == before
    assert sorted(r.pos for r in rows) == list(range(1, 301))
    assert sorted(r.doc_id for r in rows) == list(range(300))


def test_budget_allocation_sums_exactly_and_reports_shortfall(spark):
    from dnsflow_clickhouse_spark.operators.corpus import budget_allocation

    d = spark.createDataFrame(
        [("en", 10_000), ("en", 5_000), ("zh", 50), ("de", 4_000)],
        ["lang", "toks"],
    )
    weights = {"en": 600_000, "zh": 250_000, "de": 100_000, "ja": 50_000}
    out = {r.lang: r for r in budget_allocation(d, "lang", "toks", weights, 1_003).collect()}
    # allocations sum to the budget EXACTLY despite // rounding
    assert sum(r.alloc_tokens for r in out.values()) == 1_003
    # largest-remainder: base shares are 601/250/100/50 (sum 1001),
    # remainders .8/.75/.3/.15 -> the 2 leftover tokens go to en, zh
    assert out["en"].alloc_tokens == 602 and out["zh"].alloc_tokens == 251
    assert out["de"].alloc_tokens == 100 and out["ja"].alloc_tokens == 50
    # supply caps: zh has only 50 tokens, ja none
    assert out["zh"].quota_tokens == 50 and out["zh"].shortfall == 201
    assert out["ja"].quota_tokens == 0 and out["ja"].shortfall == 50
    assert out["en"].shortfall == 0


def test_budget_allocation_rejects_bad_weights(spark):
    import pytest as _pytest

    from dnsflow_clickhouse_spark.operators.corpus import budget_allocation

    d = spark.createDataFrame([("en", 10)], ["lang", "toks"])
    with _pytest.raises(ValueError):
        budget_allocation(d, "lang", "toks", {"en": 999_999}, 100)


def test_snapshot_diff_statuses(spark):
    from dnsflow_clickhouse_spark.operators.corpus import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B2"), (4, "d")], ["doc_id", "text"]
    )
    out = {r.id: r.status for r in snapshot_diff(old, new, "doc_id", ["text"]).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_rare_token_stats_masses(spark):
    from dnsflow_clickhouse_spark.operators.corpus import rare_token_stats

    # 'x' appears once (rare), 'a' appears 4x (common); doc 2 empty
    rows = [(0, "a a x"), (1, "a a"), (2, "")]
    out = {
        r.doc_id: (r.n_toks, r.n_rare, r.rare_ppm)
        for r in rare_token_stats(_corpus_df(spark, rows), "doc_id", "text", 2).collect()
    }
    assert out[0] == (3, 1, 333_333)
    assert out[1] == (2, 0, 0)
    assert out[2] == (0, 0, 0)


def _corpus_df(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_weighted_sample_per_group_semantics(spark):
    from dnsflow_clickhouse_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    df = spark.createDataFrame(
        [("g", i, w) for i, w in enumerate([1, 1, 1, 1000, 1000, 0, None, -5])],
        "grp string, id long, w long",
    )
    out = weighted_sample_per_group(df, ["grp"], "id", "w", k=2, seed=3)
    picked = sorted(r.id for r in out.collect())
    assert len(picked) == 2
    assert all(p not in (5, 6, 7) for p in picked)  # w<=0/NULL never sampled
    # determinism: identical rerun, identical result
    again = sorted(
        r.id
        for r in weighted_sample_per_group(
            df, ["grp"], "id", "w", k=2, seed=3
        ).collect()
    )
    assert again == picked
    # weight dominance: over many seeds the heavy ids (w=1000) must win
    # far more often than the light ones (selection prob ~ weight)
    heavy = 0
    for seed in range(40):
        got = {
            r.id
            for r in weighted_sample_per_group(
                df, ["grp"], "id", "w", k=1, seed=seed
            ).collect()
        }
        heavy += bool(got & {3, 4})
    assert heavy >= 30  # ~99.6% expected; 30/40 leaves wide noise margin
