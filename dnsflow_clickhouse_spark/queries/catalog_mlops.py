"""Training-data-pipeline queries (dedup / similarity / text analysis)
with DuckDB oracles.

The oracles replay the engine's *portable* primitives in SQL:
- ``poly_hash`` -> list_reduce over character codes (same fold)
- MinHash/SimHash/fingerprints -> same integer arithmetic
- embedding math -> integer-quantized vectors; dot products stay exact
  (< 2^53) so double conversion is deterministic in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.functions.textfn import POLY_MOD
from dnsflow_clickhouse_spark.operators.dedup import (
    _perm_consts,
    lsh_candidate_pairs,
    minhash_bands_df,
    ngram_jaccard_pairs,
    prefix_filtered_jaccard_pairs,
    simhash_df,
    simhash_near_pairs,
    embedding_near_dups,
)
from dnsflow_clickhouse_spark.operators.similarity import (
    cosine_topk,
    hyperplane_lsh_topk,
    ivf_topk,
)
from dnsflow_clickhouse_spark.operators.text_analysis import (
    LANG_STOPWORDS,
    _LANG_ORDER,
    analyze_documents,
)
from dnsflow_clickhouse_spark.operators.util import barrier, cpu_repartition
from dnsflow_clickhouse_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# SQL builders replaying the portable primitives
# ---------------------------------------------------------------------------


def _sql_poly(expr: str, seed: int = 0) -> str:
    return (
        f"list_reduce(list_prepend(CAST({seed} AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * 31 + b) % {POLY_MOD})"
    )


_SQL_TOKS = r"""CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE regexp_split_to_array(trim(text), '\s+') END"""

# distinct token trigrams, mirroring operators.dedup.token_ngrams(n=3)
_SQL_GRAMS = """CASE
  WHEN len(toks) >= 3 THEN list_distinct(list_transform(
        generate_series(1, len(toks) - 2), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
  WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
  ELSE CAST([] AS VARCHAR[]) END"""


def _sql_quant(expr: str) -> str:
    return f"list_transform({expr}, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))"


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

N_HASHES, N_BANDS, ROWS_PER_BAND = 8, 4, 2


def minhash_band_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash band buckets (the LSH index content):
    staged in-row signatures -> banded hashes, no shuffle after the
    parallelizing repartition."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_bands_df(d, "doc_id", "text", N_HASHES, N_BANDS, 3).select(
        F.col("id").alias("doc_id"), "band", "band_hash"
    )


def _sql_minhash_sig() -> str:
    base = f"list_transform(grams, g -> {_sql_poly('g')})"
    mins = ", ".join(
        f"coalesce(list_min(list_transform(base, h -> ({a} * h + {b}) % {POLY_MOD})), {POLY_MOD})"
        for a, b in _perm_consts(N_HASHES)
    )
    return f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
g AS (SELECT doc_id, {_SQL_GRAMS} AS grams FROM t),
b AS (SELECT doc_id, {base} AS base FROM g),
s AS MATERIALIZED (SELECT doc_id, [{mins}] AS sig FROM b)
"""


def _sql_band_hash(b: int) -> str:
    concat = " || ':' || ".join(
        f"CAST(sig[{b * ROWS_PER_BAND + r + 1}] AS VARCHAR)"
        for r in range(ROWS_PER_BAND)
    )
    return _sql_poly(f"({concat})", seed=b + 1)


_MINHASH_BANDS_SQL = _sql_minhash_sig() + f"""
SELECT doc_id, band, band_hash FROM (
  {' UNION ALL '.join(f"SELECT doc_id, CAST({b} AS INT) AS band, {_sql_band_hash(b)} AS band_hash FROM s" for b in range(N_BANDS))}
) ORDER BY doc_id, band
"""


def lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate near-duplicate pairs (equi-join on band
    buckets — the 100 TB-safe all-pairs replacement)."""
    d = load_table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(d, "doc_id", "text", N_HASHES, N_BANDS, 3).orderBy(
        "id_a", "id_b"
    )


_LSH_PAIRS_SQL = _sql_minhash_sig() + f"""
, bands AS (
  {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, {_sql_band_hash(b)} AS band_hash FROM s" for b in range(N_BANDS))}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


_GROUPED_SCRATCH_ROOT: str | None = None


def _grouped_scratch_root() -> str:
    """ONE per-process scratch root for the grouped catalog entry,
    removed at interpreter exit (r12 ADVICE: a fresh mkdtemp per
    invocation leaked — the returned frame reads lazily, so nothing
    could clean it, and repeated sweeps accumulated /tmp scratch).
    Reuse is safe: the miner writes each group path in overwrite mode,
    and within one process the knobs are fixed so the layout is
    identical across invocations."""
    global _GROUPED_SCRATCH_ROOT
    if _GROUPED_SCRATCH_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _GROUPED_SCRATCH_ROOT = tempfile.mkdtemp(prefix="lsh_grouped_cat_")
        atexit.register(
            shutil.rmtree, _GROUPED_SCRATCH_ROOT, ignore_errors=True
        )
    return _GROUPED_SCRATCH_ROOT


def lsh_pairs_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME candidate pair set as ``lsh_candidate_pairs``, mined by
    the scratch-bounded band-group executor (r12:
    ``lsh_candidate_pairs_grouped``, G=2): bands run in sequential
    groups whose signature slices use the global permutation constants
    and band seeds, so the union of group outputs is bit-equal to the
    one-shot plan — proven here against the IDENTICAL DuckDB oracle the
    one-shot entry replays, and at the 1024x tier (G=4) in
    SCALE_SMOKE.md. The knob exists because the one-shot plan's peak
    single-node scratch (~29.4 GB at the 4096x tier, ~2x/octave) is the
    first ceiling a deep single-node run hits; grouped execution trades
    G gram passes for ~1/G peak scratch."""
    from dnsflow_clickhouse_spark.operators.dedup import (
        lsh_candidate_pairs_grouped,
    )

    d = load_table(spark, sf_dir, "documents")
    return lsh_candidate_pairs_grouped(
        d, "doc_id", "text", N_HASHES, N_BANDS, 3,
        n_band_groups=2,
        scratch_dir=_grouped_scratch_root(),
    ).orderBy("id_a", "id_b")


def jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-Jaccard near-dup pairs at threshold 0.5."""
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", ngram=3, threshold=0.5).orderBy(
        "id_a", "id_b"
    )


def prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same exact threshold-0.5 Jaccard pairs through PPJoin-style
    prefix filtering (operators.dedup.prefix_filtered_jaccard_pairs):
    candidates come only from rare-first prefix grams, so the hot-gram
    postings lists that blow up the naive shared-gram self-join never
    generate pairs. Shares the naive query's oracle — the hash match IS
    the losslessness proof."""
    from dnsflow_clickhouse_spark.operators.dedup import (
        prefix_filtered_jaccard_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    return prefix_filtered_jaccard_pairs(
        d, "doc_id", "text", ngram=3, threshold=0.5
    ).orderBy("id_a", "id_b")


_JACCARD_CTES = f"""t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
g AS (SELECT doc_id, {_SQL_GRAMS} AS grams FROM t),
e AS (SELECT doc_id, len(grams) AS ng, unnest(grams) AS gram FROM g),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ng AS na, b.ng AS nb,
         CAST(count(*) AS BIGINT) AS inter
  FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)"""

_JACCARD_SQL = f"""
WITH {_JACCARD_CTES}
SELECT id_a, id_b, inter, floor(inter / (na + nb - inter) * 1000000 + 0.5) / 1000000 AS jaccard
FROM p WHERE floor(inter / (na + nb - inter) * 1000000 + 0.5) / 1000000 >= 0.5
ORDER BY id_a, id_b
"""

_CONTAIN_PPM = 800_000  # threshold 0.8


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap-coefficient (containment) near-dup pairs at 0.8 over
    trigram shingles: |A ∩ B| / min(|A|, |B|) — the SUBSUMPTION
    detector symmetric Jaccard misses (a short doc quoted whole inside
    a long one has J ~ |A|/|B| but C = 1.0). Runs after the symmetric
    passes to catch one-sided copies; exact-integer threshold test
    (operators.dedup.overlap_containment_pairs)."""
    from dnsflow_clickhouse_spark.operators.dedup import overlap_containment_pairs

    d = load_table(spark, sf_dir, "documents")
    return overlap_containment_pairs(
        d, "doc_id", "text", ngram=3, threshold=0.8
    ).orderBy("id_a", "id_b")


_CONTAIN_SQL = f"""
WITH {_JACCARD_CTES}
SELECT id_a, id_b, inter,
       CAST(na AS BIGINT) AS size_a, CAST(nb AS BIGINT) AS size_b,
       floor(inter / least(na, nb) * 1000000 + 0.5) / 1000000 AS containment
FROM p WHERE inter * 1000000 >= {_CONTAIN_PPM} * least(na, nb)
ORDER BY id_a, id_b
"""


def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster canonicalization: exact trigram-Jaccard pairs at
    0.5 -> connected components (iterative min-label propagation) ->
    (canonical id, cluster size). The oracle computes the same closure
    with a recursive CTE, so the fixpoint loop is hash-verified."""
    from dnsflow_clickhouse_spark.operators.graph import dedup_clusters

    d = load_table(spark, sf_dir, "documents")
    pairs = prefix_filtered_jaccard_pairs(
        d, "doc_id", "text", ngram=3, threshold=0.5
    )
    # near-dup members ≪ corpus: size the loop's shuffles accordingly
    return dedup_clusters(pairs, num_partitions=8).orderBy("comp")


_COMPONENTS_SQL = f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT id_a, id_b FROM p
  WHERE floor(inter / (na + nb - inter) * 1000000 + 0.5) / 1000000 >= 0.5
),
nodes AS (SELECT id_a AS id FROM edges UNION SELECT id_b FROM edges),
sym AS (SELECT id_a AS a, id_b AS b FROM edges
        UNION ALL SELECT id_b, id_a FROM edges),
reach(id, lbl) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.id
),
cc AS (SELECT id, min(lbl) AS comp FROM reach GROUP BY id)
SELECT comp, count(*) AS n_members FROM cc GROUP BY comp ORDER BY comp
"""


def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup decision record: trigram-Jaccard pairs at 0.5 ->
    connected components -> per-cluster representative by quality
    (n_chars as the proxy score, ties -> lowest id). The full pipeline a
    curation run executes before dropping near-dups; every stage is
    hash-verified through the recursive-CTE oracle."""
    from dnsflow_clickhouse_spark.operators.graph import canonical_representatives

    d = load_table(spark, sf_dir, "documents")
    pairs = prefix_filtered_jaccard_pairs(
        d, "doc_id", "text", ngram=3, threshold=0.5
    )
    reps = canonical_representatives(
        pairs,
        d,
        id_col="doc_id",
        quality_col="n_chars",
        num_partitions=8,
    )
    return reps.orderBy("comp")


_CANONICAL_SQL = f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT id_a, id_b FROM p
  WHERE floor(inter / (na + nb - inter) * 1000000 + 0.5) / 1000000 >= 0.5
),
nodes AS (SELECT id_a AS id FROM edges UNION SELECT id_b FROM edges),
sym AS (SELECT id_a AS a, id_b AS b FROM edges
        UNION ALL SELECT id_b, id_a FROM edges),
reach(id, lbl) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.id
),
cc AS (SELECT id, min(lbl) AS comp FROM reach GROUP BY id),
qq AS (SELECT cc.id, cc.comp, d.n_chars AS q
       FROM cc JOIN documents d ON d.doc_id = cc.id),
r AS (SELECT comp, id,
             row_number() OVER (PARTITION BY comp ORDER BY q DESC, id) AS rn,
             count(*) OVER (PARTITION BY comp) AS nm
      FROM qq)
SELECT comp, id AS keep_id, CAST(nm AS BIGINT) AS n_members,
       CAST(nm - 1 AS BIGINT) AS n_dropped
FROM r WHERE rn = 1 ORDER BY comp
"""


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit portable SimHash per document (64-bit xxhash64 variant is
    the production default in operators.dedup.simhash)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_df(d, "doc_id", "text", 16).select(
        F.col("id").alias("doc_id"), F.col("simhash").alias("simhash16")
    ).orderBy("doc_id")


def _sql_simhash16() -> str:
    hs = f"list_transform(toks, t -> {_sql_poly('t')})"
    bits = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> ((h >> {b}) & 1) = 1)) > len(hs) THEN {1 << b} ELSE 0 END)"
        for b in range(16)
    )
    return f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, {hs} AS hs FROM t)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash16 FROM h ORDER BY doc_id
"""


def simhash_near_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-SimHash near-duplicate pairs (hamming <= 1 over 32 bits,
    2 bands of 16 — pigeonhole-complete for distance 1): banding ->
    bucket groupBy -> exact hamming verify. 32 portable bits keep the
    random-collision floor low on vocabulary-heavy corpora (production
    default is 63-bit xxhash64 via ``hash_fn``)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(d, "doc_id", "text", 32, 2, 1).orderBy("id_a", "id_b")


def _sql_simhash_pairs() -> str:
    hs = f"list_transform(toks, t -> {_sql_poly('t')})"
    bits = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> ((h >> {b}) & 1) = 1)) > len(hs) THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(32)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, sh, {b} AS band, (sh >> {b * 16}) & 65535 AS nib FROM s"
        for b in range(2)
    )
    return f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, {hs} AS hs FROM t),
s AS (SELECT doc_id, CAST({bits} AS BIGINT) AS sh FROM h),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS ha, b.sh AS hb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 1
ORDER BY id_a, id_b
"""


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID vs the labeled lang: confusion counts."""
    d = analyze_documents(
        cpu_repartition(load_table(spark, sf_dir, "documents"), "doc_id")
    )
    return (
        d.groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_guess")
    )


def _sql_langid() -> str:
    hit = {
        lg: f"len(list_filter(toks, t -> lower(t) IN ({', '.join(repr(w) for w in LANG_STOPWORDS[lg])})))"
        for lg in _LANG_ORDER
    }
    best = f"greatest({', '.join(hit.values())})"
    case = " ".join(
        f"WHEN best > 0 AND {hit[lg]} = best THEN '{lg}'" for lg in _LANG_ORDER
    )
    return f"""
WITH t AS (SELECT lang, {_SQL_TOKS} AS toks FROM documents),
s AS (SELECT lang, toks, {best} AS best FROM t),
g AS (SELECT lang, CASE {case} ELSE 'unknown' END AS lang_guess FROM s)
SELECT lang, lang_guess, count(*) AS n FROM g GROUP BY 1, 2 ORDER BY 1, 2
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable rolling-hash document fingerprints."""
    d = analyze_documents(
        cpu_repartition(load_table(spark, sf_dir, "documents"), "doc_id")
    )
    return d.select("doc_id", "fp").orderBy("doc_id")


_FP_SQL = f"""
WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST({_sql_poly('text')} AS VARCHAR) || '-' || CAST(len(toks) AS VARCHAR) AS fp
FROM t ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Embedding similarity
# ---------------------------------------------------------------------------

KNN_QUERIES, KNN_K = 20, 3


def embedding_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-3 for the first 20 query vectors."""
    e = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(
        e.filter(F.col("vec_id") < KNN_QUERIES), e, "vec_id", "embedding", KNN_K
    ).orderBy("query_id", "rnk")


_KNN_SQL = f"""
WITH q AS (SELECT vec_id, {_sql_quant('embedding')} AS qv FROM embeddings),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         floor(list_dot_product(a.qv, b.qv)
               / (sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(b.qv, b.qv))) * 1000000 + 0.5) / 1000000 AS cosine
  FROM q a JOIN q b ON a.vec_id < {KNN_QUERIES} AND a.vec_id != b.vec_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM pairs)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= {KNN_K} ORDER BY query_id, rnk
"""

N_PLANES = 8
_C = 2654435761 % 1_000_003


def embedding_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN top-3 (the scale path: equi-join on
    bucket instead of all-pairs; recall < 1 by construction)."""
    e = load_table(spark, sf_dir, "embeddings")
    return hyperplane_lsh_topk(
        e.filter(F.col("vec_id") < KNN_QUERIES), e, "vec_id", "embedding",
        KNN_K, N_PLANES,
    ).orderBy("query_id", "rnk")


def embedding_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe hyperplane-LSH ANN top-3: each query also probes the
    n_planes buckets one bit-flip away, recovering neighbors that fell
    just across a single hyperplane — recall rises, corpus index
    unchanged (probe fan-out is query-side only)."""
    e = load_table(spark, sf_dir, "embeddings")
    return hyperplane_lsh_topk(
        e.filter(F.col("vec_id") < KNN_QUERIES), e, "vec_id", "embedding",
        KNN_K, N_PLANES, multiprobe=True,
    ).orderBy("query_id", "rnk")


def _sql_bucket(vcol: str, plane_offset: int = 0) -> str:
    terms = []
    for p in range(N_PLANES):
        x = f"(CAST(i + 1 AS BIGINT) * {_C} + {(p + plane_offset) * 97 + 13})"
        proj = (
            f"list_sum(list_transform(generate_series(0, len({vcol}) - 1), "
            f"i -> {vcol}[i + 1] * (({x} * {x}) % 1009 - 504)))"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


_LSH_ANN_SQL = f"""
WITH q AS (SELECT vec_id, {_sql_quant('embedding')} AS qv FROM embeddings),
bq AS (SELECT vec_id, qv, {_sql_bucket('qv')} AS bucket FROM q),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         floor(list_dot_product(a.qv, b.qv)
               / (sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(b.qv, b.qv))) * 1000000 + 0.5) / 1000000 AS cosine
  FROM bq a JOIN bq b ON a.bucket = b.bucket AND a.vec_id < {KNN_QUERIES} AND a.vec_id != b.vec_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM pairs)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= {KNN_K} ORDER BY query_id, rnk
"""

_LSH_MULTIPROBE_SQL = f"""
WITH q AS (SELECT vec_id, {_sql_quant('embedding')} AS qv FROM embeddings),
bq AS (SELECT vec_id, qv, {_sql_bucket('qv')} AS bucket FROM q),
probes AS (SELECT vec_id, qv, bucket FROM bq UNION ALL SELECT vec_id, qv, xor(bucket, 1) AS bucket FROM bq UNION ALL SELECT vec_id, qv, xor(bucket, 2) AS bucket FROM bq UNION ALL SELECT vec_id, qv, xor(bucket, 4) AS bucket FROM bq UNION ALL SELECT vec_id, qv, xor(bucket, 8) AS bucket FROM bq UNION ALL SELECT vec_id, qv, xor(bucket, 16) AS bucket FROM bq UNION ALL SELECT vec_id, qv, xor(bucket, 32) AS bucket FROM bq UNION ALL SELECT vec_id, qv, xor(bucket, 64) AS bucket FROM bq UNION ALL SELECT vec_id, qv, xor(bucket, 128) AS bucket FROM bq),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         floor(list_dot_product(a.qv, b.qv)
               / (sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(b.qv, b.qv))) * 1000000 + 0.5) / 1000000 AS cosine
  FROM probes a JOIN bq b ON a.bucket = b.bucket AND a.vec_id < {KNN_QUERIES} AND a.vec_id != b.vec_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM pairs)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= {KNN_K} ORDER BY query_id, rnk
"""



N_IVF_CELLS = 8


def embedding_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN top-3: coarse-quantizer cell assignment (GEMM
    against broadcast centroids), then an equi-join probe of the query's
    cell only (nprobe=1; recall < 1 by construction)."""
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        e.filter(F.col("vec_id") < KNN_QUERIES), e, "vec_id", "embedding",
        KNN_K, N_IVF_CELLS,
    ).orderBy("query_id", "rnk")


def embedding_ivf_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same IVF search at nprobe=2 — the recall/cost dial turned one
    notch (each query probes its two nearest cells; the corpus-side
    index is unchanged). At nprobe = n_cells this operator provably
    degrades to exact brute force (pinned by unit test)."""
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        e.filter(F.col("vec_id") < KNN_QUERIES), e, "vec_id", "embedding",
        KNN_K, N_IVF_CELLS, nprobe=2,
    ).orderBy("query_id", "rnk")


def _sql_ivf(nprobe: int) -> str:
    """IVF oracle: corpus vectors sit in their single nearest cell
    (rn = 1); queries probe their ``nprobe`` nearest cells. A pair can
    match in at most one cell (the corpus side is single-cell), so no
    dedup is needed before ranking."""
    return f"""
WITH q AS (SELECT vec_id, {_sql_quant('embedding')} AS qv FROM embeddings),
n AS (SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS nrm FROM q),
c AS (SELECT vec_id AS cid, qv AS cv, nrm AS cnrm FROM n WHERE vec_id < {N_IVF_CELLS}),
ranked AS (
  SELECT n.vec_id, c.cid AS cell,
         row_number() OVER (
           PARTITION BY n.vec_id
           ORDER BY floor(list_dot_product(n.qv, c.cv) / (n.nrm * c.cnrm) * 1000000 + 0.5) / 1000000 DESC, c.cid
         ) AS rn
  FROM n CROSS JOIN c
),
asgc AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
asgq AS (SELECT vec_id, cell FROM ranked WHERE rn <= {nprobe}),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         floor(list_dot_product(an.qv, bn.qv) / (an.nrm * bn.nrm) * 1000000 + 0.5) / 1000000 AS cosine
  FROM asgq a JOIN asgc b ON a.cell = b.cell AND a.vec_id < {KNN_QUERIES} AND a.vec_id != b.vec_id
  JOIN n an ON an.vec_id = a.vec_id
  JOIN n bn ON bn.vec_id = b.vec_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM pairs)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= {KNN_K} ORDER BY query_id, rnk
"""


_IVF_ANN_SQL = _sql_ivf(1)


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed embedding-cosine near-duplicates at threshold 0.4: the
    100 TB composition — hyperplane-LSH buckets, exact int64 GEMM inside
    each bucket via applyInPandas, no driver-side corpus collect
    (replaces the round-1 collect-and-broadcast kernel). Cross-bucket
    pairs are missed by construction (recall < 1), mirrored exactly by
    the oracle's bucket equi-join."""
    e = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dups(
        e, "vec_id", "embedding", threshold=0.4, n_planes=N_PLANES
    ).orderBy("id_a", "id_b")


def embedding_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs near-duplicates via the distributed block-pair
    GEMM (each unordered block pair is one applyInPandas group) — the
    verification-side kernel, still with no driver collect."""
    e = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dups(
        e, "vec_id", "embedding", threshold=0.4, n_planes=0
    ).orderBy("id_a", "id_b")


_NEARDUP_PAIR_EXPR = (
    "round(list_dot_product(a.qv, b.qv)"
    " / (sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(b.qv, b.qv))), 6)"
)

_NEARDUP_SQL = f"""
WITH q AS (SELECT vec_id, {_sql_quant('embedding')} AS qv FROM embeddings),
bq AS (SELECT vec_id, qv, {_sql_bucket('qv')} AS bucket FROM q)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_NEARDUP_PAIR_EXPR} AS cosine
FROM bq a JOIN bq b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_NEARDUP_PAIR_EXPR} >= 0.4
ORDER BY id_a, id_b
"""

_NEARDUP_EXACT_SQL = f"""
WITH q AS (SELECT vec_id, {_sql_quant('embedding')} AS qv FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_NEARDUP_PAIR_EXPR} AS cosine
FROM q a JOIN q b ON a.vec_id < b.vec_id
WHERE {_NEARDUP_PAIR_EXPR} >= 0.4
ORDER BY id_a, id_b
"""

KMEANS_K = 4
KMEANS_ITERS = 2


def kmeans_cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means (k=4, 2 fixed iterations) over the
    integer-quantized embeddings — the offline centroid training the
    IVF quantizer defers to, with the whole fixpoint hash-verified: the
    oracle unrolls both assignment/update rounds as CTEs and must land
    on identical cluster sizes, inertia, and centroid norms. Per-round
    cost: one in-row argmin against centroid literals (no join) + one
    map-side-combinable (cid, dim) mean aggregate."""
    from dnsflow_clickhouse_spark.operators.similarity import kmeans_quantized

    e = load_table(spark, sf_dir, "embeddings")
    assigned, cents = kmeans_quantized(
        e, "vec_id", "embedding", k=KMEANS_K, iters=KMEANS_ITERS
    )
    norms = [(ci, sum(v * v for v in c)) for ci, c in enumerate(cents)]
    cn = spark.createDataFrame(norms, "cid int, c_norm long")
    return (
        assigned.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("dist").alias("inertia"),
        )
        .join(F.broadcast(cn), "cid")
        .orderBy("cid")
    )


def _sql_kmeans(k: int = KMEANS_K, iters: int = KMEANS_ITERS, dim: int = 64) -> str:
    """Unrolled-CTE replay of kmeans_quantized: one (assign, update)
    CTE pair per iteration, then a final assignment + rollup."""
    sqdist = (
        "CAST(list_sum(list_transform(generate_series(1, {d}), "
        "i -> (q.qv[i] - {c}.c[i]) * (q.qv[i] - {c}.c[i]))) AS BIGINT)"
    )

    def assign(name: str, prev: str) -> str:
        d = sqdist.format(d=dim, c=prev)
        return f"""{name} AS (
  SELECT vec_id, qv, cid, dist FROM (
    SELECT q.vec_id, q.qv, {prev}.cid, {d} AS dist,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {d}, {prev}.cid) AS rn
    FROM q CROSS JOIN {prev}) WHERE rn = 1
)"""

    parts = [
        f"""q AS (SELECT vec_id, {_sql_quant('embedding')} AS qv FROM embeddings),
c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, qv AS c
       FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {k}))"""
    ]
    prev = "c0"
    for t in range(1, iters + 1):
        parts.append(assign(f"a{t}", prev))
        parts.append(
            f"""u{t} AS (
  SELECT cid, i, CAST(floor(sum(qv[i]) * 1.0 / count(*)) AS BIGINT) AS m
  FROM a{t}, generate_series(1, {dim}) AS g(i) GROUP BY cid, i
)"""
        )
        parts.append(
            f"""c{t} AS (
  SELECT p.cid, coalesce(n.c, p.c) AS c
  FROM {prev} p LEFT JOIN
       (SELECT cid, list(m ORDER BY i) AS c FROM u{t} GROUP BY cid) n
       USING (cid)
)"""
        )
        prev = f"c{t}"
    parts.append(assign("af", prev))
    parts.append(
        f"""cn AS (SELECT cid, CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT)
                AS c_norm FROM {prev})"""
    )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT af.cid, CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(af.dist) AS BIGINT) AS inertia, cn.c_norm
FROM af JOIN cn USING (cid)
GROUP BY af.cid, cn.c_norm ORDER BY af.cid
"""


def neardup_component_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structure census of each near-dup cluster: members, edges,
    triangles, and the is_clique verdict separating true duplicate
    families (pairwise-similar cliques — safe to keep one) from
    similarity DRIFT chains (A~B~C with A!~C, where transitive closure
    over-merges and keep-one would drop real content). Triangles via
    the classic two-equi-join wedge closure (operators.graph
    .triangle_counts) — the distributed-graph staple."""
    from dnsflow_clickhouse_spark.operators.graph import component_census

    d = load_table(spark, sf_dir, "documents")
    pairs = prefix_filtered_jaccard_pairs(
        d, "doc_id", "text", ngram=3, threshold=0.5
    )
    return component_census(pairs, num_partitions=8).orderBy("comp")


_CENSUS_SQL = f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT id_a AS a, id_b AS b FROM p
  WHERE floor(inter / (na + nb - inter) * 1000000 + 0.5) / 1000000 >= 0.5
),
nodes AS (SELECT a AS id FROM edges UNION SELECT b FROM edges),
sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
reach(id, lbl) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.id
),
cc AS (SELECT id, min(lbl) AS comp FROM reach GROUP BY id),
mem AS (SELECT comp, CAST(count(*) AS BIGINT) AS n_members FROM cc GROUP BY comp),
ec AS (SELECT cc.comp, CAST(count(*) AS BIGINT) AS n_edges
       FROM edges e JOIN cc ON cc.id = e.a GROUP BY 1),
tri AS (
  SELECT x.a, x.b, y.b AS c
  FROM edges x JOIN edges y ON x.b = y.a
  WHERE EXISTS (SELECT 1 FROM edges z WHERE z.a = x.a AND z.b = y.b)
),
tc AS (SELECT cc.comp, CAST(count(*) AS BIGINT) AS n_triangles
       FROM tri JOIN cc ON cc.id = tri.a GROUP BY 1)
SELECT m.comp, m.n_members,
       coalesce(ec.n_edges, 0) AS n_edges,
       coalesce(tc.n_triangles, 0) AS n_triangles,
       CAST(coalesce(ec.n_edges, 0) = m.n_members * (m.n_members - 1) // 2
            AND coalesce(tc.n_triangles, 0)
                = m.n_members * (m.n_members - 1) * (m.n_members - 2) // 6
            AS INT) AS is_clique
FROM mem m LEFT JOIN ec USING (comp) LEFT JOIN tc USING (comp)
ORDER BY m.comp
"""


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluation of the ANN family: per query vector, how many of
    the exact top-k neighbors the single-probe hyperplane-LSH path
    recovers (``recall_ppm`` = floor(1e6 * hits / k)). The quality dial
    every ANN deployment monitors before trading recall for cost —
    computed entirely in-engine by joining the two catalog kernels'
    outputs on (query, neighbor)."""
    e = load_table(spark, sf_dir, "embeddings")
    exact = cosine_topk(
        e.filter(F.col("vec_id") < KNN_QUERIES), e, "vec_id", "embedding", KNN_K
    ).select("query_id", "neighbor_id")
    ann = hyperplane_lsh_topk(
        e.filter(F.col("vec_id") < KNN_QUERIES), e, "vec_id", "embedding",
        KNN_K, N_PLANES,
    ).select("query_id", "neighbor_id")
    hits = (
        exact.join(ann, ["query_id", "neighbor_id"], "semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    per_q = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        per_q.join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.floor(
                F.lit(1_000_000) * F.coalesce("n_hits", F.lit(0)) / F.col("n_exact")
            ).alias("recall_ppm"),
        )
        .orderBy("query_id")
    )


_ANN_RECALL_SQL = f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({_KNN_SQL}) x),
ann AS (SELECT query_id, neighbor_id FROM ({_LSH_ANN_SQL}) y),
hits AS (
  SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM exact e JOIN ann a USING (query_id, neighbor_id)
  GROUP BY 1
),
per_q AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
          FROM exact GROUP BY 1)
SELECT p.query_id, p.n_exact, coalesce(h.n_hits, 0) AS n_hits,
       CAST(floor(1000000.0 * coalesce(h.n_hits, 0) / p.n_exact) AS BIGINT)
         AS recall_ppm
FROM per_q p LEFT JOIN hits h USING (query_id)
ORDER BY p.query_id
"""


def semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup decision record: embedding-cosine
    near-dup pairs (hyperplane-bucketed, threshold 0.4 — the same 100 TB
    kernel as embedding_neardup) -> connected components -> per-cluster
    survivor by document quality (n_chars via the shared doc_id/vec_id
    key, ties -> lowest id). The lexical twin is dedup_canonical_keep;
    this one catches paraphrase-level duplicates lexical shingles miss.
    Oracle: the bucketed pair join replayed under a recursive CTE."""
    from dnsflow_clickhouse_spark.operators.dedup import embedding_near_dups
    from dnsflow_clickhouse_spark.operators.graph import canonical_representatives

    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents")
    pairs = embedding_near_dups(
        e, "vec_id", "embedding", threshold=0.4, n_planes=N_PLANES
    )
    return canonical_representatives(
        pairs, d, id_col="doc_id", quality_col="n_chars", num_partitions=8
    ).orderBy("comp")


_SEMDEDUP_SQL = f"""
WITH RECURSIVE
q AS (SELECT vec_id, {_sql_quant('embedding')} AS qv FROM embeddings),
bq AS (SELECT vec_id, qv, {_sql_bucket('qv')} AS bucket FROM q),
edges AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bq a JOIN bq b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE {_NEARDUP_PAIR_EXPR} >= 0.4
),
nodes AS (SELECT id_a AS id FROM edges UNION SELECT id_b FROM edges),
sym AS (SELECT id_a AS a, id_b AS b FROM edges
        UNION ALL SELECT id_b, id_a FROM edges),
reach(id, lbl) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.id
),
cc AS (SELECT id, min(lbl) AS comp FROM reach GROUP BY id),
qq AS (SELECT cc.id, cc.comp, d.n_chars AS qual
       FROM cc JOIN documents d ON d.doc_id = cc.id),
r AS (SELECT comp, id,
             row_number() OVER (PARTITION BY comp ORDER BY qual DESC, id) AS rn,
             count(*) OVER (PARTITION BY comp) AS nm
      FROM qq)
SELECT comp, id AS keep_id, CAST(nm AS BIGINT) AS n_members,
       CAST(nm - 1 AS BIGINT) AS n_dropped
FROM r WHERE rn = 1 ORDER BY comp
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-asset feature extraction through the mapInPandas plumbing:
    documents become opaque binary payloads (utf-8 bytes) with a typed
    ``kind``, then flow through the Arrow-batched decode/resize/
    frame-sample stage (deterministic stub decoder — see
    operators.multimodal)."""
    from dnsflow_clickhouse_spark.operators.multimodal import extract_features

    d = load_table(spark, sf_dir, "documents")
    assets = d.select(
        F.col("doc_id").alias("asset_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    ).transform(lambda d: cpu_repartition(d, "asset_id"))
    return extract_features(assets, decode_stub=True).orderBy("asset_id")


def _hexpair(i: int) -> str:
    d = "0123456789abcdef"
    return (
        f"((strpos('{d}', substr(sha, {i}, 1)) - 1) * 16"
        f" + (strpos('{d}', substr(sha, {i + 1}, 1)) - 1))"
    )


_MULTIMODAL_SQL = f"""
WITH t AS (
  SELECT doc_id AS asset_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         octet_length(encode(text)) AS byte_len,
         sha256(text) AS sha
  FROM documents
)
SELECT asset_id, kind, byte_len, sha AS content_sha,
       CAST(least(16 + {_hexpair(1)} % 64, 32) AS INT) AS feat_width,
       CAST(least(16 + {_hexpair(3)} % 64, 32) AS INT) AS feat_height,
       CAST((1 + {_hexpair(5)} % 8 + 1) // 2 AS INT) AS frames_sampled
FROM t ORDER BY asset_id
"""


def multimodal_frame_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling explode over the video assets: one row per sampled
    frame (asset_id, frame_idx, n_frames) — the shard-building step a
    video training pipeline runs after decode. The explode carries only
    the frame index, never the payload; the decode itself is the same
    Arrow mapInPandas stage as multimodal_features."""
    from dnsflow_clickhouse_spark.operators.multimodal import extract_features

    d = load_table(spark, sf_dir, "documents")
    assets = d.filter(F.col("doc_id") % 3 == 2).select(
        F.col("doc_id").alias("asset_id"),
        F.lit("video").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    feats = extract_features(assets, decode_stub=True)
    return (
        feats.select(
            "asset_id",
            F.col("frames_sampled").alias("n_frames"),
            F.explode(
                F.sequence(F.lit(0), F.col("frames_sampled") - 1)
            ).alias("frame_idx"),
        )
        .select("asset_id", "frame_idx", "n_frames")
        .orderBy("asset_id", "frame_idx")
    )


_FRAME_INDEX_SQL = f"""
WITH t AS (
  SELECT doc_id AS asset_id, sha256(text) AS sha
  FROM documents WHERE doc_id % 3 = 2
),
f AS (
  SELECT asset_id,
         CAST((1 + {_hexpair(5)} % 8 + 1) // 2 AS INT) AS n_frames
  FROM t
)
SELECT asset_id, CAST(i AS INT) AS frame_idx, n_frames
FROM f, UNNEST(generate_series(0, n_frames - 1)) AS u(i)
ORDER BY asset_id, frame_idx
"""


def incremental_dedup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion: flag each NEW-batch document (odd
    doc_id plays the incoming batch) against the EXISTING corpus (even
    doc_id) — exact duplicate by content hash, near duplicate by
    identical 16-bit SimHash. Both checks are equi joins on a uniform
    hash key, so the shuffle is skew-free and the existing side is just
    its distinct hash set — the shape a continuously-growing 100 TB
    corpus runs on every ingest batch (fingerprints persist; full texts
    of the existing corpus are never reread)."""
    d = load_table(spark, sf_dir, "documents")
    # one signature pass carries the content hash alongside the simhash
    # (keep_cols), so there is no self-join. The barrier makes the
    # three consumers below (new-batch probe + the two existing-corpus
    # build sides) read ONE materialization of the compact
    # (id, simhash, md5) rows instead of re-running the Arrow signature
    # kernel per branch.
    base = (
        simhash_df(
            d.withColumn("__h", F.md5("text")), "doc_id", "text", 16,
            keep_cols=["__h"],
        )
        .withColumnRenamed("simhash", "__sim")
        .transform(barrier)
    )
    new_b = base.filter(F.col("id") % 2 == 1)
    old_h = (
        base.filter(F.col("id") % 2 == 0)
        .select(F.col("__h").alias("__oh"))
        .distinct()
    )
    old_sim = (
        base.filter(F.col("id") % 2 == 0)
        .select(F.col("__sim").alias("__osim"))
        .distinct()
    )
    return (
        new_b.join(old_h, new_b.__h == F.col("__oh"), "left")
        .join(old_sim, new_b.__sim == F.col("__osim"), "left")
        .select(
            F.col("id").alias("doc_id"),
            F.col("__oh").isNotNull().cast("int").alias("exact_dup"),
            F.col("__osim").isNotNull().cast("int").alias("near_dup"),
        )
        .orderBy("doc_id")
    )


def _sql_incremental() -> str:
    hs = f"list_transform(toks, t -> {_sql_poly('t')})"
    bits = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> ((h >> {b}) & 1) = 1)) > len(hs) THEN {1 << b} ELSE 0 END)"
        for b in range(16)
    )
    return f"""
WITH t AS (SELECT doc_id, md5(text) AS h, {_SQL_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, h, CAST({bits} AS BIGINT) AS sim
      FROM (SELECT doc_id, h, {hs} AS hs FROM t)),
oldh AS (SELECT DISTINCT h FROM s WHERE doc_id % 2 = 0),
oldsim AS (SELECT DISTINCT sim FROM s WHERE doc_id % 2 = 0)
SELECT doc_id,
       CAST(h IN (SELECT h FROM oldh) AS INT) AS exact_dup,
       CAST(sim IN (SELECT sim FROM oldsim) AS INT) AS near_dup
FROM s WHERE doc_id % 2 = 1
ORDER BY doc_id
"""




# ---------------------------------------------------------------------------
# Product quantization ANN
# ---------------------------------------------------------------------------

# PQ_ITERS=1 at test scale (the oracle unrolls the same count, so
# parity is keyed on this constant); since round 5 training iterations
# replay DRIVER-SIDE over the one collected sample, so extra iterations
# no longer cost cluster barriers — the constant stays at 1 purely to
# keep the unrolled-CTE oracle short; multi-iteration kernel behavior
# is pinned by the unit tests
PQ_M, PQ_K, PQ_ITERS, PQ_DIM = 4, 8, 1, 64


def embedding_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ + ADC ANN top-3 for the first 20 query vectors: per-subspace
    deterministic k-means codebooks (4 subspaces x 8 codewords over the
    64-d embeddings), corpus encoded to 4 codes per vector, queries
    scored by asymmetric distance — the sum of 4 broadcast table
    lookups. This is the BYTES dial of the ANN family (IVF/LSH shrink
    the candidate set; PQ shrinks the index ~64x so a billion-vector
    index fits executor memory). The oracle replays codebook training
    (every k-means round unrolled per subspace), encoding, and the ADC
    scan — full value-hash parity including distances."""
    from dnsflow_clickhouse_spark.operators.similarity import (
        pq_adc_topk,
        pq_train_encode,
    )

    e = load_table(spark, sf_dir, "embeddings")
    codes, books = pq_train_encode(
        e, "vec_id", "embedding", dim=PQ_DIM, m=PQ_M, k=PQ_K, iters=PQ_ITERS
    )
    return pq_adc_topk(
        codes, books, e.filter(F.col("vec_id") < KNN_QUERIES), "vec_id",
        "embedding", KNN_K,
    ).orderBy("query_id", "rnk")


def _sql_pq(
    m: int = PQ_M, k: int = PQ_K, iters: int = PQ_ITERS, dim: int = PQ_DIM
) -> str:
    """Per-subspace replay of pq_train_encode + pq_adc_topk: the
    _sql_kmeans unrolled-iteration pattern repeated for each subspace
    over the sliced quantized vectors, then codes UNION ALL, the
    query-side ADC distance table, and the (s, code) join + sum."""
    sub = dim // m
    sqd = (
        "CAST(list_sum(list_transform(generate_series(1, {d}), "
        "i -> (q.qv[i] - {c}.c[i]) * (q.qv[i] - {c}.c[i]))) AS BIGINT)"
    )
    parts = []
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        parts.append(
            f"""qs{s} AS (SELECT vec_id, ({_sql_quant('embedding')})[{lo}:{hi}] AS qv
        FROM embeddings),
c{s}_0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, qv AS c
       FROM (SELECT vec_id, qv FROM qs{s} ORDER BY vec_id LIMIT {k}))"""
        )
        prev = f"c{s}_0"
        for t in range(1, iters + 1):
            d = sqd.format(d=sub, c=prev)
            parts.append(
                f"""a{s}_{t} AS (
  SELECT vec_id, qv, cid FROM (
    SELECT q.vec_id, q.qv, {prev}.cid,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY {d}, {prev}.cid) AS rn
    FROM qs{s} q CROSS JOIN {prev}) WHERE rn = 1
),
u{s}_{t} AS (
  SELECT cid, i, CAST(floor(sum(qv[i]) * 1.0 / count(*)) AS BIGINT) AS mval
  FROM a{s}_{t}, generate_series(1, {sub}) AS g(i) GROUP BY cid, i
),
c{s}_{t} AS (
  SELECT p.cid, coalesce(n.c, p.c) AS c
  FROM {prev} p LEFT JOIN
       (SELECT cid, list(mval ORDER BY i) AS c FROM u{s}_{t} GROUP BY cid) n
       USING (cid)
)"""
            )
            prev = f"c{s}_{t}"
        d = sqd.format(d=sub, c=prev)
        parts.append(
            f"""enc{s} AS (
  SELECT vec_id, {s} AS s, cid AS code FROM (
    SELECT q.vec_id, {prev}.cid,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY {d}, {prev}.cid) AS rn
    FROM qs{s} q CROSS JOIN {prev}) WHERE rn = 1
),
qt{s} AS (
  SELECT q.vec_id AS qid, {s} AS s, {prev}.cid AS code, {d} AS d
  FROM qs{s} q CROSS JOIN {prev} WHERE q.vec_id < {KNN_QUERIES}
)"""
        )
    codes = " UNION ALL ".join(f"SELECT * FROM enc{s}" for s in range(m))
    qtab = " UNION ALL ".join(f"SELECT * FROM qt{s}" for s in range(m))
    parts.append(f"codes AS ({codes})")
    parts.append(f"qtab AS ({qtab})")
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes},
scored AS (
  SELECT t.qid, c.vec_id, CAST(sum(t.d) AS BIGINT) AS approx_dist
  FROM codes c JOIN qtab t USING (s, code)
  WHERE t.qid != c.vec_id
  GROUP BY t.qid, c.vec_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY approx_dist, vec_id) AS rnk
      FROM scored)
SELECT qid AS query_id, vec_id AS neighbor_id, approx_dist, CAST(rnk AS INT) AS rnk
FROM r WHERE rnk <= {KNN_K} ORDER BY query_id, rnk
"""




def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics over the quantized embeddings:
    min/max/floor-mean plus the exact integer sum of squares (variance
    and energy derive from it without any float aggregation). This is
    the embedding-health monitor a vector pipeline runs before/after
    every ingest — dead dimensions (min == max), scale drift, and
    per-dim energy shifts all read directly off the 64-row output.
    One posexplode (constant fan-out 64) into one map-side-combinable
    hash aggregate; nothing else."""
    from dnsflow_clickhouse_spark.operators.similarity import quantize

    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(quantize(F.col("embedding")).alias("qv"))
    return (
        q.select(F.posexplode("qv").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("v").alias("min_q"),
            F.max("v").alias("max_q"),
            F.floor(F.sum("v") / F.count(F.lit(1))).cast("long").alias("mean_q"),
            F.sum(F.col("v") * F.col("v")).alias("sum_sq"),
        )
        .orderBy("dim")
    )


_DIM_STATS_SQL = f"""
WITH q AS (SELECT {_sql_quant('embedding')} AS qv FROM embeddings),
x AS (SELECT CAST(i - 1 AS INT) AS dim, qv[i] AS v
      FROM q, generate_series(1, 64) AS g(i))
SELECT dim, count(*) AS n_vecs,
       CAST(min(v) AS BIGINT) AS min_q, CAST(max(v) AS BIGINT) AS max_q,
       CAST(floor(sum(v) * 1.0 / count(*)) AS BIGINT) AS mean_q,
       CAST(sum(v * v) AS BIGINT) AS sum_sq
FROM x GROUP BY dim ORDER BY dim
"""




def image_dhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (dHash) image near-duplicate pairs — the
    multimodal member of the dedup family: an exact-md5 pass cannot see
    a re-encoded or slightly re-processed copy of an image, but the
    64-bit difference hash over the 9x8 luma grid keys on luminance
    gradients and survives such edits; near-dups are pairs within
    hamming distance 3, found by the same lossless banded self-join as
    SimHash text dedup (dedup.banded_hamming_pairs — no all-pairs).

    Pixel source: the documents table stands in for an image corpus the
    way multimodal_features' assets do — each doc becomes a
    deterministic 9x8 luma grid (byte values of its text, wrapped),
    computed in-row so DuckDB replays the identical signature. The REAL
    decode path (PNM -> grayscale -> nearest resize -> the same 64
    bits) is operators.multimodal.dhash_from_image, pinned equal to
    this expression by the unit tests."""
    from dnsflow_clickhouse_spark.operators.multimodal import (
        DHASH_H,
        DHASH_W,
        dhash64_expr,
        image_near_dup_pairs,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = (
        d.select("doc_id", F.trim(F.col("text")).alias("t"))
        .filter(F.length("t") > 0)
        .withColumn("l", F.length("t"))
    )
    px = [
        F.expr(f"ascii(substring(t, ({k} % l) + 1, 1))")
        for k in range(DHASH_W * DHASH_H)
    ]
    sig = base.select(
        F.col("doc_id").alias("id"), dhash64_expr(px).alias("dhash")
    )
    return image_near_dup_pairs(sig, "id", "dhash", max_hamming=3).orderBy(
        "id_a", "id_b"
    )


def _sql_dhash(w: int = 9, h: int = 8) -> str:
    def pix(i: int) -> str:
        return f"ascii(substr(t, (({i}) % l) + 1, 1))"

    terms = []
    for r in range(h):
        for c in range(w - 1):
            bit = r * (w - 1) + c
            lit = (
                "(CAST(-9223372036854775807 AS BIGINT) - 1)"
                if bit == 63
                else f"CAST({1 << bit} AS BIGINT)"
            )
            terms.append(
                f"(CASE WHEN {pix(r * w + c)} < {pix(r * w + c + 1)}"
                f" THEN {lit} ELSE CAST(0 AS BIGINT) END)"
            )
    expr = " | ".join(terms)
    return f"""
WITH d AS (SELECT doc_id, trim(text) AS t, length(trim(text)) AS l
           FROM documents WHERE length(trim(text)) > 0),
s AS (SELECT doc_id, {expr} AS hh FROM d)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.hh, b.hh)) AS INT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.hh, b.hh)) <= 3
ORDER BY id_a, id_b
"""




IVFPQ_CELLS, IVFPQ_NPROBE = 8, 2


def embedding_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-3 (the FAISS-style composition, nprobe=2): coarse
    k-means cells prune the candidate set, per-subspace RESIDUAL
    codebooks shrink each vector to 4 codes, and queries score
    candidates by summed ADC table lookups — cells cut the work, codes
    cut the bytes, and both training loops are the replayable
    kmeans_quantized kernel. The oracle replays the coarse training,
    residual computation, all four residual codebook trainings,
    encoding, cell probing, and the ADC scan — every stage unrolled."""
    from dnsflow_clickhouse_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    codes, cells, books = ivfpq_build(
        e, "vec_id", "embedding", dim=PQ_DIM, n_cells=IVFPQ_CELLS,
        m=PQ_M, k=PQ_K, iters=PQ_ITERS,
    )
    return ivfpq_topk(
        codes, cells, books, e.filter(F.col("vec_id") < KNN_QUERIES),
        "vec_id", "embedding", KNN_K, nprobe=IVFPQ_NPROBE,
    ).orderBy("query_id", "rnk")


def _sql_kmeans_block(prefix: str, src: str, dim: int, k: int, iters: int) -> tuple[list[str], str]:
    """Emit the unrolled kmeans_quantized CTE chain over ``src``
    (columns vec_id, qv): init from the k smallest vec_ids, then
    ``iters`` x (assign, update). Returns (parts, final_centroid_cte).

    PARITY PRECONDITION: this oracle trains on the FULL ``src`` table;
    the Spark side trains on a collected priority sample capped at
    similarity.TRAIN_CAP (8192). The two are bit-identical only while
    the table fits under the cap (embeddings sf0.1 = 2000 rows). If a
    future sf bump pushes past 8192 vectors, the whole kmeans/PQ/IVF-PQ
    family will hash-mismatch here — the Spark side warns loudly when
    the cap binds (similarity._warn_if_cap_binds)."""
    sqd = (
        "CAST(list_sum(list_transform(generate_series(1, {d}), "
        "i -> (q.qv[i] - {c}.c[i]) * (q.qv[i] - {c}.c[i]))) AS BIGINT)"
    )
    parts = [
        f"""{prefix}_c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, qv AS c
  FROM (SELECT vec_id, qv FROM {src} ORDER BY vec_id LIMIT {k}))"""
    ]
    prev = f"{prefix}_c0"
    for t in range(1, iters + 1):
        d = sqd.format(d=dim, c=prev)
        parts.append(
            f"""{prefix}_a{t} AS (
  SELECT vec_id, qv, cid FROM (
    SELECT q.vec_id, q.qv, {prev}.cid,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY {d}, {prev}.cid) AS rn
    FROM {src} q CROSS JOIN {prev}) WHERE rn = 1
),
{prefix}_u{t} AS (
  SELECT cid, i, CAST(floor(sum(qv[i]) * 1.0 / count(*)) AS BIGINT) AS mval
  FROM {prefix}_a{t}, generate_series(1, {dim}) AS g(i) GROUP BY cid, i
),
{prefix}_c{t} AS (
  SELECT p.cid, coalesce(n.c, p.c) AS c
  FROM {prev} p LEFT JOIN
       (SELECT cid, list(mval ORDER BY i) AS c FROM {prefix}_u{t} GROUP BY cid) n
       USING (cid)
)"""
        )
        prev = f"{prefix}_c{t}"
    return parts, prev


def _sql_ivfpq(
    n_cells: int = IVFPQ_CELLS, m: int = PQ_M, k: int = PQ_K,
    iters: int = PQ_ITERS, dim: int = PQ_DIM, nprobe: int = IVFPQ_NPROBE,
) -> str:
    sub = dim // m
    sqd = (
        "CAST(list_sum(list_transform(generate_series(1, {d}), "
        "i -> (q.qv[i] - {c}.c[i]) * (q.qv[i] - {c}.c[i]))) AS BIGINT)"
    )
    parts = [f"q64 AS (SELECT vec_id, {_sql_quant('embedding')} AS qv FROM embeddings)"]
    gparts, gfin = _sql_kmeans_block("g", "q64", dim, n_cells, iters)
    parts += gparts
    d_full = sqd.format(d=dim, c=gfin)
    parts.append(
        f"""cellasgn AS (
  SELECT vec_id, cid FROM (
    SELECT q.vec_id, {gfin}.cid,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY {d_full}, {gfin}.cid) AS rn
    FROM q64 q CROSS JOIN {gfin}) WHERE rn = 1),
resid AS (
  SELECT a.vec_id, a.cid,
         list_transform(generate_series(1, {dim}), i -> q.qv[i] - c.c[i]) AS rv
  FROM cellasgn a JOIN q64 q USING (vec_id) JOIN {gfin} c USING (cid))"""
    )
    enc_names, dt_names = [], []
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        parts.append(
            f"rs{s} AS (SELECT vec_id, rv[{lo}:{hi}] AS qv FROM resid)"
        )
        fparts, ffin = _sql_kmeans_block(f"f{s}", f"rs{s}", sub, k, iters)
        parts += fparts
        d_sub = sqd.format(d=sub, c=ffin)
        parts.append(
            f"""enc{s} AS (
  SELECT vec_id, {s} AS s, cid AS code FROM (
    SELECT q.vec_id, {ffin}.cid,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY {d_sub}, {ffin}.cid) AS rn
    FROM rs{s} q CROSS JOIN {ffin}) WHERE rn = 1)"""
        )
        enc_names.append(f"enc{s}")
        # query-side table for this subspace: distance of the probed
        # residual slice to every codeword
        dq = (
            f"CAST(list_sum(list_transform(generate_series(1, {sub}), "
            f"i -> (qr.rv[{lo} - 1 + i] - b.c[i]) * (qr.rv[{lo} - 1 + i] - b.c[i]))) AS BIGINT)"
        )
        parts.append(
            f"""dt{s} AS (
  SELECT qr.qid, qr.cid, {s} AS s, b.cid AS code, {dq} AS d
  FROM qres qr CROSS JOIN {ffin} b)"""
        )
        dt_names.append(f"dt{s}")
    # query cells + residuals (qres is referenced by dt{s}; DuckDB CTEs
    # are order-independent within one WITH)
    parts.append(
        f"""qcd AS (
  SELECT q.vec_id AS qid, {gfin}.cid, {d_full} AS cd
  FROM q64 q CROSS JOIN {gfin} WHERE q.vec_id < {KNN_QUERIES}),
probed AS (
  SELECT qid, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cd, cid) AS rn
    FROM qcd) WHERE rn <= {nprobe}),
qres AS (
  SELECT p.qid, p.cid,
         list_transform(generate_series(1, {dim}), i -> q.qv[i] - c.c[i]) AS rv
  FROM probed p JOIN q64 q ON q.vec_id = p.qid JOIN {gfin} c USING (cid))"""
    )
    codes = " UNION ALL ".join(f"SELECT * FROM {e}" for e in enc_names)
    dtab = " UNION ALL ".join(f"SELECT * FROM {t}" for t in dt_names)
    parts.append(f"encu AS ({codes})")
    parts.append(
        "codes AS (SELECT r.cid, e.vec_id, e.s, e.code FROM encu e JOIN resid r USING (vec_id))"
    )
    parts.append(f"dtab AS ({dtab})")
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes},
scored AS (
  SELECT t.qid, c.vec_id, CAST(sum(t.d) AS BIGINT) AS approx_dist
  FROM codes c JOIN dtab t USING (cid, s, code)
  WHERE t.qid != c.vec_id
  GROUP BY t.qid, c.vec_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY approx_dist, vec_id) AS rnk
      FROM scored)
SELECT qid AS query_id, vec_id AS neighbor_id, approx_dist, CAST(rnk AS INT) AS rnk
FROM r WHERE rnk <= {KNN_K} ORDER BY query_id, rnk
"""


MLOPS_REGISTRY = {
    "incremental_dedup_flags": (incremental_dedup_flags, _sql_incremental()),
    "multimodal_frame_index": (multimodal_frame_index, _FRAME_INDEX_SQL),
    "minhash_band_buckets": (minhash_band_buckets, _MINHASH_BANDS_SQL),
    "lsh_candidate_pairs": (lsh_pairs, _LSH_PAIRS_SQL),
    "lsh_grouped_candidate_pairs": (lsh_pairs_grouped, _LSH_PAIRS_SQL),
    "ngram_jaccard_pairs": (jaccard_pairs, _JACCARD_SQL),
    "containment_pairs": (containment_pairs, _CONTAIN_SQL),
    "prefix_jaccard_pairs": (prefix_jaccard_pairs, _JACCARD_SQL),
    "neardup_components": (neardup_components, _COMPONENTS_SQL),
    "neardup_component_census": (neardup_component_census, _CENSUS_SQL),
    "dedup_canonical_keep": (dedup_canonical_keep, _CANONICAL_SQL),
    "simhash_docs": (simhash_docs, _sql_simhash16()),
    "simhash_near_docs": (simhash_near_docs, _sql_simhash_pairs()),
    "embedding_ivf_ann": (embedding_ivf_ann, _IVF_ANN_SQL),
    "embedding_pq_ann": (embedding_pq_ann, _sql_pq()),
    "embedding_dim_stats": (embedding_dim_stats, _DIM_STATS_SQL),
    "image_dhash_neardups": (image_dhash_neardups, _sql_dhash()),
    "embedding_ivfpq_ann": (embedding_ivfpq_ann, _sql_ivfpq()),
    "kmeans_cluster_report": (kmeans_cluster_report, _sql_kmeans()),
    "embedding_ivf_probe2": (embedding_ivf_probe2, _sql_ivf(2)),
    "lang_id_confusion": (lang_id_confusion, _sql_langid()),
    "doc_fingerprints": (doc_fingerprints, _FP_SQL),
    "embedding_knn": (embedding_knn, _KNN_SQL),
    "embedding_lsh_multiprobe": (
        embedding_lsh_multiprobe,
        _LSH_MULTIPROBE_SQL,
    ),
    "embedding_lsh_ann": (embedding_lsh_ann, _LSH_ANN_SQL),
    "embedding_neardup": (embedding_neardup, _NEARDUP_SQL),
    "semdedup_keep": (semdedup_keep, _SEMDEDUP_SQL),
    "ann_recall_report": (ann_recall_report, _ANN_RECALL_SQL),
    "embedding_neardup_exact": (embedding_neardup_exact, _NEARDUP_EXACT_SQL),
    "multimodal_features": (multimodal_features, _MULTIMODAL_SQL),
}


# ---------------------------------------------------------------------------
# near-dup-family-aware sharding
# ---------------------------------------------------------------------------

_FAM_SEED, _FAM_SHARDS = 2, 8


def component_aware_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard assignment that keeps every near-duplicate FAMILY in one
    shard: exact trigram-Jaccard pairs -> connected components ->
    family key (component label; singletons are their own family) ->
    shard = portable hash of the family key. Round-robin/random
    sharding scatters duplicate families across shards, making any
    later in-shard dedup pass silently incomplete — co-locating by
    family restores per-shard completeness (the map-side analogue of
    clustering a dedup key before a merge).

    Plan: the CC loop runs over the near-dup PAIR graph (≪ corpus);
    the corpus itself takes one left join against the (id, comp) labels
    (AQE broadcasts — components ≪ corpus) and one window count over
    family for the size column. Shard choice is a pure expression of
    the family key, so reruns are byte-identical."""
    from dnsflow_clickhouse_spark.operators.graph import connected_components
    from dnsflow_clickhouse_spark.operators.sampling import sample_key

    d = load_table(spark, sf_dir, "documents")
    pairs = prefix_filtered_jaccard_pairs(
        d, "doc_id", "text", ngram=3, threshold=0.5
    )
    cc = connected_components(pairs, "id_a", "id_b", num_partitions=8)
    fam = (
        d.select("doc_id")
        .join(cc.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("comp", F.col("doc_id")).alias("family")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("family")
    return (
        fam.withColumn(
            "shard",
            (sample_key("family", seed=_FAM_SEED) % _FAM_SHARDS).cast("int"),
        )
        .withColumn("family_size", F.count(F.lit(1)).over(w).cast("long"))
        .orderBy("doc_id")
    )


_FAM_KEY_SQL = (
    f"(({_sql_poly('CAST(family AS VARCHAR)', seed=_FAM_SEED)})"
    f" * 2654435761) % {POLY_MOD} % 1000000 % {_FAM_SHARDS}"
)

_FAM_SHARDS_SQL = f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT id_a, id_b FROM p
  WHERE floor(inter / (na + nb - inter) * 1000000 + 0.5) / 1000000 >= 0.5
),
nodes AS (SELECT id_a AS id FROM edges UNION SELECT id_b FROM edges),
sym AS (SELECT id_a AS a, id_b AS b FROM edges
        UNION ALL SELECT id_b, id_a FROM edges),
reach(id, lbl) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.id
),
cc AS (SELECT id, min(lbl) AS comp FROM reach GROUP BY id),
fam AS (
  SELECT d.doc_id, coalesce(cc.comp, d.doc_id) AS family
  FROM documents d LEFT JOIN cc ON d.doc_id = cc.id)
SELECT doc_id, family, CAST({_FAM_KEY_SQL} AS INT) AS shard,
       CAST(count(*) OVER (PARTITION BY family) AS BIGINT) AS family_size
FROM fam ORDER BY doc_id
"""

MLOPS_REGISTRY["component_aware_shards"] = (
    component_aware_shards,
    _FAM_SHARDS_SQL,
)


# ---------------------------------------------------------------------------
# Cluster-balanced (diversity-preserving) sampling: equal quotas from
# every embedding cluster instead of frequency-weighted draws — the
# anti-mode-collapse subsampling step (the cluster-then-sample shape of
# SemDeDup / DC-style corpus diversification). Composes the
# deterministic Lloyd k-means with the hash-priority grouped top-K.
# ---------------------------------------------------------------------------

_CBS_QUOTA = 25
_CBS_SEED = 3


def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster quota sample over the k-means partition of the
    embedding space (k=4, 2 fixed iterations — the same trained
    quantizer kmeans_cluster_report attests): within each cluster, the
    25 vectors with the smallest deterministic hash priority win, so
    reruns are byte-identical and every region of the space keeps
    representation regardless of its population. One in-row assignment
    pass + one grouped-top-K window — the established 100 TB shapes."""
    from pyspark.sql import Window

    from dnsflow_clickhouse_spark.operators.sampling import sample_key
    from dnsflow_clickhouse_spark.operators.similarity import kmeans_quantized

    e = load_table(spark, sf_dir, "embeddings")
    assigned, _ = kmeans_quantized(
        e, "vec_id", "embedding", k=KMEANS_K, iters=KMEANS_ITERS
    )
    w = Window.partitionBy("cid").orderBy("pri", "vec_id")
    return (
        assigned.select(
            F.col("id").alias("vec_id"),
            "cid",
            sample_key("id", seed=_CBS_SEED).alias("pri"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _CBS_QUOTA)
        .select("cid", "rk", "vec_id", "pri")
        .orderBy("cid", "rk")
    )


def _sql_cluster_balanced() -> str:
    parts, fin = _sql_kmeans_block("b", "q", 64, KMEANS_K, KMEANS_ITERS)
    sqd = (
        "CAST(list_sum(list_transform(generate_series(1, 64), "
        f"i -> (q.qv[i] - {fin}.c[i]) * (q.qv[i] - {fin}.c[i]))) AS BIGINT)"
    )
    pri = (
        f"(({_sql_poly('CAST(vec_id AS VARCHAR)', seed=_CBS_SEED)})"
        f" * 2654435761) % {POLY_MOD} % 1000000"
    )
    blocks = ",\n".join(parts)
    return f"""
WITH q AS (SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings),
{blocks},
asgn AS (
  SELECT vec_id, cid FROM (
    SELECT q.vec_id, {fin}.cid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {sqd}, {fin}.cid) AS rn
    FROM q CROSS JOIN {fin}) WHERE rn = 1),
sel AS (
  SELECT cid, vec_id, {pri} AS pri,
         row_number() OVER (PARTITION BY cid ORDER BY {pri}, vec_id) AS rk
  FROM asgn)
SELECT cid, CAST(rk AS BIGINT) AS rk, vec_id, CAST(pri AS BIGINT) AS pri
FROM sel WHERE rk <= {_CBS_QUOTA} ORDER BY cid, rk
"""


MLOPS_REGISTRY["cluster_balanced_sample"] = (
    cluster_balanced_sample,
    _sql_cluster_balanced(),
)


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003): the
# partial-overlap dedup family member — MinHash/Jaccard see documents
# as gram SETS and miss a long copied span inside otherwise-different
# documents; winnowing guarantees any shared run of >= w + k - 1 tokens
# shares a selected fingerprint (operators/dedup.py:
# winnow_fingerprints / winnowed_span_pairs).
# ---------------------------------------------------------------------------

_WIN_K, _WIN_W, _WIN_MIN_SHARED, _WIN_MAX_DF = 3, 4, 5, 64


def winnowed_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plagiarism-style candidate pairs: documents sharing >= 5
    winnowing fingerprints (token 3-grams, window 4, stop-gram cap at
    document frequency 64 so corpus-wide boilerplate can't fan out
    quadratically)."""
    from dnsflow_clickhouse_spark.operators.dedup import (
        winnowed_span_pairs as _pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    return _pairs(
        d, "doc_id", "text", _WIN_K, _WIN_W, _WIN_MIN_SHARED, _WIN_MAX_DF
    ).orderBy("doc_a", "doc_b")


_WINNOW_SQL = f"""
WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, len(toks) - {_WIN_K} + 1 AS ng, u.i AS pos,
         {_sql_poly(f"array_to_string(toks[u.i:u.i+{_WIN_K - 1}], ' ')")} AS h
  FROM t, LATERAL unnest(
    generate_series(1, greatest(len(toks) - {_WIN_K} + 1, 0))) AS u(i)),
m AS (
  SELECT doc_id, ng, pos,
         min(struct_pack(h := h, p := -pos))
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS mm
  FROM g),
sel AS (
  SELECT DISTINCT doc_id, (mm).h AS fp_hash
  FROM m WHERE pos <= ng - {_WIN_W} + 1),
ok AS (SELECT fp_hash FROM sel GROUP BY 1 HAVING count(*) <= {_WIN_MAX_DF}),
k AS (SELECT sel.doc_id, sel.fp_hash FROM sel JOIN ok USING (fp_hash))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM k a JOIN k b USING (fp_hash)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {_WIN_MIN_SHARED}
ORDER BY doc_a, doc_b
"""

MLOPS_REGISTRY["winnowed_span_pairs"] = (winnowed_span_pairs, _WINNOW_SQL)


# ---------------------------------------------------------------------------
# MMR diversity rerank (Carbonell & Goldstein 1998): relevance-vs-
# redundancy selection from each query's exact top-20 cosine pool —
# what a RAG/search pipeline runs when the head of a ranking is
# near-duplicates (operators/similarity.py: mmr_rerank). The oracle
# unrolls the 5 greedy selections as CTEs over the same integer-micro
# similarity chain.
# ---------------------------------------------------------------------------

_MMR_POOL, _MMR_SEL, _MMR_LAMBDA = 20, 5, 700_000


def embedding_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR rerank of the first 20 query vectors: greedy top-5 from the
    exact top-20 cosine pool, lambda = 0.7 ppm, all scores in exact
    int64 micros (argmax ties -> lowest neighbor id)."""
    from dnsflow_clickhouse_spark.operators.similarity import mmr_rerank

    e = load_table(spark, sf_dir, "embeddings")
    return mmr_rerank(
        e.filter(F.col("vec_id") < KNN_QUERIES), e, "vec_id", "embedding",
        k_pool=_MMR_POOL, k_sel=_MMR_SEL, lambda_ppm=_MMR_LAMBDA,
    ).orderBy("query_id", "rnk")


def _sql_mmr() -> str:
    lam, ilam = _MMR_LAMBDA, 1_000_000 - _MMR_LAMBDA
    cosd = (
        "list_dot_product(a.qv, b.qv)"
        " / (sqrt(list_dot_product(a.qv, a.qv))"
        " * sqrt(list_dot_product(b.qv, b.qv)))"
    )
    simd = (
        "list_dot_product(v1.qv, v2.qv)"
        " / (sqrt(list_dot_product(v1.qv, v1.qv))"
        " * sqrt(list_dot_product(v2.qv, v2.qv)))"
    )
    parts = [
        f"q AS (SELECT vec_id, {_sql_quant('embedding')} AS qv FROM embeddings)",
        f"""pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         floor({cosd} * 1000000 + 0.5) / 1000000 AS cosine,
         CAST(floor({cosd} * 1000000 + 0.5) AS BIGINT) AS simq
  FROM q a JOIN q b ON a.vec_id < {KNN_QUERIES} AND a.vec_id != b.vec_id)""",
        f"""pool AS (
  SELECT query_id, neighbor_id, simq FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, neighbor_id) AS rn
    FROM pairs) WHERE rn <= {_MMR_POOL})""",
        f"""pw AS (
  SELECT p1.query_id, p1.neighbor_id AS a, p2.neighbor_id AS b,
         CAST(floor({simd} * 1000000 + 0.5) AS BIGINT) AS sim
  FROM pool p1 JOIN pool p2
    ON p1.query_id = p2.query_id AND p1.neighbor_id != p2.neighbor_id
  JOIN q v1 ON v1.vec_id = p1.neighbor_id
  JOIN q v2 ON v2.vec_id = p2.neighbor_id)""",
        f"""sel1 AS (
  SELECT query_id, neighbor_id, simq, 1 AS rnk FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY simq DESC, neighbor_id) AS rn
    FROM pool) WHERE rn = 1)""",
        "selall1 AS (SELECT * FROM sel1)",
    ]
    for t in range(2, _MMR_SEL + 1):
        prev = f"selall{t - 1}"
        parts.append(
            f"""m{t} AS (
  SELECT p.query_id, p.neighbor_id, p.simq, max(pw.sim) AS ms
  FROM pool p
  JOIN pw ON pw.query_id = p.query_id AND pw.a = p.neighbor_id
  JOIN {prev} s ON s.query_id = pw.query_id AND s.neighbor_id = pw.b
  LEFT JOIN {prev} x
    ON x.query_id = p.query_id AND x.neighbor_id = p.neighbor_id
  WHERE x.neighbor_id IS NULL
  GROUP BY 1, 2, 3)"""
        )
        parts.append(
            f"""sel{t} AS (
  SELECT query_id, neighbor_id, simq, {t} AS rnk FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY ({lam} * simq - {ilam} * ms) DESC, neighbor_id) AS rn
    FROM m{t}) WHERE rn = 1)"""
        )
        parts.append(
            f"selall{t} AS (SELECT * FROM {prev}"
            f" UNION ALL SELECT * FROM sel{t})"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
       CAST(simq AS BIGINT) AS simq_micro
FROM selall{_MMR_SEL} ORDER BY query_id, rnk
"""
    )


MLOPS_REGISTRY["embedding_mmr_rerank"] = (embedding_mmr_rerank, _sql_mmr())


# ---------------------------------------------------------------------------
# k-core of the near-dup graph (Seidman 1983): connected components
# over near-dup pairs famously OVER-merge through weak chain links
# (A~B~C with A!~C); the 2-core strips every chain/leaf and keeps only
# densely inter-similar clusters — the members a canonical election
# can safely collapse. Fixed peel rounds keep the loop an unrollable
# recurrence (operators/graph.py: kcore_peel).
# ---------------------------------------------------------------------------

_KCORE_K, _KCORE_ROUNDS = 2, 3


def neardup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving (id, in-core degree) of the 2-core of the threshold-
    0.5 trigram-Jaccard near-dup graph after 3 peel rounds (converged:
    round 1 already reaches the fixpoint on this corpus; 3 is the
    safety margin the oracle unrolls)."""
    from dnsflow_clickhouse_spark.operators.dedup import (
        prefix_filtered_jaccard_pairs,
    )
    from dnsflow_clickhouse_spark.operators.graph import kcore_peel

    d = load_table(spark, sf_dir, "documents")
    pairs = prefix_filtered_jaccard_pairs(
        d, "doc_id", "text", ngram=3, threshold=0.5
    )
    return kcore_peel(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        k=_KCORE_K,
        rounds=_KCORE_ROUNDS,
        num_partitions=8,
    ).orderBy("id")


def _sql_kcore() -> str:
    parts = [
        "pr AS (SELECT id_a, id_b FROM p WHERE"
        " floor(inter / (na + nb - inter) * 1000000 + 0.5) / 1000000 >= 0.5)",
        "e0 AS (SELECT id_a AS a, id_b AS b FROM pr"
        " UNION SELECT id_b, id_a FROM pr)",
    ]
    prev = "e0"
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(f"d{r} AS (SELECT a, count(*) AS c FROM {prev} GROUP BY a)")
        parts.append(f"k{r} AS (SELECT a FROM d{r} WHERE c >= {_KCORE_K})")
        parts.append(
            f"e{r} AS (SELECT e.a, e.b FROM {prev} e"
            f" JOIN k{r} x ON e.a = x.a JOIN k{r} y ON e.b = y.a)"
        )
        prev = f"e{r}"
    return f"""
WITH {_JACCARD_CTES},
{', '.join(parts)}
SELECT a AS id, CAST(count(*) AS BIGINT) AS degree
FROM {prev} GROUP BY a ORDER BY id
"""


MLOPS_REGISTRY["neardup_kcore"] = (neardup_kcore, _sql_kcore())


# --- multi-table hyperplane LSH (round 10) ---------------------------------

N_LSH_TABLES = 2


def embedding_lsh_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-table hyperplane-LSH ANN top-3: two independent 8-plane hash
    tables over disjoint plane families; a pair is a candidate if it
    collides in EITHER table (P(miss) squares with the second table —
    the standard LSH recall dial that composes with multiprobe). Each
    surviving pair is deduplicated before scoring, so the dot-product
    cost is per-candidate, not per-collision."""
    e = load_table(spark, sf_dir, "embeddings")
    return hyperplane_lsh_topk(
        e.filter(F.col("vec_id") < KNN_QUERIES), e, "vec_id", "embedding",
        KNN_K, N_PLANES, n_tables=N_LSH_TABLES,
    ).orderBy("query_id", "rnk")


def _sql_multitable() -> str:
    table_joins = "\n  UNION\n".join(
        f"""  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM (SELECT vec_id, {_sql_bucket('qv', plane_offset=t * N_PLANES)} AS bucket FROM q) a
  JOIN (SELECT vec_id, {_sql_bucket('qv', plane_offset=t * N_PLANES)} AS bucket FROM q) b
    ON a.bucket = b.bucket AND a.vec_id < {KNN_QUERIES} AND a.vec_id != b.vec_id"""
        for t in range(N_LSH_TABLES)
    )
    return f"""
WITH q AS (SELECT vec_id, {_sql_quant('embedding')} AS qv FROM embeddings),
cand AS (
{table_joins}
),
pairs AS (
  SELECT c.query_id, c.neighbor_id,
         floor(list_dot_product(x.qv, y.qv)
               / (sqrt(list_dot_product(x.qv, x.qv)) * sqrt(list_dot_product(y.qv, y.qv))) * 1000000 + 0.5) / 1000000 AS cosine
  FROM cand c JOIN q x ON x.vec_id = c.query_id JOIN q y ON y.vec_id = c.neighbor_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM pairs)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= {KNN_K} ORDER BY query_id, rnk
"""


MLOPS_REGISTRY["embedding_lsh_multitable"] = (
    embedding_lsh_multitable, _sql_multitable()
)
