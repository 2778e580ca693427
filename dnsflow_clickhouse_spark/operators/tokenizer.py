"""BPE vocabulary induction (tokenizer training) — engine extension.

The reference engine has no tokenizer-training operator; a training-data
platform needs one (the merge table IS the tokenizer). This is the
classic byte-pair-encoding loop over a word-frequency table (Sennrich et
al. 2016, "Neural Machine Translation of Rare Words with Subword
Units"): each round counts adjacent symbol pairs weighted by word
frequency, merges the most frequent pair everywhere, and records it.

Spark-first shape — the loop distributes the way distributed BPE
implementations do:

- the corpus is touched ONCE (word-count aggregate); every round after
  that runs over the vocabulary table (|distinct words| rows, ~10^6-10^8
  at 100 TB — tiny next to the corpus);
- one round = one pair-explode + map-side-combinable hash aggregate,
  one global top-1 (TakeOrderedAndProject — no full sort), one
  broadcast cross-join carrying the single winning pair back, and one
  codegen string `replace` applying it. No driver-side loop state
  beyond the round counter; nothing is collected.

Symbol-state representation: a word's current segmentation is a single
string of symbols joined by a DOUBLE space ('h  e  l  l  o'). Applying
merge (a, b) is then one LITERAL global replace of ' a  b ' with
' ab ' on the single-space-padded state — the padding makes the
double-space separators tile, so left-to-right non-overlapping
replacement matches classic BPE exactly ('a a a' + (a,a) -> 'aa a').
Literal replace (no regex) means arbitrary symbols never need
escaping, and DuckDB's `replace` replays it verbatim for the oracle.

Determinism: ties on pair count break by (left_sym, right_sym)
lexicographic ascending — a pure ORDER BY, identical in every engine.

Like the other iterative operators (graph.py), each round's state is
staged behind ``operators.util.barrier`` (executor-local by default,
reliable when the session sets ``spark.checkpoint.dir``). Without the
barrier the unrolled plan re-derives round r's state once per later
round — O(R^2) evaluations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.functions.textfn import tokens
from dnsflow_clickhouse_spark.operators.util import barrier

SEP = "  "  # double-space symbol separator (see module docstring)


def word_frequency_table(df: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt): lowercased whitespace tokens of ``text_col`` with
    corpus frequencies — the only pass over the corpus; the BPE loop
    runs entirely over this table."""
    return (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _initial_states(words: DataFrame) -> DataFrame:
    """(cnt, sym): each word split to single-character symbols."""
    return words.select(
        "cnt", F.array_join(F.split("word", ""), SEP).alias("sym")
    )


def _adjacent_pairs(states: DataFrame) -> DataFrame:
    """(a, b, total): every ADJACENT symbol-pair occurrence (repeats
    within a word count once each), weighted by word frequency.
    In-row transform + one explode into a hash aggregate."""
    syms = F.split("sym", SEP)
    n = F.size(syms)
    # sequence() flips to step -1 when start > stop — guard 1-symbol rows
    idx = F.when(n >= 2, F.sequence(F.lit(0), n - F.lit(2))).otherwise(
        F.array().cast("array<int>")
    )
    pair = lambda i: F.struct(  # noqa: E731
        F.element_at(syms, (i + 1).cast("int")).alias("a"),
        F.element_at(syms, (i + 2).cast("int")).alias("b"),
    )
    return (
        states.select(F.explode(F.transform(idx, pair)).alias("p"), "cnt")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").alias("total"))
    )


def _apply_merge(states: DataFrame, top: DataFrame) -> DataFrame:
    """Merge the winning pair in every state: broadcast the 1-row top
    frame in, one literal padded replace (see module docstring)."""
    padded = F.concat(F.lit(" "), F.col("sym"), F.lit(" "))
    pattern = F.concat(F.lit(" "), F.col("a"), F.lit(SEP), F.col("b"), F.lit(" "))
    merged = F.concat(F.lit(" "), F.col("a"), F.col("b"), F.lit(" "))
    return states.crossJoin(F.broadcast(top.select("a", "b"))).select(
        "cnt", F.trim(F.replace(padded, pattern, merged)).alias("sym")
    )


def bpe_learn(
    df: DataFrame,
    text_col: str,
    n_merges: int,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges over ``text_col``; returns the
    ordered merge table (round, left_sym, right_sym, pair_count) —
    round starts at 1. The merge table is the trained tokenizer
    artifact; re-applying rounds 1..r to any text reproduces the
    vocabulary after r merges."""
    states = barrier(_initial_states(word_frequency_table(df, text_col)))
    merge_rows: list[DataFrame] = []
    for r in range(1, n_merges + 1):
        top = barrier(
            _adjacent_pairs(states)
            .orderBy(F.desc("total"), "a", "b")
            .limit(1)
        )
        merge_rows.append(
            top.select(
                F.lit(r).alias("round"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.col("total").alias("pair_count"),
            )
        )
        if r < n_merges:
            states = barrier(_apply_merge(states, top))
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return out.orderBy("round")


def segment_with_merges(
    text: Column, merges: list[tuple[str, str]]
) -> Column:
    """Apply a LEARNED merge list to a text column: returns the
    symbol-segmentation of each lowercased whitespace token, as one
    double-space-joined string per token, tokens joined by ' | '.
    Pure codegen string expressions (one literal replace per merge) —
    the map-side tokenizer-application path once training is done."""
    toks = tokens(F.lower(text))

    def seg(tok: Column) -> Column:
        s = F.array_join(F.split(tok, ""), SEP)
        for a, b in merges:
            s = F.trim(
                F.replace(
                    F.concat(F.lit(" "), s, F.lit(" ")),
                    F.lit(f" {a}{SEP}{b} "),
                    F.lit(f" {a}{b} "),
                )
            )
        return s

    return F.array_join(F.transform(toks, seg), " | ")
