"""Sessionization / as-of join / BPE tokenizer boundary semantics."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.functions.textfn import bpe_like_tokens, bpe_token_count
from dnsflow_clickhouse_spark.operators.sessions import asof_join, sessionize

UTC = dt.timezone.utc


def _ts(s):
    return dt.datetime.fromtimestamp(1_700_000_000 + s, tz=UTC)


def test_sessionize_gap_boundary(spark):
    """Gap == gap_seconds stays in-session; gap > gap_seconds splits."""
    rows = [
        ("u1", 1, _ts(0)),
        ("u1", 2, _ts(60)),     # exactly 60s after -> same session
        ("u1", 3, _ts(121)),    # 61s after -> new session
        ("u2", 4, _ts(0)),      # other key independent
    ]
    df = spark.createDataFrame(rows, "user string, event_id long, ts timestamp")
    out = {
        (r.user, r.event_id): r.session_idx
        for r in sessionize(df, "user", "ts", 60, ["event_id"]).collect()
    }
    assert out == {("u1", 1): 1, ("u1", 2): 1, ("u1", 3): 2, ("u2", 4): 1}


def test_asof_join_strict_and_ties(spark):
    left = spark.createDataFrame(
        [("u1", 10, _ts(100)), ("u1", 11, _ts(200)), ("u2", 12, _ts(50))],
        "user string, pid long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", 1, _ts(100), 1.0),   # same ts as pid=10 -> excluded (strict)
            ("u1", 2, _ts(150), 2.0),
            ("u1", 3, _ts(150), 3.0),   # tie at ts=150 -> greatest rid wins
        ],
        "user string, rid long, r_ts timestamp, val double",
    )
    out = {
        r.pid: r.asof_val
        for r in asof_join(
            left, right, "user", "ts", "r_ts", ["val"], right_tiebreak="rid"
        ).collect()
    }
    assert out[10] is None, "same-timestamp right row leaked into strict as-of"
    assert out[11] == 3.0, "tie should resolve to greatest tiebreak"
    assert out[12] is None, "key with no right rows must get null"


def test_bpe_tokens(spark):
    df = spark.createDataFrame(
        [("I've seen 42 models!",), ("   ",), ("",)], "text string"
    )
    got = df.select(
        bpe_like_tokens("text").alias("t"), bpe_token_count("text").alias("n")
    ).collect()
    assert got[0].t == ["I", "'ve", " seen", " 42", " models", "!"]
    assert got[0].n == 6
    assert got[1].n == 0 and got[2].n == 0


def test_connected_components_chain(spark):
    """A 5-node chain needs label propagation across multiple iterations
    (min label travels one hop per iteration); isolated pair unaffected."""
    from dnsflow_clickhouse_spark.operators.graph import (
        connected_components,
        dedup_clusters,
    )

    edges = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1), (10, 11)], "src long, dst long"
    )
    cc = {r.id: r.comp for r in connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
    sizes = {r.comp: r.n_members for r in dedup_clusters(edges, "src", "dst").collect()}
    assert sizes == {1: 5, 10: 2}


def test_connected_components_deep_chain_converges(spark):
    """A 100-node chain has diameter 99 — plain one-hop min-label
    propagation would exhaust max_iter=25 and return unconverged labels.
    The pointer-jumping shortcut (comp of comp, label travels 2^t hops
    after t rounds) must converge it well inside the iteration cap."""
    from dnsflow_clickhouse_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 100)], "src long, dst long"
    )
    cc = {
        r.id: r.comp
        for r in connected_components(edges, num_partitions=4).collect()
    }
    assert len(cc) == 100
    assert set(cc.values()) == {1}, "deep chain did not fully converge"


def _barrier_ops(spark) -> dict:
    """Run the barrier-heavy operators; return each one's sorted rows
    and the number of reliable-checkpoint RDD directories that exist
    after it ran, plus the LSH hot-bucket audit."""
    import os

    from dnsflow_clickhouse_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_hot_bucket_audit,
    )
    from dnsflow_clickhouse_spark.operators.graph import (
        connected_components,
        pagerank_exact,
    )
    from dnsflow_clickhouse_spark.operators.tokenizer import bpe_learn

    ckpt = spark.conf.get("spark.checkpoint.dir", None)
    out: dict = {"conf": ckpt, "ops": {}}

    def record(name, df):
        rdd_dirs = 0
        rows = sorted(list(r) for r in df.collect())
        if ckpt:
            rdd_dirs = sum(
                d.startswith("rdd-") for _, ds, _ in os.walk(ckpt) for d in ds
            )
        out["ops"][name] = {"rows": rows, "rdd_dirs": rdd_dirs}

    edges = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1), (10, 11)], "src long, dst long"
    )
    record("connected_components", connected_components(edges))
    record("pagerank_exact", pagerank_exact(edges, iterations=2))
    text = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    corpus = spark.createDataFrame([(text,)], "text string")
    record("bpe_learn", bpe_learn(corpus, "text", 4))
    docs = spark.range(0, 160).selectExpr(
        "id AS doc_id",
        "CASE WHEN id < 120 THEN 'same text every single time' "
        "ELSE concat('doc ', CAST(id % 20 AS STRING), ' other words here') "
        "END AS text",
    )
    pairs = lsh_candidate_pairs(docs, "doc_id", "text", max_bucket_size=100)
    record("lsh_candidate_pairs", pairs)
    audit = lsh_hot_bucket_audit(pairs)
    out["audit"] = [audit["n_hot"], audit["max_bucket"]]
    return out


_RELIABLE_SCRIPT = """
import json
from dnsflow_clickhouse_spark.session import get_spark
from test_sessions import _barrier_ops
spark = get_spark(app_name="barrier-reliable", master="local[2]",
                  shuffle_partitions=4)
print("RESULT " + json.dumps(_barrier_ops(spark)))
spark.stop()
"""


def test_reliable_barrier_mode_matches_default_and_writes_checkpoints(
    spark, tmp_path
):
    """Spark's own ``spark.checkpoint.dir`` switches every lineage
    barrier (operators.util.barrier) to a reliable checkpoint: the
    graph loops, the BPE loop and the LSH hot-bucket guard return the
    same rows as in the default (executor-local) mode, and each of
    them writes checkpoint files to the directory. The reliable run
    is a subprocess started with the conf at submit time, so the
    shared test session's SparkContext never gets a checkpoint
    directory."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    tests_dir = Path(__file__).resolve().parent
    ckpt = tmp_path / "reliable_ckpt"
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join([str(tests_dir.parent), str(tests_dir)])
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.checkpoint.dir={ckpt} pyspark-shell"
    )
    env["SPARK_DRIVER_MEM"] = "2g"
    proc = subprocess.run(
        [sys.executable, "-c", _RELIABLE_SCRIPT],
        env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    reliable = json.loads(result[-1][len("RESULT "):])
    default = _barrier_ops(spark)

    assert default["conf"] is None
    assert reliable["conf"] == str(ckpt)
    names = list(default["ops"])
    for name in names:
        assert reliable["ops"][name]["rows"] == default["ops"][name]["rows"], name
    # sanity on the rows themselves, so equal-but-empty cannot pass
    cc = dict(map(tuple, default["ops"]["connected_components"]["rows"]))
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
    assert default["ops"]["lsh_candidate_pairs"]["rows"]
    # 8 hashes / 4 bands: each band has one hot bucket of the 120
    # identical docs, dropped by the guard
    assert reliable["audit"] == default["audit"] == [4, 120]
    # every operator added checkpoint RDD directories of its own
    counts = [reliable["ops"][n]["rdd_dirs"] for n in names]
    assert counts[0] > 0, counts
    assert all(b > a for a, b in zip(counts, counts[1:])), counts


def test_canonical_representatives(spark):
    """Highest quality wins each cluster; quality ties break to the
    lowest id; a member missing from the quality table (null score)
    sorts last but still counts toward the cluster size."""
    from dnsflow_clickhouse_spark.operators.graph import (
        canonical_representatives,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    quality = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 9.0), (11, 1.0)], "id long, quality double"
    )
    got = {
        r.comp: (r.keep_id, r.n_members, r.n_dropped)
        for r in canonical_representatives(pairs, quality).collect()
    }
    # cluster {1,2,3}: 2 and 3 tie at 9.0 -> lowest id 2 wins
    # cluster {10,11}: 10 has no quality row (null) -> 11 wins
    assert got == {1: (2, 3, 2), 10: (11, 2, 1)}


# ---------------------------------------------------------------------------
# SCD2 history
# ---------------------------------------------------------------------------


def test_scd2_history_collapses_runs_and_versions(spark):
    from pyspark.sql import functions as F

    from dnsflow_clickhouse_spark.operators.history import scd2_history

    snaps = spark.createDataFrame(
        [
            ("u1", 1, "gold", "EU"),
            ("u1", 2, "gold", "EU"),   # unchanged -> same interval
            ("u1", 3, "gold", "US"),   # region change -> new version
            ("u1", 5, "silver", "US"), # sparse day 4 skipped: carry
            ("u2", 1, "bronze", None), # null attribute value
            ("u2", 2, "bronze", None), # null == null (null-safe) -> same
            ("u2", 3, "bronze", "EU"),
        ],
        "k string, snap int, tier string, region string",
    )
    out = {
        (r.k, r.version): (r.tier, r.region, r.valid_from, r.valid_to)
        for r in scd2_history(snaps, ["k"], ["tier", "region"], "snap").collect()
    }
    assert out[("u1", 1)] == ("gold", "EU", 1, 3)
    assert out[("u1", 2)] == ("gold", "US", 3, 5)
    assert out[("u1", 3)] == ("silver", "US", 5, None)  # open interval
    assert out[("u2", 1)] == ("bronze", None, 1, 3)
    assert out[("u2", 2)] == ("bronze", "EU", 3, None)
    assert len(out) == 5


def test_scd2_history_feeds_asof_join(spark):
    """Intervals from scd2_history answer point-in-time lookups: an
    event at snap t sees the state whose valid_from <= t < valid_to."""
    from pyspark.sql import functions as F

    from dnsflow_clickhouse_spark.operators.history import scd2_history
    from dnsflow_clickhouse_spark.operators.sessions import asof_join

    snaps = spark.createDataFrame(
        [("u1", 1, "gold"), ("u1", 4, "silver")],
        "k string, snap int, tier string",
    )
    hist = scd2_history(snaps, ["k"], ["tier"], "snap")
    events = spark.createDataFrame(
        [("u1", 2), ("u1", 4), ("u1", 9)], "k string, t int"
    )
    # asof_join matches the greatest valid_from STRICTLY before t, so
    # an event AT a transition snapshot still sees the prior state
    got = {
        r.t: r.asof_tier
        for r in asof_join(
            events, hist.select("k", F.col("valid_from").alias("snap"), "tier"),
            "k", "t", "snap", ["tier"],
        ).collect()
    }
    assert got == {2: "gold", 4: "gold", 9: "silver"}


def test_hits_scores_match_python_replay(spark):
    from dnsflow_clickhouse_spark.operators.graph import hits_scores

    # bipartite graph: u1->{a,b}, u2->{a}, u3->{a,c}; 'a' is the
    # consensus authority, u1/u3 the strong hubs
    raw = [(1, "a"), (1, "b"), (2, "a"), (3, "a"), (3, "c"), (1, "a")]
    edges = spark.createDataFrame(raw, "src long, dst string")

    def replay(iters):
        e = sorted(set(raw))
        hubs = {s: 1_000_000 for s, _ in e}
        auth = {}
        for _ in range(iters):
            ar = {}
            for s, d in e:
                ar[d] = ar.get(d, 0) + hubs[s]
            am = max(ar.values())
            auth = {d: (r * 1_000_000) // am for d, r in ar.items()}
            hr = {}
            for s, d in e:
                hr[s] = hr.get(s, 0) + auth[d]
            hm = max(hr.values())
            hubs = {s: (r * 1_000_000) // hm for s, r in hr.items()}
        return hubs, auth

    h_df, a_df = hits_scores(edges, iterations=3)
    want_h, want_a = replay(3)
    assert {r.id: r.hub for r in h_df.collect()} == want_h
    assert {r.id: r.auth for r in a_df.collect()} == want_a
    # structural sanity: 'a' dominates, and the max-rescale pins it at 1e6
    assert want_a["a"] == 1_000_000
    assert want_a["a"] > want_a["b"] and want_a["a"] > want_a["c"]


def test_qps_anomaly_seasonal_baseline(spark):
    from dnsflow_clickhouse_spark.queries.catalog_dns5 import (
        anomalies_from_epochs,
    )

    # hour-of-day 5: days 0..8 carry 10 events each, day 9 spikes to 20
    # (dev = |20*9 - 90| * 1e6 / 90 = 1e6). Hour 6 is flat: no rows.
    rows = []
    for day in range(10):
        n = 20 if day == 9 else 10
        rows += [(day * 86400 + 5 * 3600 + i,) for i in range(n)]
        rows += [(day * 86400 + 6 * 3600 + i,) for i in range(10)]
    out = anomalies_from_epochs(
        spark.createDataFrame(rows, "ep long")
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["day"], r["hod"], r["cnt"], r["n_prior"], r["sum_prior"]) == (
        9, 5, 20, 9, 90,
    )
    assert r["dev_ppm"] == 1_000_000
    # days 0-7 have < 7 days of history and are never scored


def test_kcore_peel_triangle_with_tail(spark):
    from dnsflow_clickhouse_spark.operators.graph import kcore_peel

    # triangle 1-2-3 plus a tail 3-4-5: the 2-core is the triangle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {
        r.id: r.degree for r in kcore_peel(edges, k=2, rounds=3).collect()
    }
    assert got == {1: 2, 2: 2, 3: 2}
    # k=3 empties it (no 3-core exists)
    assert kcore_peel(edges, k=3, rounds=3).count() == 0


def test_kcore_peel_needs_multiple_rounds(spark):
    from dnsflow_clickhouse_spark.operators.graph import kcore_peel

    # a chain hanging off a square: peeling the chain takes a round per
    # link — rounds=1 leaves the second link, rounds=3 reaches fixpoint
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (4, 5), (5, 6)],
        "src long, dst long",
    )
    assert set(
        r.id for r in kcore_peel(edges, k=2, rounds=1).collect()
    ) == {1, 2, 3, 4, 5}
    assert set(
        r.id for r in kcore_peel(edges, k=2, rounds=3).collect()
    ) == {1, 2, 3, 4}

    import pytest

    with pytest.raises(ValueError):
        kcore_peel(edges, k=0, rounds=3)
