"""Range-join operator tests: first/last-match disambiguation over
overlapping rules, inclusive bounds, unmatched defaults — the SURVEY
§7.4 risk cases (reference: DnsRptCH.scala:928-930 first-match client
lookup; :95-101 last-match business lookup)."""

from __future__ import annotations

import importlib
import random

from pyspark.sql import functions as F
from pyspark.sql import types as T

from dnsflow_clickhouse_spark.operators.range_join import (
    flatten_intervals,
    membership_flag,
    prefix_bucketed_range_join,
    range_join,
)

# the module itself: the operators package re-exports the range_join function
RJ = importlib.import_module("dnsflow_clickhouse_spark.operators.range_join")

RULES_SCHEMA = T.StructType(
    [
        T.StructField("min_long_ip", T.LongType()),
        T.StructField("max_long_ip", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("rule_idx", T.IntegerType()),
    ]
)


def _facts(spark, probes):
    return spark.createDataFrame([(i, p) for i, p in enumerate(probes)], "id long, probe long")


def _rules(spark, rows):
    return spark.createDataFrame(
        [(lo, hi, n, i) for i, (lo, hi, n) in enumerate(rows)], RULES_SCHEMA
    )


def test_flatten_intervals_first_match():
    rows = [
        {"lo": 0, "hi": 10, "name": "a"},
        {"lo": 5, "hi": 20, "name": "b"},
    ]
    flat = flatten_intervals(rows, "lo", "hi", ["name"], match="first")
    # [0,10] -> a (first rule wins in overlap), [11,20] -> b
    assert [(f["lo"], f["hi"], f["payload"]["name"]) for f in flat] == [
        (0, 10, "a"),
        (11, 20, "b"),
    ]


def test_flatten_intervals_last_match():
    rows = [
        {"lo": 0, "hi": 10, "name": "a"},
        {"lo": 5, "hi": 20, "name": "b"},
    ]
    flat = flatten_intervals(rows, "lo", "hi", ["name"], match="last")
    assert [(f["lo"], f["hi"], f["payload"]["name"]) for f in flat] == [
        (0, 4, "a"),
        (5, 20, "b"),
    ]


def _flatten_brute_force(rows, lo_key, hi_key, payload_keys, match="first", order_key=None):
    """Reference flatten: scan every rule for every elementary interval,
    O(B*R)."""
    if not rows:
        return []
    ordered = [(r[order_key] if order_key else i, r) for i, r in enumerate(rows)]
    points = sorted({r[lo_key] for _, r in ordered} | {r[hi_key] + 1 for _, r in ordered})
    best = min if match == "first" else max
    out: list[dict] = []
    for i in range(len(points) - 1):
        lo, hi = points[i], points[i + 1] - 1
        covering = [(o, r) for o, r in ordered if r[lo_key] <= lo and r[hi_key] >= hi]
        if not covering:
            continue
        _, win = best(covering, key=lambda t: t[0])
        payload = {k: win[k] for k in payload_keys}
        if out and out[-1]["hi"] == lo - 1 and out[-1]["payload"] == payload:
            out[-1]["hi"] = hi
        else:
            out.append({"lo": lo, "hi": hi, "payload": payload})
    return out


def test_flatten_sweep_matches_brute_force():
    """The sweep agrees with the O(B*R) scan on random overlapping rule
    sets: duplicate order keys (ties -> earlier row), first and last
    match, input order or an order key, with and without a payload."""
    rng = random.Random(7)
    for _ in range(400):
        rows = []
        for _ in range(rng.randint(0, 12)):
            lo = rng.randint(0, 60)
            rows.append(
                {
                    "lo": lo,
                    "hi": lo + rng.randint(-1, 25),  # -1: an empty rule
                    "name": rng.choice("abc"),
                    "idx": rng.randint(0, 4),
                }
            )
        for match in ("first", "last"):
            for order_key in (None, "idx"):
                for payload in (["name", "idx"], ["name"], []):
                    args = (rows, "lo", "hi", payload, match, order_key)
                    assert flatten_intervals(*args) == _flatten_brute_force(*args)
    # no payload = the merged union: overlapping and adjacent ranges coalesce
    bounds = [(10, 20), (15, 30), (50, 60), (61, 70), (100, 100)]
    flat = flatten_intervals(bounds, 0, 1, [])
    assert [(iv["lo"], iv["hi"]) for iv in flat] == [(10, 30), (50, 70), (100, 100)]


def test_range_join_first_match_and_default(spark):
    facts = _facts(spark, [0, 7, 15, 99])
    rules = _rules(spark, [(0, 10, "a"), (5, 20, "b")])
    out = range_join(
        facts,
        rules,
        "probe",
        match="first",
        order_col="rule_idx",
        payload_cols=["name"],
        defaults={"name": "dflt"},
    )
    got = {r["probe"]: r["name"] for r in out.collect()}
    assert got == {0: "a", 7: "a", 15: "b", 99: "dflt"}


def test_range_join_last_match(spark):
    facts = _facts(spark, [7, 3])
    rules = _rules(spark, [(0, 10, "a"), (5, 20, "b")])
    out = range_join(
        facts, rules, "probe", match="last", order_col="rule_idx", payload_cols=["name"]
    )
    got = {r["probe"]: r["name"] for r in out.collect()}
    assert got == {7: "b", 3: "a"}


def test_range_join_inclusive_bounds(spark):
    facts = _facts(spark, [4, 5, 10, 11])
    rules = _rules(spark, [(5, 10, "in")])
    out = range_join(facts, rules, "probe", payload_cols=["name"])
    got = {r["probe"]: r["name"] for r in out.collect()}
    assert got == {4: None, 5: "in", 10: "in", 11: None}


def test_prefix_bucketed_range_join_geo_shape(spark):
    # disjoint geo-style ranges spanning multiple /8 buckets
    rules = spark.createDataFrame(
        [
            (0, 3 * 16777216 - 1, "regionA"),
            (3 * 16777216, 3 * 16777216 + 100, "regionB"),
        ],
        "min_long_ip long, max_long_ip long, name string",
    )
    facts = _facts(spark, [1, 2 * 16777216, 3 * 16777216 + 50, 4 * 16777216])
    out = prefix_bucketed_range_join(
        facts,
        rules,
        "probe",
        fact_bucket=(F.col("probe") / 16777216).cast("long"),
        payload_cols=["name"],
        defaults={"name": "unknown"},
    )
    got = {r["probe"]: r["name"] for r in out.collect()}
    assert got == {
        1: "regionA",
        2 * 16777216: "regionA",
        3 * 16777216 + 50: "regionB",
        4 * 16777216: "unknown",
    }


def test_interval_overlap_join_dedup_and_semantics(spark):
    from dnsflow_clickhouse_spark.operators.range_join import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 0, 250), (2, 90, 110), (3, 300, 310)],
        "lid int, ls long, le long",
    )
    right = spark.createDataFrame(
        [(10, 100, 220), (20, 240, 360)],
        "rid int, rs long, re long",
    )
    got = sorted(
        (r.lid, r.rid)
        for r in interval_overlap_join(
            left, right, ("ls", "le"), ("rs", "re"), bucket_width=100
        ).collect()
    )
    # (1,10) shares buckets 1 and 2 -> must appear exactly ONCE;
    # (1,20) overlaps at [240,250]; (2,10) nested; (3,20) tail overlap;
    # (2,20)/(3,10) don't overlap.
    assert got == [(1, 10), (1, 20), (2, 10), (3, 20)]
    # name collision is rejected, not silently mis-joined
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ambiguous"):
        interval_overlap_join(left, left, ("ls", "le"), ("ls", "le"), 100)
    # outer joins would surface per-bucket null-extended duplicates;
    # the operator refuses rather than returning wrong rows
    with _pytest.raises(ValueError, match="inner"):
        interval_overlap_join(
            left, right, ("ls", "le"), ("rs", "re"), 100, how="left"
        )


def test_membership_flag_literal_and_join_paths_agree(spark, monkeypatch):
    bounds = [(10, 20), (15, 30), (50, 60), (61, 70), (100, 100)]
    facts = spark.createDataFrame([(v,) for v in [5, 10, 30, 31, 49, 70, 100, 101]], "p long")
    lit = membership_flag(facts, "p", bounds, "f")
    monkeypatch.setattr(RJ, "MEMBERSHIP_LITERAL_MAX", 1)
    joined = membership_flag(facts, "p", bounds, "f")
    want = {5: False, 10: True, 30: True, 31: False, 49: False, 70: True, 100: True, 101: False}
    for df in (lit, joined):
        got = {r["p"]: r["f"] for r in df.collect()}
        assert got == want
        assert df.count() == 8  # disjoint merge: join path adds no dup rows
    # large path really is a join, small path really is a predicate
    assert "Join" in joined._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in lit._jdf.queryExecution().executedPlan().toString()
