"""The reference's report fan-out (A1-A19, SURVEY §2.5) as pure
``DataFrame -> DataFrame`` functions over the enriched base/top frames.

Shared conventions (reference semantics preserved):
- ``resolver`` sums are row counts (resolver == 1 per event,
  BeanObj.scala:18); ``error`` sums count failed resolutions.
- ``clientName == 0`` is the "all clients" sentinel row set — produced
  here with ``rollup('clientName')`` + coalesce-to-0 instead of running
  each aggregation twice (reference runs a global and a per-client
  reduceByKey separately, e.g. DnsRptCH.scala:522-552).
- Every reference ``groupByKey+sort+take`` becomes a window row_number
  (grouped_topk); every ``sortBy+take`` becomes orderBy().limit()
  (TakeOrderedAndProject). Manual 100-way salting (DnsRptCH.scala:641
  etc.) is dropped: map-side partial aggregation + AQE handle skew.
- ``appTime`` (the batch window start) is attached by the pipeline, not
  here; reports stay time-agnostic pure functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.functions.domains import authority_domain
from dnsflow_clickhouse_spark.functions.net import ip_to_long
from dnsflow_clickhouse_spark.operators.enrich import (
    EnrichDims,
    add_in_net,
    enrich_business,
    join_users,
)
from dnsflow_clickhouse_spark.operators.topk import global_topk, grouped_topk

ALL_CLIENTS = 0  # sentinel (DnsRptCH.scala:453, 478, 503, 532)


def _rollup_clients(df: DataFrame, keys: list[str], aggs: list) -> DataFrame:
    """Aggregate by (clientName, *keys) at both per-client and all-client
    granularity in ONE shuffle pass via GROUPING SETS; the all-clients
    rows surface with the reference's clientName=0 sentinel. (The
    reference runs two separate reduceByKey jobs per report instead.)"""
    out = (
        df.groupingSets([["clientName", *keys], [*keys]], "clientName", *keys)
        .agg(*aggs)
        .withColumn("clientName", F.coalesce(F.col("clientName"), F.lit(ALL_CLIENTS)))
    )
    return out


# --- A1/A2: QPS (reference getDnsQps, DnsRptCH.scala:522-552) ---


def qps_report(base: DataFrame, window_seconds: int = 300) -> DataFrame:
    """count + error count + avgNum = floor(count/window) — global row
    (clientName=0) plus one row per client, in one rollup pass."""
    return _rollup_clients(
        base,
        [],
        [
            F.sum("resolver").alias("dnsNum"),
            F.sum("error").alias("errNum"),
        ],
    ).withColumn("avgNum", F.floor(F.col("dnsNum") / window_seconds).cast("long"))


# --- A3: request-type ratio (DnsRptCH.scala:774-791) ---


def request_type_ratio(base: DataFrame) -> DataFrame:
    return _rollup_clients(
        base, ["requestType"], [F.sum("resolver").alias("dnsNum")]
    ).filter(F.col("requestType").isNotNull())


# --- A4: response-type ratio (DnsRptCH.scala:747-768; salting dropped) ---


def response_type_ratio(base: DataFrame) -> DataFrame:
    return _rollup_clients(
        base, ["responseType"], [F.sum("resolver").alias("dnsNum")]
    ).filter(F.col("responseType").isNotNull())


# --- A5: response-code ratio (DnsRptCH.scala:608-625) ---


def response_code_ratio(base: DataFrame) -> DataFrame:
    return _rollup_clients(
        base, ["responseCode"], [F.sum("resolver").alias("dnsNum")]
    ).filter(F.col("responseCode").isNotNull())


# --- A6/A8: top domains per response code (DnsRptCH.scala:633-653, 672-697) ---


def response_code_domain_topk(base: DataFrame, k: int = 5000, per_client: bool = False) -> DataFrame:
    keys = ["clientName", "responseCode"] if per_client else ["responseCode"]
    agg = base.groupBy(*keys, "domain").agg(F.sum("resolver").alias("dnsNum"))
    return grouped_topk(agg, keys, [F.desc("dnsNum"), F.asc("domain")], k)


# --- A7: authority-domain rollup OF the top-K output (order of operations
#     preserved: rollup-of-topK, not topK-of-rollup; DnsRptCH.scala:656-667) ---


def response_code_authority_topk(
    domain_topk: DataFrame, k: int = 5000, per_client: bool = False
) -> DataFrame:
    keys = ["clientName", "responseCode"] if per_client else ["responseCode"]
    rolled = (
        domain_topk.withColumn("authorityDomain", authority_domain("domain"))
        .groupBy(*keys, "authorityDomain")
        .agg(F.sum("dnsNum").alias("dnsNum"))
    )
    return grouped_topk(rolled, keys, [F.desc("dnsNum"), F.asc("authorityDomain")], k)


# --- A9: top client IPs per response code (DnsRptCH.scala:707-741) ---


def response_code_client_topk(base: DataFrame, k: int = 500, per_client: bool = False) -> DataFrame:
    keys = ["clientName", "responseCode"] if per_client else ["responseCode"]
    agg = base.groupBy(*keys, "clientIp").agg(F.sum("resolver").alias("dnsNum"))
    return grouped_topk(agg, keys, [F.desc("dnsNum"), F.asc("clientIp")], k)


# --- A10: 4-dim flow report with whitelist boost (DnsRptCH.scala:558-602) ---


def flow_report(
    base: DataFrame,
    dims: EnrichDims,
    having_min: int = 10,
    k: int = 70000,
) -> DataFrame:
    """groupBy (clientName, domain, dnsIp, aip) -> sum(resolver, error);
    whitelisted domains get +10 resolver *before* the HAVING and the
    top-K cut and -10 after (guaranteeing whitelist survival,
    DnsRptCH.scala:570-584); enriched with business resources (J2).
    Everything stays cluster-side (the reference round-trips 70k rows
    through the driver)."""
    agg = base.groupBy("clientName", "domain", "dnsIp", "aip").agg(
        F.sum("resolver").alias("resolver"), F.sum("error").alias("error")
    )
    if dims.whitelist is not None:
        wl = dims.whitelist.select(
            F.col("domain"), F.lit(True).alias("__wl")
        )
        agg = agg.join(F.broadcast(wl), "domain", "left").withColumn(
            "resolver",
            F.when(F.col("__wl"), F.col("resolver") + 10).otherwise(F.col("resolver")),
        )
    else:
        agg = agg.withColumn("__wl", F.lit(None).cast("boolean"))
    top = global_topk(
        agg.filter(F.col("resolver") >= having_min),
        [F.desc("resolver"), F.asc("domain"), F.asc("dnsIp"), F.asc("aip"), F.asc("clientName")],
        k,
    ).withColumn(
        "resolver",
        F.when(F.col("__wl"), F.col("resolver") - 10).otherwise(F.col("resolver")),
    ).drop("__wl")
    return enrich_business(top, dims)


# --- A11: top-N authority-domain slice (DnsRptCH.scala:63-105) ---

# default membership list mirrors the reference's hardcoded top-20
# suffix set (DnsRptCH.scala:64-85) in spirit; callers pass their own
TOP_AUTHORITY_SUFFIXES = [
    "qq.com",
    "baidu.com",
    "taobao.com",
    "jd.com",
    "163.com",
    "sina.com.cn",
    "weibo.com",
    "sohu.com",
    "aliyun.com",
    "bilibili.com",
]


def top_authority_slice(
    base: DataFrame,
    dims: EnrichDims,
    suffixes: list[str] | None = None,
    having_min: int = 100,
) -> DataFrame:
    """A11 (reference Top20AuthorityDomain, DnsRptCH.scala:63-105): keep
    only events whose domain contains one of the tracked authority
    suffixes (P5, :64-85), aggregate the 4-dim key, HAVING > 100 (P4,
    :88), enrich with business resources (J2, :95-101).

    The membership filter is a single rlike over an alternation — one
    regex evaluated JVM-side inside codegen, no join, no shuffle beyond
    the aggregation's own exchange. At 100 TB the predicate sits
    directly above the scan, so column pruning + predicate evaluation
    happen before the (drastically smaller) shuffle.
    """
    pats = suffixes if suffixes is not None else TOP_AUTHORITY_SUFFIXES
    rx = "(" + "|".join(p.replace(".", "\\.") for p in pats) + ")"
    sliced = base.filter(F.col("domain").rlike(rx))
    agg = (
        sliced.groupBy("clientName", "domain", "dnsIp", "aip")
        .agg(F.sum("resolver").alias("resolver"), F.sum("error").alias("error"))
        .filter(F.col("resolver") > having_min)
    )
    return enrich_business(agg, dims)


# --- A13: trend rollup over the enriched top frame (DnsRptCH.scala:46-57) ---


def detail_report(enriched_top: DataFrame, having_min: int = 100) -> DataFrame:
    return (
        enriched_top.groupBy(
            "clientName",
            "domain",
            "aip",
            "companyName",
            "authorityDomain",
            "soft",
            "websiteName",
            "websiteType",
        )
        .agg(
            F.sum("resolver").alias("resolver"),
            F.sum("inNet").alias("inNet"),
            F.sum("error").alias("error"),
        )
        .filter(F.col("resolver") > having_min)
    )


# --- A16: business rollup (DnsRptCH.scala:417-441) ---


def business_report(flow: DataFrame) -> DataFrame:
    """Rollup by resource; output resourceType = type + "/" + props
    (reference :428, 437)."""
    df = flow.filter(F.col("resource_name").isNotNull())
    return _rollup_clients(
        df,
        ["resource_name", "resource_type", "resource_props"],
        [F.sum("resolver").alias("dnsNum")],
    ).select(
        "clientName",
        F.col("resource_name").alias("resourceName"),
        F.concat_ws("/", "resource_type", "resource_props").alias("resourceType"),
        "dnsNum",
    )


# --- A17/A18/A19: dns-server / province / operator counts
#     (DnsRptCH.scala:446-516) ---


def dns_server_topn(base: DataFrame) -> DataFrame:
    return _rollup_clients(base, ["dnsIp"], [F.sum("resolver").alias("dnsNum")]).filter(
        F.col("dnsIp").isNotNull()
    )


def province_report(base: DataFrame) -> DataFrame:
    return _rollup_clients(base, ["province"], [F.sum("resolver").alias("dnsNum")]).filter(
        F.col("province").isNotNull()
    )


def operator_report(base: DataFrame) -> DataFrame:
    return _rollup_clients(base, ["operator"], [F.sum("resolver").alias("dnsNum")]).filter(
        F.col("operator").isNotNull()
    )


# --- A14: per-user top report (DnsRptCH.scala:355-412) ---


def user_report(
    base: DataFrame,
    dims: EnrichDims,
    client_filter: int = 1,
    having_min: int = 50,
    k1: int = 20000,
    k2: int = 2000,
) -> DataFrame:
    """clientName==1 rows -> 4-dim agg -> HAVING > 50 -> top-20000 by
    resolver -> username join (drop unmatched) -> top-2000 by error ->
    inNet + phone/address enrichment. The reference does the second
    top-K and enrichment on the driver (:396-406); here it's all
    cluster-side with explicit tie-breaks."""
    agg = (
        base.filter(F.col("clientName") == client_filter)
        .groupBy("clientName", "clientIp", "domain", "aip")
        .agg(F.sum("resolver").alias("resolver"), F.sum("error").alias("error"))
        .filter(F.col("resolver") > having_min)
    )
    top1 = global_topk(
        agg, [F.desc("resolver"), F.asc("clientIp"), F.asc("domain"), F.asc("aip")], k1
    )
    named = join_users(top1, dims, drop_unmatched=True)
    top2 = global_topk(
        named, [F.desc("error"), F.asc("clientIp"), F.asc("domain"), F.asc("aip")], k2
    )
    top2 = add_in_net(top2.withColumn("aipLong", ip_to_long("aip")), dims).drop("aipLong")
    if dims.user_info is not None:
        top2 = top2.join(F.broadcast(dims.user_info), "userName", "left")
    else:
        top2 = top2.withColumn("phone", F.lit(None).cast("string")).withColumn(
            "address", F.lit(None).cast("string")
        )
    return top2


# --- A15: per-user middle data (DnsRptCH.scala:110-140) ---


def user_middle_data(base: DataFrame, dims: EnrichDims) -> DataFrame:
    agg = base.groupBy("clientIp", "domain").agg(F.sum("resolver").alias("cnt"))
    return join_users(agg, dims, drop_unmatched=True).select("userName", "domain", "cnt")


# --- A20-A22: daily user rollups (UserRpt.scala:109-191) ---


def user_domain_top10(middle: DataFrame, k: int = 10) -> DataFrame:
    """Per-user domain top-10 with the top list as an array payload
    (reference builds ArrayBuffer[Map]; here collect_list(struct))."""
    agg = middle.groupBy("userName", "domain").agg(F.sum("cnt").alias("cnt"))
    ranked = grouped_topk(agg, ["userName"], [F.desc("cnt"), F.asc("domain")], k)
    return ranked.groupBy("userName").agg(
        F.collect_list(F.struct("domain", "cnt")).alias("topDomains")
    )


def user_daily_total(middle: DataFrame) -> DataFrame:
    return middle.groupBy("userName").agg(F.sum("cnt").alias("dnsNum"))


def user_tags(middle: DataFrame, dims: EnrichDims) -> DataFrame:
    """distinct (user, domain) -> tag join -> drop all-unknown -> distinct
    flattened tag array per user (UserRpt.scala:141-191)."""
    pairs = middle.select("userName", "domain").dropDuplicates()
    if dims.domain_tags is None:
        return pairs.groupBy("userName").agg(
            F.array().cast("array<string>").alias("tags")
        )
    tagged = pairs.join(F.broadcast(dims.domain_tags), "domain", "left").select(
        "userName",
        F.array(
            F.coalesce(F.col("tag1"), F.lit("未知")),
            F.coalesce(F.col("tag2"), F.lit("未知")),
            F.coalesce(F.col("tag3"), F.lit("未知")),
        ).alias("tags3"),
    )
    known = tagged.filter(~F.array_contains("tags3", "未知"))
    return known.groupBy("userName").agg(
        F.array_distinct(F.flatten(F.collect_list("tags3"))).alias("tags")
    )


def seasonal_hour_anomalies(
    hour_counts: DataFrame,
    min_history: int = 7,
    threshold_ppm: int = 500_000,
) -> DataFrame:
    """Seasonal-naive anomaly scoring over (day, hod, cnt) hour-bucket
    counts: each bucket vs the expanding average of PRIOR days'
    same-hour counts (DNS traffic is diurnal — a same-hour baseline is
    the one that does not alarm every ramp). Exactness: the deviation
    test cross-multiplies (|cnt * n_prior - sum_prior| * 1e6 div
    sum_prior) with a decimal-widened numerator, all quantities
    nonnegative integers, so any engine replays it. One expanding
    window over 24 hour-of-day partitions of day-count length.

    Shared by the batch query (queries/catalog_dns5.qps_anomaly_report)
    and the streaming fold (streaming/pipeline.streaming_qps_anomaly) —
    the batch ≡ streaming parity contract of the pipeline module.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("hod")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = hour_counts.select(
        "day",
        "hod",
        "cnt",
        F.count(F.lit(1)).over(w).cast("long").alias("n_prior"),
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("long").alias(
            "sum_prior"
        ),
    )
    return (
        scored.filter(F.col("n_prior") >= min_history)
        .withColumn(
            "dev_ppm",
            F.expr(
                "abs(CAST(cnt AS DECIMAL(38,0)) * n_prior - sum_prior)"
                " * 1000000 div sum_prior"
            ).cast("long"),
        )
        .filter(F.col("dev_ppm") >= threshold_ppm)
        .orderBy("day", "hod")
    )
