"""Seeded input generator for the benchmark.

Everything the benchmark feeds the engine comes from here, and only from
the seed: JSON-line DNS events, the dimension parquet tables and the three
catalog tables (``events``, ``documents``, ``embeddings``). The engine sees
the files, never the generator; the generator also returns the ground
truth the window reports are checked against.

Pure numpy + pyarrow, no Spark, so the same seed gives byte-identical files
(``perfbench/test_gen.py``).
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WINDOW_S = 300
APP_TIME = 1_700_000_100  # aligned to WINDOW_S

_PROVINCES = [
    "北京", "上海", "天津", "重庆", "浙江", "江苏", "广东", "山东", "河南", "河北",
    "湖北", "湖南", "四川", "福建", "安徽", "江西", "陕西", "辽宁", "吉林", "黑龙江",
    "云南", "贵州", "广西", "山西", "内蒙古", "新疆", "甘肃", "宁夏", "青海", "西藏",
    "海南", "香港", "澳门", "台湾",
]
_MUNICIPALITIES = {"北京", "上海", "天津", "重庆", "香港", "澳门"}
_FOREIGN = [("美国", "加州"), ("日本", "东京"), ("德国", "黑森"), ("新加坡", "新加坡")]
_OPERATORS = ["电信", "联通", "移动", "教育网"]
_TLDS = ["com", "cn", "net", "com.cn", "org"]
_REQ_TYPES = (["A", "AAAA", "CNAME", "MX", "TXT", "NS", "PTR"],
              [0.70, 0.15, 0.05, 0.03, 0.03, 0.02, 0.02])
_RCODES = ([0, 2, 3, 5], [0.88, 0.04, 0.06, 0.02])
_SERVERS = ([f"223.5.5.{i}" for i in range(1, 9)],
            [0.3, 0.2, 0.15, 0.1, 0.1, 0.05, 0.05, 0.05])

# dimension sizes: "deployment" for window_large, "demo" for backfill_small
DIM_SIZES = {
    "deployment": dict(geo=4000, client=1000, media=120, segment=150,
                       auth=5000, whitelist=50, users=500, tags=300),
    "demo": dict(geo=8, client=3, media=1, segment=2,
                 auth=3, whitelist=1, users=2, tags=2),
}


@dataclass
class Truth:
    """Expected all-clients report values for one window."""

    dns_num: int = 0
    err_num: int = 0
    response_code: Counter = field(default_factory=Counter)
    request_type: Counter = field(default_factory=Counter)
    server: Counter = field(default_factory=Counter)
    province: Counter = field(default_factory=Counter)

    def as_dict(self) -> dict:
        return {
            "dns_num": self.dns_num,
            "err_num": self.err_num,
            "response_code": dict(self.response_code),
            "request_type": dict(self.request_type),
            "server": dict(self.server),
            "province": dict(self.province),
        }


@dataclass
class EventsInfo:
    """What the event generator wrote: line counts and per-window truth."""

    lines: int
    corrupt: int
    windows: dict[int, Truth]  # app_time -> truth
    per_window_lines: dict[int, int]  # app_time -> lines timestamped inside


def _ip(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64)
    parts = [(v >> s) & 255 for s in (24, 16, 8, 0)]
    return np.char.add(
        np.char.add(np.char.add(parts[0].astype(str), "."), np.char.add(parts[1].astype(str), ".")),
        np.char.add(np.char.add(parts[2].astype(str), "."), parts[3].astype(str)),
    )


class Dims:
    """Dimension tables as numpy/python rows, plus lookup helpers the
    event generator uses to compute ground truth."""

    def __init__(self, rng: np.random.Generator, size: str):
        n = DIM_SIZES[size]
        # geo: disjoint ranges spread over 1.0.0.0 - 223.255.255.255
        starts = np.sort(rng.choice(np.arange(1 << 24, 224 << 24, 4096, dtype=np.int64),
                                    n["geo"], replace=False))
        gaps = np.diff(np.append(starts, 224 << 24))
        ends = starts + (gaps * rng.uniform(0.3, 0.9, n["geo"])).astype(np.int64)
        self.geo_lo, self.geo_hi = starts, ends
        self.geo_rows = []
        for i in range(n["geo"]):
            if rng.random() < 0.85:
                prov = _PROVINCES[int(rng.integers(len(_PROVINCES)))]
                country = "中国"
                city = prov if prov in _MUNICIPALITIES else f"{prov}{int(rng.integers(8))}市"
            else:
                country, prov = _FOREIGN[int(rng.integers(len(_FOREIGN)))]
                city = prov
            op = _OPERATORS[int(rng.integers(len(_OPERATORS)))]
            self.geo_rows.append((int(starts[i]), int(ends[i]), country, prov, city, op))

        # client rules: overlapping ranges inside 10.0.0.0/8, first match wins
        ten = 10 << 24
        lo = rng.integers(ten, ten + (1 << 24) - 65536, n["client"])
        hi = lo + rng.integers(255, 65535, n["client"])
        self.client_rows = [(int(a), int(b), int(rng.integers(1, 5))) for a, b in zip(lo, hi)]
        if size == "demo":
            self.client_rows = [(ten, ten + 255, 1), (ten + 256, ten + 511, 2),
                                (ten + 512, ten + 65535, 3)]

        # media (inNet) and business segments: ranges inside geo ranges
        def inside(k: int) -> tuple[np.ndarray, np.ndarray]:
            gi = rng.choice(len(starts), k, replace=len(starts) < k)
            a = starts[gi] + ((ends[gi] - starts[gi]) * rng.uniform(0, 0.5, k)).astype(np.int64)
            b = a + ((ends[gi] - a) * rng.uniform(0.05, 0.5, k)).astype(np.int64)
            return a, b

        ma, mb = inside(n["media"])
        self.media_rows = [(int(a), int(b)) for a, b in zip(ma, mb)]
        sa, sb = inside(n["segment"])
        self.segment_rows = [
            (int(a), int(b), f"res{i % 40}", ["cdn", "idc", "cache"][i % 3],
             ["video", "web", "app"][i % 3], i)
            for i, (a, b) in enumerate(zip(sa, sb))
        ]

        # domain vocabulary: sites (authority domains) and hosts under them
        n_sites = max(50, int(n["auth"] * 0.9))
        self.sites = [f"site{i}.{_TLDS[i % len(_TLDS)]}" for i in range(n_sites)]
        n_dup = max(1, n["auth"] // 10)  # duplicate keys: last rule_idx wins
        auth_keys = self.sites[: n["auth"] - n_dup] + [
            self.sites[int(i)] for i in rng.integers(0, n["auth"] - n_dup, n_dup)
        ]
        self.auth_rows = [
            (k, f"company{i}", f"soft{i % 7}", f"web{i}", ["portal", "social", "video"][i % 3], i)
            for i, k in enumerate(auth_keys)
        ]
        self.n_hosts = max(16, n_sites * 4)
        self.hosts = np.array(
            [f"h{i // n_sites}.{self.sites[i % n_sites]}" for i in range(self.n_hosts)]
        )
        self.whitelist = [str(d) for d in self.hosts[: n["whitelist"]]]
        self.tags = [(str(d), f"t{i % 5}", f"u{i % 3}", "cn") for i, d in
                     enumerate(self.hosts[: n["tags"]])]

        # client population: mostly covered by client rules, ~8% outside
        n_clients = 2000 if size == "deployment" else 200
        cl = np.array([r[0] for r in self.client_rows])
        ch = np.array([r[1] for r in self.client_rows])
        pick = rng.integers(0, len(cl), n_clients)
        ips = cl[pick] + (rng.uniform(0, 1, n_clients) * (ch[pick] - cl[pick])).astype(np.int64)
        outside = rng.random(n_clients) < 0.08
        ips[outside] = (44 << 24) + rng.integers(0, 1 << 16, int(outside.sum()))
        self.clients = _ip(ips)
        self.users = [(str(self.clients[i]), f"user{i}") for i in range(n["users"])]
        self.user_info = [(f"user{i}", f"13{i:09d}", f"addr{i % 50}") for i in range(n["users"])]

    def province_of(self, aip_long: np.ndarray) -> np.ndarray:
        """Geo province per aip (first match over disjoint ranges; '' on miss)."""
        idx = np.searchsorted(self.geo_lo, aip_long, side="right") - 1
        ok = (idx >= 0) & (aip_long <= self.geo_hi[np.clip(idx, 0, None)])
        prov = np.array([r[3] for r in self.geo_rows], dtype=object)
        out = np.full(len(aip_long), "", dtype=object)
        out[ok] = prov[idx[ok]]
        return out

    def write(self, out_dir: str) -> None:
        from dnsflow_clickhouse_spark import schemas as S  # schema source of truth

        os.makedirs(out_dir, exist_ok=True)

        def put(name: str, rows: list[tuple], spark_schema) -> None:
            names = [f.name for f in spark_schema.fields]
            cols = list(zip(*rows)) if rows else [[] for _ in names]
            arrow_t = {"LongType()": pa.int64(), "IntegerType()": pa.int32(),
                       "StringType()": pa.string()}
            fields = [pa.field(f.name, arrow_t[repr(f.dataType)]) for f in spark_schema.fields]
            table = pa.table([pa.array(list(c), type=f.type) for c, f in zip(cols, fields)],
                             schema=pa.schema(fields))
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

        put("geo", self.geo_rows, S.GEO_SCHEMA)
        put("client_rules", self.client_rows, S.CLIENT_RULE_SCHEMA)
        put("media_rules", self.media_rows, S.MEDIA_RULE_SCHEMA)
        put("segment_rules", self.segment_rows, S.IP_SEGMENT_SCHEMA)
        put("auth_domains", self.auth_rows, S.AUTH_DOMAIN_SCHEMA)
        put("whitelist", [(d,) for d in self.whitelist], S.WHITELIST_SCHEMA)
        put("users", self.users, S.USER_SCHEMA)
        put("user_info", self.user_info, S.USER_INFO_SCHEMA)
        put("domain_tags", self.tags, S.DOMAIN_TAG_SCHEMA)


def write_events(
    rng: np.random.Generator,
    dims: Dims,
    path: str,
    n_windows: int,
    lines_per_window: int,
    out_of_window: float,
    corrupt: float = 0.01,
    qr_false: float = 0.02,
    junk: float = 0.003,
    files_per_window: int = 1,
) -> EventsInfo:
    """Write ``n_windows`` consecutive windows of JSON-line DNS responses
    starting at APP_TIME into directory ``path``; return line counts and
    the per-window ground truth."""
    os.makedirs(path, exist_ok=True)
    info = EventsInfo(lines=0, corrupt=0, windows={}, per_window_lines=Counter())
    geo_lo, geo_hi = dims.geo_lo, dims.geo_hi
    zipf_p = 1.0 / np.arange(1, dims.n_hosts + 1) ** 1.1
    zipf_p /= zipf_p.sum()
    for w in range(n_windows):
        app = APP_TIME + w * WINDOW_S
        n = lines_per_window
        ts = app + rng.integers(0, WINDOW_S, n)
        out = rng.random(n) < out_of_window
        n_out = int(out.sum())
        ts[out] = np.where(rng.random(n_out) < 0.5,
                           app - 1 - rng.integers(0, WINDOW_S, n_out),
                           app + WINDOW_S + rng.integers(0, WINDOW_S, n_out))
        domain = dims.hosts[rng.choice(dims.n_hosts, n, p=zipf_p)].astype(object)
        is_junk = rng.random(n) < junk
        domain[is_junk] = "x.localdomain"
        scheme = rng.random(n) < 0.005
        domain[scheme] = "http://" + domain[scheme]
        qtype = rng.choice(_REQ_TYPES[0], n, p=_REQ_TYPES[1])
        rcode = rng.choice(_RCODES[0], n, p=_RCODES[1])
        server = rng.choice(_SERVERS[0], n, p=_SERVERS[1])
        client = dims.clients[rng.integers(0, len(dims.clients), n)]
        qr = rng.random(n) >= qr_false
        # answer IP: inside a random geo range (93%) or a geo miss
        gi = rng.integers(0, len(geo_lo), n)
        aip_long = geo_lo[gi] + (rng.random(n) * (geo_hi[gi] - geo_lo[gi])).astype(np.int64)
        miss = rng.random(n) < 0.07
        aip_long[miss] = (230 << 24) + rng.integers(0, 1 << 24, int(miss.sum()))
        aip = _ip(aip_long)
        # answer shape: 0 [A], 1 [CNAME, A], 2 [A, A], 3 [AAAA], 4 []
        shape = rng.choice(5, n, p=[0.5, 0.28, 0.1, 0.07, 0.05])
        shape[rcode != 0] = 4
        is_corrupt = rng.random(n) < corrupt

        rows = []
        for i in range(n):
            s = shape[i]
            if s == 0:
                ans = [{"Type": "A", "Value": aip[i]}]
            elif s == 1:
                ans = [{"Type": "CNAME", "Value": f"cn{i}.cdn.net"}, {"Type": "A", "Value": aip[i]}]
            elif s == 2:
                ans = [{"Type": "A", "Value": aip[i]}, {"Type": "A", "Value": "1.1.1.1"}]
            elif s == 3:
                ans = [{"Type": "AAAA", "Value": "2001:db8::1"}]
            else:
                ans = []
            line = json.dumps({
                "Timestamp": int(ts[i]), "ServerIP": server[i], "ClientIP": client[i],
                "Domain": domain[i], "Type": qtype[i], "ResponseCode": int(rcode[i]),
                "QR": bool(qr[i]), "Answers": ans,
            }, ensure_ascii=False)
            rows.append(line[: len(line) // 2] if is_corrupt[i] else line)

        # ground truth: every window this batch of lines lands in
        valid = ~is_corrupt & qr & ~is_junk
        has_a = shape <= 2
        err = (rcode != 0) | ~has_a
        prov = dims.province_of(np.where(has_a, aip_long, 0))
        win_of = (ts - APP_TIME) // WINDOW_S
        for wv in np.unique(win_of[valid]):
            m = valid & (win_of == wv)
            t = info.windows.setdefault(int(APP_TIME + wv * WINDOW_S), Truth())
            t.dns_num += int(m.sum())
            t.err_num += int((m & err).sum())
            t.response_code.update(rcode[m].tolist())
            t.request_type.update(qtype[m].tolist())
            t.server.update(server[m].tolist())
            t.province.update(prov[m].tolist())
        for wv, c in Counter(win_of.tolist()).items():
            info.per_window_lines[int(APP_TIME + wv * WINDOW_S)] += c
        info.lines += n
        info.corrupt += int(is_corrupt.sum())

        for f, chunk in enumerate(np.array_split(np.arange(n), files_per_window)):
            with open(os.path.join(path, f"part-{w:03d}-{f:03d}.json"), "w",
                      encoding="utf-8") as fh:
                fh.write("\n".join(rows[j] for j in chunk) + "\n")
    return info


_WORDS = ("spark window merge table column vector stream value data small big fast slow "
          "row the agg key query a scan batch sort hash join group order part line filter "
          "customer").split()
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def write_catalog(rng: np.random.Generator, out_dir: str, n_events: int, n_docs: int,
                  n_vecs: int, dim: int = 64) -> dict[str, int]:
    """The three catalog tables, with the value domains of the reference
    test data (TESTDATA.md): 30 days of user events, documents over a
    31-word vocabulary with ~5% near-duplicates, unit-norm clustered
    embeddings with 10 labels."""
    os.makedirs(out_dir, exist_ok=True)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events)).astype("timedelta64[us]")
    n_users = max(50, int(n_events * 0.015))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_events).tolist(), type=pa.string()),
        "value": pa.array(np.round(rng.lognormal(3.5, 1.1, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS) - 1, k)))
    langs = rng.choice(["en", "zh", "de", "fr", "es"], n_docs, p=[0.41, 0.15, 0.14, 0.15, 0.15])
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs.tolist(), type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"events": n_events, "documents": n_docs, "embeddings": n_vecs}
