"""Pins for the round-3 latent-bug backlog (VERDICT r3 "What's wrong"
item 4 + ADVICE r3): each test locks the FIXED behavior so the bug
class cannot silently return.

- cms_estimate: never-sketched probe items report est_count = 0 (an
  inner join would drop them; a partial match would break the
  upper-bound contract).
- global_positions: the position column is a LONG — at the 100 TB
  design point row counts pass 2^31, where an int wraps.
- write_zordered: empty frames and all-null stat columns degrade to
  bucket 0 instead of raising TypeError on None stats.
- multimodal: real-decode path treats empty/NULL payloads as
  zero-feature rows; a malformed 0-channel WAV raises ValueError, not
  ZeroDivisionError.
- auc_by_group: groups big enough that num2 * 1e6 exceeds int64 still
  report an exact auc_ppm (decimal widening).
- random_projection: empty frame without an explicit dim raises a
  typed ValueError; with dim= it plans lazily and returns empty.
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F


def test_cms_estimate_unseen_item_reports_zero(spark):
    from dnsflow_clickhouse_spark.operators.sketches import (
        cms_estimate,
        cms_sketch,
    )

    data = spark.createDataFrame([("a",), ("a",), ("b",)], "item string")
    sketch = cms_sketch(data, "item")
    probes = spark.createDataFrame(
        [("a",), ("never_sketched",)], "item string"
    )
    est = {r.item: r.est_count for r in cms_estimate(sketch, probes, "item").collect()}
    assert set(est) == {"a", "never_sketched"}  # nothing dropped
    assert est["a"] >= 2
    assert est["never_sketched"] == 0


def test_global_positions_column_is_long(spark):
    from dnsflow_clickhouse_spark.operators.sampling import global_positions

    df = spark.range(0, 100).select(F.col("id").alias("k"))
    out = global_positions(df, ["k"], n_parts=4)
    assert dict(out.dtypes)["pos"] == "bigint"


def test_write_zordered_survives_all_null_column_and_empty_frame(
    spark, tmp_path
):
    from dnsflow_clickhouse_spark.sources.layout import write_zordered

    df = spark.range(0, 100).select(
        F.col("id").alias("x"), F.lit(None).cast("double").alias("y")
    )
    p1 = str(tmp_path / "allnull")
    write_zordered(df, p1, ["x", "y"], n_files=4)
    assert spark.read.parquet(p1).count() == 100

    p2 = str(tmp_path / "empty")
    write_zordered(df.filter(F.lit(False)), p2, ["x", "y"], n_files=4)
    assert spark.read.parquet(p2).count() == 0


def test_real_decode_empty_payload_yields_zero_feature_row(spark):
    from pyspark.sql import Row

    from dnsflow_clickhouse_spark.operators.multimodal import extract_features

    assets = spark.createDataFrame(
        [
            Row(asset_id=1, kind="image", payload=bytearray(b"")),
            Row(asset_id=2, kind="audio", payload=None),
        ],
        "asset_id long, kind string, payload binary",
    )
    rows = {r.asset_id: r for r in extract_features(assets, decode_stub=False).collect()}
    assert set(rows) == {1, 2}
    for r in rows.values():
        assert (r.feat_width, r.feat_height, r.frames_sampled) == (0, 0, 0)
        assert r.byte_len == 0


def _wav(channels: int, bits: int = 16, n_frames: int = 4) -> bytes:
    fmt = struct.pack("<HHIIHH", 1, channels, 8000, 8000 * 2, 2, bits)
    data = b"\x00" * (n_frames * 2 * max(channels, 1))
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_wav_zero_channels_raises_value_error():
    from dnsflow_clickhouse_spark.operators.multimodal import decode_wav

    samples, rate = decode_wav(_wav(channels=1))
    assert rate == 8000 and samples.shape[1] == 1
    with pytest.raises(ValueError, match="channels=0"):
        decode_wav(_wav(channels=0))


def test_auc_is_exact_past_int64_numerator_overflow(spark):
    """2.2M positives x 2.2M negatives -> num2 * 1e6 = 9.68e18 > 2^63.
    Perfectly separated scores, so the exact tie-aware AUC is 1.0; the
    pre-fix int64 arithmetic wrapped and reported garbage."""
    from dnsflow_clickhouse_spark.operators.evaluation import auc_by_group

    n = 4_400_000
    df = spark.range(n).select(
        F.lit("g").alias("grp"),
        (F.col("id") % 2).alias("y"),
        (F.col("id") % 2).cast("long").alias("s"),
    )
    row = auc_by_group(df, "grp", "s", "y").collect()[0]
    assert (row.n_pos, row.n_neg) == (n // 2, n // 2)
    assert row.auc_ppm == 1_000_000


def test_random_projection_empty_frame(spark):
    from dnsflow_clickhouse_spark.operators.similarity import random_projection

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="pass dim"):
        random_projection(empty, "vec_id", "embedding", out_dim=4)
    out = random_projection(empty, "vec_id", "embedding", out_dim=4, dim=8)
    assert out.count() == 0


# ---------------------------------------------------------------------------
# round-9 verdict latents (VERDICT r9 "What's wrong" items 1-3)
# ---------------------------------------------------------------------------


def test_skipping_works_on_file_scheme_paths(spark, tmp_path):
    """r9 latent #1: file enumeration goes through the Hadoop FS API, so
    manifest skipping works on any scheme Spark reads — exercised here
    via an explicit ``file:`` URI (the non-local-walk path), with the
    manifest itself built from the PLAIN path to prove the key
    normalization bridges the two spellings."""
    from dnsflow_clickhouse_spark.sources.skipping import (
        build_manifest,
        read_with_skipping,
    )

    plain = str(tmp_path / "zoned")
    df = spark.range(0, 4000).select(
        F.col("id").alias("user_id"), (F.col("id") % 97).alias("v")
    )
    (
        df.repartitionByRange(4, "user_id")
        .sortWithinPartitions("user_id")
        .write.parquet(plain)
    )
    build_manifest(spark, plain, ["user_id"])

    uri = "file:" + plain
    got = read_with_skipping(spark, uri, {"user_id": (1000, 1500)})
    assert len(got.inputFiles()) < 4, "no files skipped via file: scheme"
    assert got.filter(F.col("user_id").between(1000, 1500)).count() == 501

    # and the mirror: manifest built FROM the file: URI serves a
    # plain-path read
    build_manifest(spark, uri, ["user_id"])
    got2 = read_with_skipping(spark, plain, {"user_id": (1000, 1500)})
    assert len(got2.inputFiles()) < 4
    assert got2.filter(F.col("user_id").between(1000, 1500)).count() == 501


def test_lsh_hot_bucket_cap_bounds_degenerate_corpus(spark, caplog):
    """r9 latent #2 + r10 advice: 1000 identical docs share every band
    bucket — the uncapped expansion is ~500k pairs from ONE aggregation
    row; with max_bucket_size set the hot buckets are dropped. Round-11
    the guard is LAZY: lsh_candidate_pairs stays a pure plan builder
    (no job at call time); the audit is read afterwards via
    lsh_hot_bucket_audit — a small aggregate over the guard's
    lazily-checkpointed bucket barrier (cheap after the caller's own
    action has materialized it) that logs the drop warning. Knob off
    => behavior unchanged (oracle hashes pinned by the sweep)."""
    import logging

    from dnsflow_clickhouse_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_hot_bucket_audit,
    )

    docs = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.lit("same text every single time").alias("text"),
    )
    capped = lsh_candidate_pairs(
        docs, "doc_id", "text", max_bucket_size=100
    )
    assert capped.count() == 0
    with caplog.at_level(
        logging.WARNING, logger="dnsflow_clickhouse_spark.operators.dedup"
    ):
        audit = lsh_hot_bucket_audit(capped)
    assert audit is not None
    # 8 hashes / 4 bands over identical docs: every band is one hot
    # bucket of all 1000 ids
    assert audit["n_hot"] == 4 and audit["max_bucket"] == 1000
    assert any("hot bucket" in r.message for r in caplog.records)

    # no audit tag without the knob / on a derived frame
    assert lsh_hot_bucket_audit(capped.limit(1)) is None

    # sanity on a small corpus that the uncapped path still pairs
    uncapped = lsh_candidate_pairs(docs.limit(50), "doc_id", "text")
    assert uncapped.count() == 50 * 49 // 2
    assert lsh_hot_bucket_audit(uncapped) is None


def test_connected_components_warns_on_max_iter_exhaustion(spark):
    """r9 latent #3: exhausting max_iter without the label-sum fixpoint
    emits a RuntimeWarning naming the iteration count; a converged run
    stays silent."""
    import warnings

    from dnsflow_clickhouse_spark.operators.graph import connected_components

    # a long chain needs several pointer-jumping rounds; max_iter=1
    # cannot reach the fixpoint
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    with pytest.warns(RuntimeWarning, match="max_iter=1"):
        cc = connected_components(chain, max_iter=1, num_partitions=4)
        cc.count()

    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        cc = connected_components(chain, max_iter=25, num_partitions=4)
        assert cc.select(F.countDistinct("comp")).collect()[0][0] == 1


# ---------------------------------------------------------------------------
# round-10 advice + verdict items (skipping hardening, guard overflow bound)
# ---------------------------------------------------------------------------


def test_skipping_handles_percent_encoded_paths(spark, tmp_path):
    """r10 advice: Hadoop ``Path.toString`` percent-escapes special
    characters (a directory with a space lists as ``.../b%20c/...``);
    manifest keys and the local footer-open must unquote, or the build
    crashes on a nonexistent escaped path and plain-path keys never
    match the encoded listing."""
    from dnsflow_clickhouse_spark.sources.skipping import (
        build_manifest,
        read_with_skipping,
    )

    plain = str(tmp_path / "zone d")  # <- space in a path segment
    df = spark.range(0, 4000).select(
        F.col("id").alias("user_id"), (F.col("id") % 97).alias("v")
    )
    (
        df.repartitionByRange(4, "user_id")
        .sortWithinPartitions("user_id")
        .write.parquet(plain)
    )
    # build crashes pre-fix (pq.ParquetFile on the %20 path); keys must
    # come out as plain OS paths
    m = build_manifest(spark, plain, ["user_id"])
    assert all(" " in r.file and "%20" not in r.file for r in m.collect())

    got = read_with_skipping(spark, plain, {"user_id": (1000, 1500)})
    assert len(got.inputFiles()) < 4, "no files skipped under encoded paths"
    assert got.filter(F.col("user_id").between(1000, 1500)).count() == 501


def test_open_footer_hadoop_byte_read_fallback(spark, tmp_path, monkeypatch):
    """r10 verdict #2 / r11 verdict #2: when pyarrow has no filesystem
    for the scheme (``from_uri`` raises — the libhdfs-less HDFS case),
    ``_open_footer`` falls back to a RANGED Hadoop-FS footer read
    through the py4j gateway. Forced here by sending a ``file:`` URI
    down the non-local branch with ``from_uri`` stubbed to fail —
    Hadoop's local FS then plays the role of HDFS. Asserts the fallback
    moved only the parquet tail (footer + 8 trailing bytes), not the
    file: on a multi-GB HDFS file the old whole-file pull would have
    transferred the dataset once per manifest build."""
    import os

    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    from dnsflow_clickhouse_spark.sources import skipping

    p = str(tmp_path / "one")
    spark.range(0, 123).toDF("x").coalesce(1).write.parquet(p)
    fpath = next(
        str(f) for f in __import__("pathlib").Path(p).glob("*.parquet")
    )

    class _NoPyarrowFS:
        @staticmethod
        def from_uri(uri):
            raise OSError("pyarrow build lacks this filesystem (libhdfs)")

    monkeypatch.setattr(pafs, "FileSystem", _NoPyarrowFS)
    monkeypatch.setattr(skipping, "_is_local_scheme", lambda s: False)

    moved = []
    real = skipping._hadoop_read_footer

    def _spy(uri):
        buf = real(uri)
        moved.append(buf.size())
        return buf

    monkeypatch.setattr(skipping, "_hadoop_read_footer", _spy)

    pf = skipping._open_footer("file:" + fpath)
    direct = pq.ParquetFile(fpath)
    assert pf.metadata.num_rows == direct.metadata.num_rows == 123
    assert pf.metadata.num_columns == direct.metadata.num_columns
    # row-group stats (what _footer_stats reads) decode from the tail
    st = pf.metadata.row_group(0).column(0).statistics
    assert (st.min, st.max) == (0, 122)
    # ranged, not whole-file: exactly footer + trailing 8 bytes moved
    fsize = os.path.getsize(fpath)
    with open(fpath, "rb") as fh:
        fh.seek(fsize - 8)
        footer_len = int.from_bytes(fh.read(4), "little")
    assert moved == [footer_len + 8]
    assert moved[0] < fsize


def test_hadoop_read_footer_rejects_non_parquet(spark, tmp_path):
    """The ranged fallback must fail loudly (no magic / truncated), not
    hand pyarrow a garbage buffer."""
    from dnsflow_clickhouse_spark.sources import skipping

    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"x" * 64)
    with __import__("pytest").raises(OSError, match="no parquet magic"):
        skipping._hadoop_read_footer("file:" + str(bad))
    tiny = tmp_path / "tiny.parquet"
    tiny.write_bytes(b"PAR1")
    with __import__("pytest").raises(OSError, match="too small"):
        skipping._hadoop_read_footer("file:" + str(tiny))


def test_list_data_files_falls_back_without_jvm_gateway(spark, tmp_path):
    """r10 advice: under Spark Connect there is no py4j gateway
    (``spark._jvm`` unavailable) — local datasets fall back to an
    ``os.walk`` with identical output; remote schemes raise naming the
    constraint."""
    import pytest as _pytest

    from dnsflow_clickhouse_spark.sources import skipping

    plain = str(tmp_path / "zoned")
    spark.range(0, 400).toDF("user_id").repartition(3).write.parquet(plain)
    # plant a _manifest dir that must be excluded either way
    spark.range(1).toDF("x").write.parquet(plain + "/_manifest")

    class _ConnectStub:
        @property
        def _jvm(self):
            raise AttributeError("Spark Connect client: no JVM gateway")

        @property
        def _jsc(self):
            raise AttributeError("Spark Connect client: no JVM gateway")

    jvm_keys = [
        skipping._norm_key(f)
        for f in skipping._list_data_files(spark, plain)
    ]
    walk_keys = [
        skipping._norm_key(f)
        for f in skipping._list_data_files(_ConnectStub(), plain)
    ]
    assert walk_keys == jvm_keys and len(walk_keys) == 3
    # file: URI spelled datasets also walk fine
    assert [
        skipping._norm_key(f)
        for f in skipping._list_data_files(_ConnectStub(), "file:" + plain)
    ] == jvm_keys

    with _pytest.raises(RuntimeError, match="Spark Connect"):
        skipping._list_data_files(_ConnectStub(), "hdfs://nn/warehouse/t")

    # a plain path the client cannot see locally must FAIL LOUDLY, not
    # silently enumerate zero files (which the conservative keep-unknown
    # rule would turn into a skip-everything empty read)
    with _pytest.raises(RuntimeError, match="not a local directory"):
        skipping._list_data_files(_ConnectStub(), "/warehouse/not/here")


def test_perm_consts_bounds_full_expression_with_valueerror():
    """r10 advice: the int64 guard must bound a*(POLY_MOD-1)+b (not just
    a) and raise ValueError (asserts vanish under ``python -O``)."""
    from dnsflow_clickhouse_spark.functions.textfn import POLY_MOD
    from dnsflow_clickhouse_spark.operators.dedup import _perm_consts

    # every real width is fine and fully bounded
    for n in (1, 8, 64, 256):
        consts = _perm_consts(n)
        a, b = consts[-1]
        assert a * (POLY_MOD - 1) + b < 2**63

    # find the first width that violates the FULL-expression bound and
    # assert it raises ValueError rather than wrapping
    n = 1
    while True:
        a = (2 * (n - 1) + 1) * 1_146_7 + 1
        b = ((n - 1) * (n - 1) + 7) * 9_973 + 3
        if a * (POLY_MOD - 1) + b >= 2**63:
            break
        n *= 2
    with pytest.raises(ValueError, match="int64"):
        _perm_consts(n)


def test_spark_broadcast_falls_back_without_sparkcontext(spark):
    """Spark Connect has no ``sc.broadcast``: the helper degrades to a
    closure-captured holder with the same ``.value`` surface, and the
    classic path still returns a real Broadcast."""
    from dnsflow_clickhouse_spark.operators.util import spark_broadcast

    class _ConnectStub:
        @property
        def sparkContext(self):
            raise AttributeError("Spark Connect client: no SparkContext")

    holder = spark_broadcast(_ConnectStub(), (1, [2, 3]))
    assert holder.value == (1, [2, 3])

    real = spark_broadcast(spark, ("x", 7))
    assert real.value == ("x", 7)
    assert type(real).__name__ == "Broadcast"
