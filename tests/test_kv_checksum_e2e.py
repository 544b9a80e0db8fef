"""E2E: a restore under checksum_algo="kv_crc64" computes the same
checksum triple as a pure-Python reference walk over the source rows
(encode_record -> crc64(key||value) XOR), i.e. the C1 pipeline is
reference-parity at the KV-byte level, not just hash-compatible.

Covers: int-PK handle (PKIsHandle — the PK column moves to the key
and keeps its DDL column id), no-PK `_tidb_rowid` handle, NULLs,
strings, doubles, datetimes, and both row format versions.
"""

import datetime as dt
import os
import shutil

import pytest

from tidb_lightning_release_4_0_spark.config import Config, MydumperConfig
from tidb_lightning_release_4_0_spark.functions.hashing import crc64_bytes
from tidb_lightning_release_4_0_spark.functions.kv_codec import encode_record
from tidb_lightning_release_4_0_spark.plans.pipeline import RestoreController

ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "kv_e2e"
)


def _dump(tag: str, ddl: str, csv_rows: str) -> str:
    d = os.path.join(ROOT, tag)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    with open(os.path.join(d, "kv-schema-create.sql"), "w") as f:
        f.write("CREATE DATABASE kv;")
    with open(os.path.join(d, "kv.t-schema.sql"), "w") as f:
        f.write(ddl)
    with open(os.path.join(d, "kv.t.0001.csv"), "w") as f:
        f.write(csv_rows)
    return d


def _run(spark, tag: str, dump: str, algo: str):
    sink = os.path.join(ROOT, f"sink_{tag}")
    shutil.rmtree(sink, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=dump),
        backend="parquet",
        target_dir=sink,
        on_duplicate="physical",
        checkpoint_enable=False,
        checksum=True,
        checksum_algo=algo,
    )
    ctl = RestoreController(spark, cfg)
    summary = ctl.run()
    assert summary.ok, summary.report()
    return summary.tables["kv.t"]


@pytest.mark.parametrize("version,algo", [(1, "kv_crc64"), (2, "kv_crc64_v2")])
def test_kv_checksum_int_pk(spark, version, algo):
    ddl = (
        "CREATE TABLE t (id BIGINT PRIMARY KEY, name VARCHAR(16), "
        "score DOUBLE, born DATETIME)"
    )
    rows = [
        (1, "alice", 1.5, dt.datetime(2009, 2, 14, 7, 31, 30)),
        (2, "bob", -2.25, dt.datetime(1999, 12, 31, 23, 59, 59)),
        (3, None, None, None),
    ]
    NUL = "\\N"
    csv = "".join(
        f"{i},{NUL if n is None else n},"
        f"{NUL if s is None else s},"
        f"{NUL if b is None else b.strftime('%Y-%m-%d %H:%M:%S')}\n"
        for i, n, s, b in rows
    )
    res = _run(spark, f"pk_v{version}", _dump(f"pk_v{version}", ddl, csv), algo)

    # independent expected: PK is the handle (key), value encodes the
    # remaining columns with their DDL ids 2,3,4
    expect_crc, expect_bytes = 0, 0
    for i, n, s, b in rows:
        k, v = encode_record(1, i, [2, 3, 4], [n, s, b], version)
        expect_crc ^= crc64_bytes(k + v)
        expect_bytes += len(k) + len(v)
    got = res.checksum
    assert got.total_kvs == len(rows)
    assert got.total_bytes == expect_bytes
    assert (got.crc_xor & 0xFFFFFFFFFFFFFFFF) == expect_crc


def test_kv_checksum_decimal_column(spark):
    # DECIMAL(15,2) rides the myDecimal binary layout end to end
    from tidb_lightning_release_4_0_spark.functions.kv_codec import (
        DecimalDatum,
    )

    ddl = "CREATE TABLE t (id BIGINT PRIMARY KEY, price DECIMAL(15,2))"
    csv = "1,0.01\n2,-12345.67\n3,\\N\n4,999.00\n"
    res = _run(
        spark, "dec_v1", _dump("dec_v1", ddl, csv), "kv_crc64"
    )
    rows = [(1, "0.01"), (2, "-12345.67"), (3, None), (4, "999.00")]
    expect = 0
    for i, p in rows:
        v = None if p is None else DecimalDatum(p, 15, 2)
        k, val = encode_record(1, i, [2], [v], 1)
        expect ^= crc64_bytes(k + val)
    assert res.checksum.total_kvs == 4
    assert (res.checksum.crc_xor & 0xFFFFFFFFFFFFFFFF) == expect


def test_kv_checksum_multi_engine_xor_merge(spark):
    # several data files + a tiny batch_size force the ENGINE-grain
    # delivery path: per-engine kv checksums must XOR-merge to the
    # same total the single-shot path computes
    ddl = "CREATE TABLE t (id BIGINT PRIMARY KEY, name VARCHAR(16))"
    d = os.path.join(ROOT, "multi")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    with open(os.path.join(d, "kv-schema-create.sql"), "w") as f:
        f.write("CREATE DATABASE kv;")
    with open(os.path.join(d, "kv.t-schema.sql"), "w") as f:
        f.write(ddl)
    rows = [(i, f"name{i}") for i in range(1, 13)]
    for part in range(4):
        with open(os.path.join(d, f"kv.t.{part:04d}.csv"), "w") as f:
            for i, n in rows[part * 3: part * 3 + 3]:
                f.write(f"{i},{n}\n")
    sink = os.path.join(ROOT, "sink_multi")
    shutil.rmtree(sink, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d, batch_size=8),
        backend="parquet",
        target_dir=sink,
        on_duplicate="physical",
        checkpoint_enable=False,
        checksum=True,
        checksum_algo="kv_crc64",
    )
    summary = RestoreController(spark, cfg).run()
    assert summary.ok, summary.report()
    res = summary.tables["kv.t"]
    expect = 0
    for i, n in rows:
        k, v = encode_record(1, i, [2], [n], 1)
        expect ^= crc64_bytes(k + v)
    assert res.checksum.total_kvs == 12
    assert (res.checksum.crc_xor & 0xFFFFFFFFFFFFFFFF) == expect


@pytest.mark.parametrize("version,algo", [(1, "kv_crc64"), (2, "kv_crc64_v2")])
def test_kv_checksum_multi_index(spark, version, algo):
    # the reference's tbl_multi_index shape (mydump/examples): int-PK
    # handle + a non-unique KEY + a UNIQUE KEY. The kv checksum must
    # cover the index KVs too (ClassifyAndAppend feeds BOTH the data
    # and index checksums, sql2kv.go:218-239), so total_kvs = 3x rows
    # and the crc is sensitive to index columns and handles.
    from tidb_lightning_release_4_0_spark.functions.kv_codec import (
        encode_table_kvs,
    )

    ddl = (
        "CREATE TABLE t (id BIGINT PRIMARY KEY, i INT, s VARCHAR(32), "
        "KEY i_idx (i), UNIQUE KEY s_idx (s))"
    )
    rows = [(1, 10, "aa"), (2, None, "bb"), (3, 10, None)]
    NUL = "\\N"
    csv = "".join(
        f"{h},{NUL if i is None else i},{NUL if s is None else s}\n"
        for h, i, s in rows
    )
    tag = f"mi_v{version}"
    res = _run(spark, tag, _dump(tag, ddl, csv), algo)

    expect_crc, expect_bytes, expect_kvs = 0, 0, 0
    for h, i, s in rows:
        for k, v in encode_table_kvs(
            1, h, [2, 3], [i, s], version,
            indexes=[(1, [0], False), (2, [1], True)],
        ):
            expect_crc ^= crc64_bytes(k + v)
            expect_bytes += len(k) + len(v)
            expect_kvs += 1
    got = res.checksum
    assert got.total_kvs == expect_kvs == 3 * len(rows)
    assert got.total_bytes == expect_bytes
    assert (got.crc_xor & 0xFFFFFFFFFFFFFFFF) == expect_crc

    # index-sensitivity: flip one indexed value, same data column set
    tag2 = f"mi_v{version}_flip"
    csv2 = csv.replace("1,10,aa", "1,11,aa")
    res2 = _run(spark, tag2, _dump(tag2, ddl, csv2), algo)
    assert res2.checksum.crc_xor != got.crc_xor


@pytest.mark.parametrize("version,algo", [(1, "kv_crc64"), (2, "kv_crc64_v2")])
def test_kv_checksum_uint64_column(spark, version, algo):
    # BIGINT UNSIGNED rides Spark as DECIMAL(20,0) (SURVEY §1.2) but
    # must encode as KindUint64 — incl. the reference's
    # various_types round-trip value 18446744073709551614
    from tidb_lightning_release_4_0_spark.functions.kv_codec import (
        Uint64Datum,
        encode_table_kvs,
    )

    ddl = (
        "CREATE TABLE t (id BIGINT PRIMARY KEY, u BIGINT UNSIGNED, "
        "KEY u_idx (u))"
    )
    rows = [(1, 18446744073709551614), (2, 0), (3, None), (4, 12345)]
    NUL = "\\N"
    csv = "".join(
        f"{h},{NUL if u is None else u}\n" for h, u in rows
    )
    tag = f"u64_v{version}"
    res = _run(spark, tag, _dump(tag, ddl, csv), algo)
    expect_crc = 0
    for h, u in rows:
        v = None if u is None else Uint64Datum(u)
        for k, val in encode_table_kvs(
            1, h, [2], [v], version, indexes=[(1, [0], False)]
        ):
            expect_crc ^= crc64_bytes(k + val)
    assert res.checksum.total_kvs == 2 * len(rows)
    assert (res.checksum.crc_xor & 0xFFFFFFFFFFFFFFFF) == expect_crc


def test_kv_checksum_table_ids(spark):
    # cfg.kv_table_ids threads a real TiKV table id into the
    # record/index keys (bare or db-qualified names); odd row count
    # because the XOR-of-CRC combine is GF(2)-linear — with an even
    # number of same-length rows a shared key-byte change cancels
    # (a property of the reference's checksum too)
    from tidb_lightning_release_4_0_spark.functions.kv_codec import (
        encode_table_kvs,
    )

    ddl = "CREATE TABLE t (id BIGINT PRIMARY KEY, s VARCHAR(8))"
    csv = "1,a\n2,b\n3,c\n"
    rows = [(1, "a"), (2, "b"), (3, "c")]
    seen = {}
    for tag, ids, tid in (
        ("tid_d", {}, 1),
        ("tid_b", {"t": 42}, 42),
        ("tid_q", {"kv.t": 43}, 43),
    ):
        dump = _dump(tag, ddl, csv)
        sink = os.path.join(ROOT, f"sink_{tag}")
        shutil.rmtree(sink, ignore_errors=True)
        cfg = Config(
            mydumper=MydumperConfig(source_dir=dump),
            backend="parquet", target_dir=sink,
            on_duplicate="physical", checkpoint_enable=False,
            checksum=True, checksum_algo="kv_crc64", kv_table_ids=ids,
        )
        summary = RestoreController(spark, cfg).run()
        assert summary.ok, summary.report()
        got = summary.tables["kv.t"].checksum.crc_xor & 0xFFFFFFFFFFFFFFFF
        exp = 0
        for h, v in rows:
            for k, val in encode_table_kvs(tid, h, [2], [v], 1):
                exp ^= crc64_bytes(k + val)
        assert got == exp, (tag, got, exp)
        seen[tid] = got
    assert len(set(seen.values())) == 3  # the id genuinely flows


def test_kv_checksum_prefix_index(spark):
    # `KEY s_pre (s(4))`: the index KV encodes only the leading 4
    # CHARACTERS (TruncateIndexValue), threaded from the parsed DDL
    from tidb_lightning_release_4_0_spark.functions.kv_codec import (
        encode_table_kvs,
    )

    ddl = (
        "CREATE TABLE t (id BIGINT PRIMARY KEY, s VARCHAR(32), "
        "KEY s_pre (s(4)))"
    )
    rows = [(1, "ab"), (2, "abcdef"), (3, "héllo wörld"), (4, None)]
    NUL = "\\N"
    csv = "".join(f"{h},{NUL if s is None else s}\n" for h, s in rows)
    res = _run(spark, "pfx", _dump("pfx", ddl, csv), "kv_crc64")
    expect_crc = 0
    for h, s in rows:
        for k, v in encode_table_kvs(
            1, h, [2], [s], 1, indexes=[(1, [(0, 4)], False)]
        ):
            expect_crc ^= crc64_bytes(k + v)
    assert res.checksum.total_kvs == 2 * len(rows)
    assert (res.checksum.crc_xor & 0xFFFFFFFFFFFFFFFF) == expect_crc
    # truncation is live: an untruncated encode gives a DIFFERENT crc
    full_crc = 0
    for h, s in rows:
        for k, v in encode_table_kvs(
            1, h, [2], [s], 1, indexes=[(1, [0], False)]
        ):
            full_crc ^= crc64_bytes(k + v)
    assert full_crc != expect_crc


def test_kv_hash_columns_bigint_above_2_53_with_nulls(spark):
    # A BIGINT batch containing a NULL used to reach the kernel as
    # float64 (Arrow -> pandas widening), silently rounding values
    # >= 2**53; integers now travel as strings, so the encode is
    # lossless at every magnitude
    from pyspark.sql import functions as F

    from tidb_lightning_release_4_0_spark.functions.kv_codec import (
        kv_hash_columns,
    )

    big = (1 << 53) + 1  # not representable in float64
    bigger = (1 << 62) + 3
    rows = [(1, big), (2, None), (3, bigger)]
    df = spark.createDataFrame(rows, "id BIGINT, v BIGINT")
    pair = kv_hash_columns(df, ["v"], "id", col_ids=[2])
    got = (
        df.withColumn("_p", pair)
        .select(F.sum(F.col("_p.n")).alias("n"))
        .collect()[0]["n"]
    )
    crcs = [
        r["h"] & 0xFFFFFFFFFFFFFFFF
        for r in df.withColumn("_p", pair)
        .select(F.col("_p.h").alias("h"))
        .orderBy("h")
        .collect()
    ]
    expect_crcs, expect_n = [], 0
    for i, v in rows:
        k, val = encode_record(1, i, [2], [v], 1)
        expect_crcs.append(crc64_bytes(k + val))
        expect_n += len(k) + len(val)
    assert got == expect_n
    assert sorted(crcs) == sorted(expect_crcs)
    # the float64 trip would have encoded 2**53 instead of 2**53+1:
    # prove the expected bytes distinguish them
    k_exact, v_exact = encode_record(1, 1, [2], [big], 1)
    k_round, v_round = encode_record(1, 1, [2], [int(float(big))], 1)
    assert v_exact != v_round


def test_kv_checksum_rowid_handle(spark):
    # no integer PK -> _tidb_rowid handle; all DDL columns (ids 1,2)
    # are in the value
    ddl = "CREATE TABLE t (name VARCHAR(16), qty INT)"
    csv = "x,10\ny,20\nz,\\N\n"
    res = _run(spark, "rowid_v1", _dump("rowid_v1", ddl, csv), "kv_crc64")
    rows = [("x", 10), ("y", 20), ("z", None)]
    expect_crc = 0
    for handle, (n, q) in enumerate(rows, start=1):
        k, v = encode_record(1, handle, [1, 2], [n, q], 1)
        expect_crc ^= crc64_bytes(k + v)
    assert res.checksum.total_kvs == 3
    assert (res.checksum.crc_xor & 0xFFFFFFFFFFFFFFFF) == expect_crc
