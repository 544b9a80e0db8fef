"""ENUM / SET / BIT / JSON / TIME datum kinds in the KV-parity codec
(round 8, VERDICT r7 "What's missing #1").

The reference encodes these through the same public TiDB codec as
every other kind: ENUM ordinal / SET bitmask / BIT ToInt ride the
unsigned-int paths (lightning/backend/tidb.go:152-188 prints the
identical uint64 on the SQL-text side), TIME is durationFlag +
comparable int64 nanoseconds, JSON is jsonFlag + the binary JSON
value (MySQL 5.7 / TiDB types/json layout). tests/various_types is
the reference's own coverage of these columns.

Layers pinned here: datum-level golden bytes (hand-derived from the
public layouts), the binary-JSON encode/decode roundtrip, the
MySQL-kind coercion helpers, numpy-kernel-vs-scalar-oracle agreement
on a various_types-shaped DataFrame (both row formats), and the
NaN-double agreement fix (a genuine NaN double must encode as a FLOAT
datum in the kernel exactly as in the scalar encoder — previously the
numpy path's na_value=0.0 silently rewrote it).
"""

from __future__ import annotations

import math
import struct

import pytest

from tidb_lightning_release_4_0_spark.functions import kv_codec as KC
from tidb_lightning_release_4_0_spark.functions.kv_codec import (
    BitDatum,
    DurationDatum,
    EnumDatum,
    JsonDatum,
    SetDatum,
    enum_ordinal,
    json_binary,
    json_binary_decode,
    parse_duration_ns,
    set_bitmask,
)


# ---------------------------------------------------------------------------
# datum-level golden bytes
# ---------------------------------------------------------------------------


def test_enum_set_bit_unsigned_paths():
    # v1 row value: uvarintFlag + LEB128
    assert KC._encode_datum_v1(EnumDatum(3)) == bytes([0x09, 0x03])
    assert KC._encode_datum_v1(SetDatum(5)) == bytes([0x09, 0x05])
    # 513 = 0x201 -> LEB128 81 04
    assert KC._encode_datum_v1(BitDatum(513)) == bytes([0x09, 0x81, 0x04])
    # BIT accepts the raw big-endian literal bytes too
    assert KC._encode_datum_v1(BitDatum(b"\x02\x01")) == bytes(
        [0x09, 0x81, 0x04]
    )
    # key: uintFlag + big-endian u64
    assert KC.encode_key_datum(EnumDatum(3)) == bytes([0x04]) + struct.pack(
        ">Q", 3
    )
    assert KC.encode_key_datum(SetDatum(5)) == bytes([0x04]) + struct.pack(
        ">Q", 5
    )
    # v2 cell: smallest little-endian uint
    assert KC._encode_cell_v2(EnumDatum(3)) == b"\x03"
    assert KC._encode_cell_v2(BitDatum(513)) == b"\x01\x02"
    assert KC._encode_cell_v2(SetDatum(1 << 40)) == struct.pack(
        "<Q", 1 << 40
    )


def test_duration_datum_bytes():
    ns = 3723 * 1_000_000_000 + 500_000_000  # 01:02:03.5
    d = DurationDatum(ns)
    comp = struct.pack(">Q", (ns ^ (1 << 63)))
    assert KC._encode_datum_v1(d) == bytes([0x07]) + comp
    assert KC.encode_key_datum(d) == bytes([0x07]) + comp
    assert KC._encode_cell_v2(d) == struct.pack("<q", ns)
    neg = DurationDatum(-ns)
    assert KC._encode_datum_v1(neg) == bytes([0x07]) + struct.pack(
        ">Q", (-ns) % (1 << 64) ^ (1 << 63)
    )


def test_parse_duration_ns():
    assert parse_duration_ns("01:02:03") == 3723 * 10**9
    assert parse_duration_ns("-01:02:03.5") == -(3723 * 10**9 + 5 * 10**8)
    assert parse_duration_ns("838:59:59") == (838 * 3600 + 59 * 60 + 59) * 10**9
    assert parse_duration_ns("00:00:00") == 0
    # two colon fields fill from the LEFT (MySQL/TiDB ParseDuration):
    # '12:34' is 12:34:00, not 00:12:34 (ADVICE r9 #1)
    assert parse_duration_ns("12:34") == (12 * 3600 + 34 * 60) * 10**9
    assert parse_duration_ns("11:12") == (11 * 3600 + 12 * 60) * 10**9


def test_enum_ordinal_and_set_bitmask():
    members = ["red", "green", "blue"]
    assert enum_ordinal("red", members) == 1
    assert enum_ordinal("BLUE", members) == 3  # ci collation
    assert enum_ordinal("", members) == 0  # invalid/empty element
    assert enum_ordinal("2", members) == 2  # numeric string = ordinal
    with pytest.raises(ValueError):
        enum_ordinal("mauve", members)
    assert set_bitmask("", members) == 0
    assert set_bitmask("red", members) == 1
    assert set_bitmask("red,blue", members) == 0b101
    assert set_bitmask("GREEN", members) == 0b010
    with pytest.raises(ValueError):
        set_bitmask("red,mauve", members)


# ---------------------------------------------------------------------------
# binary JSON
# ---------------------------------------------------------------------------


def test_json_binary_scalars():
    assert json_binary(None) == (0x04, b"\x00")
    assert json_binary(True) == (0x04, b"\x01")
    assert json_binary(False) == (0x04, b"\x02")
    assert json_binary(7) == (0x09, struct.pack("<q", 7))
    assert json_binary(-1) == (0x09, struct.pack("<q", -1))
    assert json_binary((1 << 63) + 5) == (
        0x0A, struct.pack("<Q", (1 << 63) + 5),
    )
    assert json_binary(2.5) == (0x0B, struct.pack("<d", 2.5))
    assert json_binary("x") == (0x0C, b"\x01x")
    # uvarint length: 200-byte string -> 2-byte LEB128 header
    tc, v = json_binary("a" * 200)
    assert tc == 0x0C and v[:2] == bytes([0xC8, 0x01]) and len(v) == 202


def test_json_binary_array_layout():
    tc, v = json_binary([1, "x"])
    assert tc == 0x03
    n, total = struct.unpack_from("<II", v, 0)
    assert n == 2 and total == len(v)
    # entry 0: int64 at offset 18 (8 header + 2*5 entries)
    assert v[8] == 0x09
    assert struct.unpack_from("<I", v, 9)[0] == 18
    assert struct.unpack_from("<q", v, 18)[0] == 1
    # entry 1: string after the int payload
    assert v[13] == 0x0C
    off = struct.unpack_from("<I", v, 14)[0]
    assert v[off: off + 2] == b"\x01x"


def test_json_binary_object_layout_and_key_order():
    tc, v = json_binary({"bb": 2, "a": 1})
    assert tc == 0x01
    n, total = struct.unpack_from("<II", v, 0)
    assert n == 2 and total == len(v)
    # keys sorted bytewise: "a" first despite insertion order
    koff0, klen0 = struct.unpack_from("<IH", v, 8)
    koff1, klen1 = struct.unpack_from("<IH", v, 14)
    assert v[koff0: koff0 + klen0] == b"a"
    assert v[koff1: koff1 + klen1] == b"bb"
    # literals inline in the value entry itself
    tc2, v2 = json_binary({"k": True})
    ventry = 8 + 6  # header + one key entry
    assert v2[ventry] == 0x04 and v2[ventry + 1] == 0x01


@pytest.mark.parametrize(
    "obj",
    [
        None,
        True,
        False,
        0,
        -(1 << 62),
        123456789,
        3.14159,
        "",
        "héllo ☃",
        [],
        {},
        [1, [2, [3, None]], {"a": "b"}],
        {"z": [1.5, False], "a": {"nested": None}, "m": "str"},
        {"dup": 1, "keys": [True, "x", {"deep": [1, 2, 3]}]},
    ],
)
def test_json_binary_roundtrip(obj):
    tc, v = json_binary(obj)
    assert json_binary_decode(tc, v) == obj


def test_json_datum_from_text_int_float_distinction():
    # "1" is Int64, "1.0" is Float64 — Go's json.Number semantics
    assert JsonDatum.from_text("1").type_code == 0x09
    assert JsonDatum.from_text("1.0").type_code == 0x0B
    d = JsonDatum.from_text('{"a": 1}')
    assert KC._encode_datum_v1(d)[:2] == bytes([0x0A, 0x01])
    assert KC._encode_cell_v2(d)[0] == 0x01


# ---------------------------------------------------------------------------
# kernel vs scalar oracle on a various_types-shaped table
# ---------------------------------------------------------------------------

_ENUM = ["g00", "g01", "g02", "g03"]
_SET = ["x00", "x01", "x02", "x03"]


def _vt_df(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("pk", T.LongType(), False),
            T.StructField("e", T.StringType(), True),
            T.StructField("s", T.StringType(), True),
            T.StructField("b", T.LongType(), True),
            T.StructField("js", T.StringType(), True),
            T.StructField("t", T.StringType(), True),
            T.StructField("d", T.DoubleType(), True),
        ]
    )
    rows = [
        (1, "g00", "x00,x02", 3, '{"a": 1, "bb": [true, null]}', "01:02:03", 1.5),
        (2, "g03", "", 0, "[1, 2.5, \"x\"]", "-10:00:00.25", float("nan")),
        (3, None, "x01", None, None, None, None),
        (4, "g01", "x03,x01", (1 << 33) + 7, '"plain"', "838:59:59", -0.0),
        (5, "", "x00", 1, "null", "00:00:00", math.inf),
    ]
    return spark.createDataFrame(rows, schema)


_KINDS = {
    "e": ("enum", tuple(_ENUM)),
    "s": ("set", tuple(_SET)),
    "b": ("bit",),
    "js": ("json",),
    "t": ("time",),
}


@pytest.mark.parametrize("rfv", [1, 2])
def test_kernels_agree_on_mysql_kinds(spark, rfv):
    from tests.kv_oracle import scalar_kv_hashes, spark_kv_hashes

    df = _vt_df(spark)
    cols = ["e", "s", "b", "js", "t", "d"]
    kw = dict(
        table_id=7, row_format_version=rfv,
        indexes=[(1, ["e"], True), (2, ["s", "b"], False)],
        mysql_kinds=_KINDS,
    )
    want = scalar_kv_hashes(df, cols, "pk", **kw)
    assert spark_kv_hashes(df, cols, "pk", **kw) == want
    # every row produced a nonzero pair set (3 KVs each: data + 2 idx)
    assert sorted(want) == [1, 2, 3, 4, 5]
    assert all(n > 0 for _, n in want.values())


@pytest.mark.parametrize("rfv", [1, 2])
def test_kernels_agree_on_nan_double(spark, rfv):
    """A genuine (non-NULL) NaN double and a NULL double in the same
    column must encode differently, and identically in the kernel and
    the scalar oracle."""
    from pyspark.sql import types as T

    from tests.kv_oracle import scalar_kv_hashes, spark_kv_hashes

    schema = T.StructType(
        [
            T.StructField("pk", T.LongType(), False),
            T.StructField("d", T.DoubleType(), True),
        ]
    )
    df = spark.createDataFrame(
        [(1, float("nan")), (2, None), (3, 0.0)], schema
    )
    want = scalar_kv_hashes(df, ["d"], "pk", row_format_version=rfv)
    assert spark_kv_hashes(df, ["d"], "pk", row_format_version=rfv) == want
    h = {pk: hv for pk, (hv, _) in want.items()}
    assert h[1] != h[2], "NaN must not hash like NULL"
    assert h[1] != h[3], "NaN must not hash like 0.0"


@pytest.mark.parametrize("rfv,algo", [(1, "kv_crc64"), (2, "kv_crc64_v2")])
def test_kv_checksum_e2e_various_types_shaped(spark, rfv, algo):
    """End to end on a tests/various_types-shaped table: ENUM (unique
    key), SET (secondary key), BIT, JSON and TIME columns restore
    under the KV-parity checksum, and the triple matches a pure-
    Python encode_table_kvs walk with the same MySQL-kind wrappers
    the pipeline derives from the DDL."""
    import os
    import shutil

    from tidb_lightning_release_4_0_spark.config import (
        Config,
        MydumperConfig,
    )
    from tidb_lightning_release_4_0_spark.functions.hashing import (
        crc64_bytes,
    )
    from tidb_lightning_release_4_0_spark.plans.pipeline import (
        RestoreController,
    )

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp",
        "kv_kinds_e2e",
    )
    tag = f"vt_{algo}"
    d = os.path.join(root, tag)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    ddl = (
        "CREATE TABLE t (id BIGINT PRIMARY KEY, "
        "e ENUM('a','b','c'), s SET('x','y','z'), bt BIT(8), "
        "js JSON, tm TIME, UNIQUE KEY(e), KEY(s))"
    )
    with open(os.path.join(d, "kv-schema-create.sql"), "w") as f:
        f.write("CREATE DATABASE kv;")
    with open(os.path.join(d, "kv.t-schema.sql"), "w") as f:
        f.write(ddl)
    with open(os.path.join(d, "kv.t.0001.sql"), "w") as f:
        f.write(
            "INSERT INTO `t` VALUES\n"
            "(1, 'a', 'x,z', b'101', '{\"k\": [1, true]}', '01:02:03'),\n"
            "(2, 'c', '', 0, '[1.5, \"s\"]', '-00:00:01'),\n"
            "(3, NULL, 'y', 255, NULL, NULL);\n"
        )
    sink = os.path.join(root, f"sink_{tag}")
    shutil.rmtree(sink, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="parquet",
        target_dir=sink,
        on_duplicate="physical",
        checkpoint_enable=False,
        checksum=True,
        checksum_algo=algo,
    )
    summary = RestoreController(spark, cfg).run()
    assert summary.ok, summary.report()
    got = summary.tables["kv.t"].checksum

    members_e, members_s = ("a", "b", "c"), ("x", "y", "z")
    rows = [
        (1, "a", "x,z", 0b101, '{"k": [1, true]}', "01:02:03"),
        (2, "c", "", 0, '[1.5, "s"]', "-00:00:01"),
        (3, None, "y", 255, None, None),
    ]
    expect_crc, expect_bytes, expect_kvs = 0, 0, 0
    for i, e, s, bt, js, tm in rows:
        vals = [
            None if e is None else EnumDatum(enum_ordinal(e, members_e)),
            None if s is None else SetDatum(set_bitmask(s, members_s)),
            None if bt is None else BitDatum(bt),
            None if js is None else JsonDatum.from_text(js),
            None if tm is None else DurationDatum(parse_duration_ns(tm)),
        ]
        for k, v in KC.encode_table_kvs(
            1, i, [2, 3, 4, 5, 6], vals, rfv,
            indexes=[(1, [0], True), (2, [1], False)],
        ):
            expect_crc ^= crc64_bytes(k + v)
            expect_bytes += len(k) + len(v)
            expect_kvs += 1
    assert got.total_kvs == expect_kvs == 9
    assert got.total_bytes == expect_bytes
    assert (got.crc_xor & 0xFFFFFFFFFFFFFFFF) == expect_crc


def test_scalar_encode_table_kvs_mysql_kinds_both_formats():
    """The scalar oracle end-to-end over wrapped datums: the same
    logical row encodes to different but deterministic byte sets per
    row format, and the enum/set/bit key bytes follow the unsigned
    comparable layout."""
    vals = [
        EnumDatum(2),
        SetDatum(0b101),
        BitDatum(3),
        JsonDatum.from_text('{"a": [1, true]}'),
        DurationDatum(parse_duration_ns("01:00:00")),
    ]
    for rfv in (1, 2):
        pairs = KC.encode_table_kvs(
            9, 4, [1, 2, 3, 4, 5], vals, rfv,
            indexes=[(1, [0, 1], True)],
        )
        assert len(pairs) == 2
        ikey, ival = pairs[1]
        # index key: t..._i... + uintFlag/BE(2) + uintFlag/BE(5)
        tail = ikey[len(b"t") + 8 + len(b"_i") + 8:]
        assert tail[:9] == bytes([0x04]) + struct.pack(">Q", 2)
        assert tail[9:18] == bytes([0x04]) + struct.pack(">Q", 5)
        assert ival == struct.pack(">q", 4)  # distinct unique entry
