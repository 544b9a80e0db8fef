"""The vectorized KV kernel (kv_codec_np) must be byte-identical with
the scalar oracle (kv_codec, run driver-side by tests/kv_oracle.py):
identical per-row (crc, nbytes) on a type matrix covering every
vectorized family plus the object fallbacks, with NULLs, extreme
magnitudes, unicode, and index KVs.
"""

import datetime as dt
from decimal import Decimal

import numpy as np
import pytest

from tests.kv_oracle import scalar_kv_hashes, spark_kv_hashes


def _rows():
    return [
        # handle, big, f, s, ts, dec, b
        (1, (1 << 53) + 1, 1.5, "alice", dt.datetime(2009, 2, 14, 7, 31, 30), Decimal("0.01"), True),
        (2, None, -2.25, "", dt.datetime(1999, 12, 31, 23, 59, 59, 999999), Decimal("-12345.67"), False),
        (3, -(1 << 62) - 7, None, "héllo wörld \x00 snowman ☃", None, None, None),
        (4, 0, -0.0, None, dt.datetime(1970, 1, 1, 0, 0, 0), Decimal("999.00"), True),
        (5, (1 << 63) - 1, 1e300, "x" * 300, dt.datetime(2038, 1, 19, 3, 14, 7), Decimal("0.00"), False),
        (6, -(1 << 63), -1e-300, "12345678", dt.datetime(1899, 6, 3, 12, 0, 1), Decimal("-0.01"), None),
        (7, 42, float("inf"), "tab\tnl\n", dt.datetime(2020, 2, 29, 23, 59, 59, 1), Decimal("1.23"), True),
    ]


SCHEMA = (
    "h BIGINT, big BIGINT, f DOUBLE, s STRING, ts TIMESTAMP, "
    "dec DECIMAL(15,2), b BOOLEAN"
)
COLS = ["big", "f", "s", "ts", "dec", "b"]
IDX = [
    (1, ["big"], False),
    (2, ["s"], True),
    (3, ["ts", "h"], False),
    # prefix index: first 5 CHARACTERS of the (multibyte) string
    (4, [("s", 5)], False),
]


def _input_rows(shape):
    """The type matrix as-is, as a zero-row frame (the empty-batch
    boundary), or with every value column NULL (all-NULL batches in
    every vectorized family)."""
    if shape == "empty":
        return []
    if shape == "all_null":
        return [(r[0],) + (None,) * len(COLS) for r in _rows()]
    return _rows()


@pytest.mark.parametrize("version", [1, 2])
@pytest.mark.parametrize("indexes", [None, IDX])
@pytest.mark.parametrize("dnull", [None, frozenset({2, 4})])
def test_numpy_kernel_matches_scalar_oracle(spark, version, indexes, dnull):
    kw = dict(
        col_ids=[2, 3, 4, 5, 6, 7],
        table_id=9,
        default_null_ids=dnull,
        indexes=indexes,
        row_format_version=version,
    )
    for shape in ("mixed", "empty", "all_null"):
        rows = _input_rows(shape)
        df = spark.createDataFrame(rows, SCHEMA)
        got = spark_kv_hashes(df, COLS, "h", **kw)
        assert got == scalar_kv_hashes(df, COLS, "h", **kw), shape
        assert len(got) == len(rows), shape


@pytest.mark.parametrize("version", [1, 2])
def test_numpy_kernel_v2_big_layout_rows(spark, version):
    # mixed batch: one row's payload exceeds the u16 offset range
    # (per-row big layout), one row hits a column id > 255, the rest
    # stay small — every combination must match the scalar oracle
    rows = [
        (1, "x" * 70000, 5),   # big by total size
        (2, "small", None),    # small
        (3, None, 7),          # small, NULL string
        (4, "y" * 65536, None),  # big, NULL int
    ]
    df = spark.createDataFrame(rows, "h BIGINT, s STRING, v BIGINT")
    for ids in ([2, 3], [300, 301]):
        kw = dict(col_ids=ids, row_format_version=version)
        got = spark_kv_hashes(df, ["s", "v"], "h", **kw)
        assert got == scalar_kv_hashes(df, ["s", "v"], "h", **kw), (
            version, ids,
        )


@pytest.mark.parametrize("version", [1, 2])
def test_numpy_kernel_randomized(spark, version):
    rng = np.random.default_rng(11)
    n = 2000
    rows = []
    for i in range(n):
        rows.append(
            (
                i + 1,
                None if rng.random() < 0.1 else int(
                    rng.integers(-(2**63), 2**63 - 1)
                ),
                None if rng.random() < 0.1 else float(
                    rng.normal() * 10.0 ** float(rng.integers(-200, 200))
                ),
                None if rng.random() < 0.1 else "".join(
                    chr(rng.integers(1, 0x2FFF))
                    for _ in range(rng.integers(0, 40))
                ),
                None if rng.random() < 0.1 else dt.datetime(
                    int(rng.integers(1, 9999)),
                    int(rng.integers(1, 13)),
                    int(rng.integers(1, 29)),
                    int(rng.integers(0, 24)),
                    int(rng.integers(0, 60)),
                    int(rng.integers(0, 60)),
                    int(rng.integers(0, 1_000_000)),
                ),
            )
        )
    df = spark.createDataFrame(
        rows, "h BIGINT, big BIGINT, f DOUBLE, s STRING, ts TIMESTAMP"
    ).repartition(4)
    cols = ["big", "f", "s", "ts"]
    idx = [(1, ["s", "big"], True), (2, ["ts"], False)]
    kw = dict(indexes=idx, row_format_version=version)
    assert spark_kv_hashes(df, cols, "h", **kw) == scalar_kv_hashes(
        df, cols, "h", **kw
    )


def test_float32_columns_widen_exactly(spark):
    """MySQL FLOAT rides KindFloat32 in the reference's kind table
    (lightning/backend/sql2kv.go:59) but the TiDB codec stores every
    float as the 8-byte comparable double — a float32 must widen
    EXACTLY (value-preserving) before the bit twiddle. Pin the numpy
    kernel to the scalar oracle on a FloatType column, including
    values with no short decimal representation."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    rows = [
        Row(h=1, f=0.1),  # 0.1f widens to 0.10000000149011612
        Row(h=2, f=-3.4e38),  # near float32 min
        Row(h=3, f=1.17549435e-38),  # smallest normal float32
        Row(h=4, f=None),
        Row(h=5, f=0.0),
    ]
    schema = T.StructType([
        T.StructField("h", T.LongType()),
        T.StructField("f", T.FloatType()),
    ])
    df = spark.createDataFrame(rows, schema)
    kw = dict(col_ids=[2], table_id=21, indexes=[(1, ["f"], False)])
    assert spark_kv_hashes(df, ["f"], "h", **kw) == scalar_kv_hashes(
        df, ["f"], "h", **kw
    )

    # the widened bytes equal the scalar encode of the exact
    # float64 value of each float32
    import struct

    from tidb_lightning_release_4_0_spark.functions.kv_codec import (
        encode_float_comparable,
    )

    w = struct.unpack(">f", struct.pack(">f", 0.1))[0]
    assert w != 0.1  # genuinely a float32 value
    assert encode_float_comparable(w) == encode_float_comparable(
        0.10000000149011612
    )


def test_decimal_vectorized_path_matches_python_kernel(spark):
    """DECIMAL columns ship vectorized at EVERY precision: <= 18 as
    the unscaled int64, wider as a fixed-width sign+digits string —
    pin the vectorized kernel to the scalar oracle on extreme values
    (max/min of DECIMAL(18,4), negatives, NULLs, scale 0, scale =
    precision, and DECIMAL(38,38)'s '0.' placeholder edge), in BOTH
    row formats, value and key positions."""
    from decimal import Decimal as D

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from tidb_lightning_release_4_0_spark.functions.kv_codec_np import (
        decimal_ships_scaled,
    )

    assert decimal_ships_scaled(T.DecimalType(18, 4))
    assert not decimal_ships_scaled(T.DecimalType(19, 4))

    rows = [
        Row(h=1, a=D("99999999999999.9999"), b=D("123456789"),
            c=D("0.99999"), w=D("12345678901234567890.123"),
            x=D("0.99999999999999999999999999999999999999")),
        Row(h=2, a=D("-99999999999999.9999"), b=D("-1"),
            c=D("-0.00001"), w=D("-0.001"),
            x=D("-0.00000000000000000000000000000000000001")),
        Row(h=3, a=D("0.0000"), b=D("0"), c=D("0.00000"), w=D("0.000"),
            x=D("0")),
        Row(h=4, a=None, b=None, c=None, w=None, x=None),
        Row(h=5, a=D("-0.0001"), b=D("999999999999999999"),
            c=D("0.12345"), w=D("99999999999999999999999.999"),
            x=D("-0.53564071041169732235747821274708349159")),
    ]
    schema = T.StructType([
        T.StructField("h", T.LongType()),
        T.StructField("a", T.DecimalType(18, 4)),
        T.StructField("b", T.DecimalType(18, 0)),
        T.StructField("c", T.DecimalType(5, 5)),
        T.StructField("w", T.DecimalType(26, 3)),  # wide: digits path
        # pure-fraction max-width: the '0.' placeholder edge where a
        # naive lpad would truncate the LAST digit
        T.StructField("x", T.DecimalType(38, 38)),
    ])
    df = spark.createDataFrame(rows, schema)
    cols = ["a", "b", "c", "w", "x"]
    for ver in (1, 2):
        kw = dict(
            col_ids=[2, 3, 4, 5, 6],
            table_id=22, row_format_version=ver,
            default_null_ids=frozenset({2, 4, 6}),
            indexes=[(1, ["a", "c"], False), (2, ["b"], True),
                     (3, ["w", "x"], False)],
        )
        got = spark_kv_hashes(df, cols, "h", **kw)
        assert got == scalar_kv_hashes(df, cols, "h", **kw), ver


def test_wide_decimal_digits_packer_property_matrix():
    """The digit-string myDecimal packer (_mydecimal_mat_digits) is
    bit-identical to the scalar encoder across wide (precision > 18)
    shapes — multiple integer groups, full+partial fraction groups,
    frac-0, intg-0 (the '0.' placeholder edge) and negatives — fed
    the exact string contract the projection ships."""
    import decimal
    import random

    import numpy as np
    import pandas as pd

    from tidb_lightning_release_4_0_spark.functions.kv_codec import (
        encode_mydecimal,
    )
    from tidb_lightning_release_4_0_spark.functions.kv_codec_np import (
        _mydecimal_mat_digits,
    )

    rng = random.Random(5)
    with decimal.localcontext() as ctx:
        ctx.prec = 80
        for p, s in [
            (19, 0), (20, 10), (25, 7), (38, 18), (38, 0),
            (38, 38), (27, 9), (36, 35), (19, 19),
        ]:
            intg = p - s
            vals = []
            for _ in range(40):
                i = rng.randint(0, 10**intg - 1) if intg else 0
                f = rng.randint(0, 10**s - 1) if s else 0
                d = decimal.Decimal(i)
                if s:
                    d += decimal.Decimal(f).scaleb(-s)
                if rng.random() < 0.5:
                    d = -d
                vals.append(d)
            vals.append(decimal.Decimal(0))
            strs = []
            for v in vals:
                sign = "-" if v < 0 else "+"
                q = (
                    abs(v).quantize(decimal.Decimal(1).scaleb(-s))
                    if s else abs(v)
                )
                digs = (
                    format(q, "f").replace(".", "").lstrip("0")
                    .rjust(p, "0")
                )
                assert len(digs) == p
                strs.append(sign + digs)
            ser = pd.Series(strs, dtype=object)
            valid = np.ones(len(vals), bool)
            mat, lens = _mydecimal_mat_digits(ser, valid, p, s)
            for i, v in enumerate(vals):
                exp = encode_mydecimal(v, p, s)
                got = bytes(mat[i, : lens[i]])
                assert got == exp, (p, s, v, exp.hex(), got.hex())


def test_date_columns_vectorized_match_python_kernel(spark):
    """DATE columns ship days-since-epoch and pack as their midnight
    datetime in pure numpy — pin the kernel to the scalar oracle
    across the MySQL DATE range (0001..9999, pre-1970 negatives,
    NULLs), both row formats, value and key positions. Years past
    2262 specifically exercise the no-pandas-Timestamp path."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import types as T

    rows = [
        Row(h=1, d=dt.date(1996, 2, 29)),
        Row(h=2, d=dt.date(1970, 1, 1)),
        Row(h=3, d=dt.date(1899, 6, 3)),
        Row(h=4, d=dt.date(9999, 12, 31)),  # past pandas ns range
        Row(h=5, d=dt.date(1, 1, 1)),
        Row(h=6, d=None),
        Row(h=7, d=dt.date(2262, 4, 12)),
    ]
    schema = T.StructType([
        T.StructField("h", T.LongType()),
        T.StructField("d", T.DateType()),
    ])
    df = spark.createDataFrame(rows, schema)
    for ver in (1, 2):
        kw = dict(
            col_ids=[2], table_id=24, row_format_version=ver,
            indexes=[(1, ["d"], False), (2, ["d", "h"], True)],
        )
        got = spark_kv_hashes(df, ["d"], "h", **kw)
        assert got == scalar_kv_hashes(df, ["d"], "h", **kw), ver


def test_enum_bit_vectorized_match_python_kernel(spark):
    """ENUM ordinals and integer BIT values now pre-resolve JVM-side
    and ride the kernel's vectorized uint64 branch — pin the kernel to
    the scalar oracle on exact / case-insensitive / empty /
    numeric-ordinal / NULL enum forms (both row formats), and keep the
    STRICT contract: an unknown member raises in the kernel (inside
    Spark) and in the oracle (in the Spark driver)."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("h", T.LongType()),
        T.StructField("e", T.StringType()),
        T.StructField("b", T.LongType()),
    ])
    rows = [
        Row(h=1, e="click", b=5),
        Row(h=2, e="CLICK", b=0),   # ci-collation match
        Row(h=3, e="", b=255),      # invalid/empty element: ordinal 0
        Row(h=4, e="3", b=None),    # numeric string IS the ordinal
        Row(h=5, e=None, b=18),
    ]
    df = spark.createDataFrame(rows, schema)
    mk = {"e": ("enum", ("click", "error", "purchase")), "b": ("bit",)}
    for ver in (1, 2):
        kw = dict(
            col_ids=[2, 3], table_id=25, mysql_kinds=mk,
            indexes=[(1, ["e", "b"], True)], row_format_version=ver,
        )
        got = spark_kv_hashes(df, ["e", "b"], "h", **kw)
        assert got == scalar_kv_hashes(df, ["e", "b"], "h", **kw), ver

    bad = spark.createDataFrame([Row(h=1, e="nope", b=1)], schema).coalesce(1)
    kw = dict(col_ids=[2, 3], table_id=25, mysql_kinds=mk)
    with pytest.raises(ValueError, match="enum value"):
        scalar_kv_hashes(bad, ["e", "b"], "h", **kw)
    with pytest.raises(Exception, match="enum value"):
        spark_kv_hashes(bad, ["e", "b"], "h", **kw)


def test_set_vectorized_match_python_kernel(spark):
    """SET bitmasks now resolve JVM-side (per-part CASE inside a
    bitwise-OR aggregate, strict raise preserved) — pin the kernel to
    the scalar oracle on single/multi/empty/NULL/ci/duplicate-member
    forms in both row formats, and keep the raise on a genuine member
    miss in both."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("h", T.LongType()),
        T.StructField("s", T.StringType()),
    ])
    rows = [
        Row(h=1, s="x"),
        Row(h=2, s="x,z"),
        Row(h=3, s=""),        # empty set: mask 0
        Row(h=4, s=None),
        Row(h=5, s="X,Y"),     # ci-collation members
        Row(h=6, s="z,z,x"),   # duplicate member ORs to one bit
    ]
    df = spark.createDataFrame(rows, schema)
    mk = {"s": ("set", ("x", "y", "z"))}
    for ver in (1, 2):
        kw = dict(
            col_ids=[2], table_id=27, mysql_kinds=mk,
            indexes=[(1, ["s"], False)], row_format_version=ver,
        )
        got = spark_kv_hashes(df, ["s"], "h", **kw)
        assert got == scalar_kv_hashes(df, ["s"], "h", **kw), ver

    bad = spark.createDataFrame([Row(h=1, s="x,nope")], schema).coalesce(1)
    kw = dict(col_ids=[2], table_id=27, mysql_kinds=mk)
    with pytest.raises(ValueError, match="nope"):
        scalar_kv_hashes(bad, ["s"], "h", **kw)
    with pytest.raises(Exception, match="nope"):
        spark_kv_hashes(bad, ["s"], "h", **kw)


def test_set_64_members_bit63(spark):
    """MySQL SET maxes at 64 members; bit 63 exceeds Java's signed
    long, so the JVM bitmask ships it as two's complement and the
    kernel's uint64 view restores the bit pattern. This is the exact
    shape of the reference's various_types enum-set fixture (64
    'xNN' members), which errored at F.lit(1 << 63) before the fix —
    pin the kernel to the scalar oracle including the top-bit
    member."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from tidb_lightning_release_4_0_spark.functions.kv_codec import (
        set_bitmask,
    )

    members = tuple(f"x{i:02d}" for i in range(64))
    assert set_bitmask(members[63], members) == 1 << 63
    rows = [
        Row(h=1, s=members[63]),              # the overflow bit alone
        Row(h=2, s=f"{members[0]},{members[63]}"),
        Row(h=3, s=",".join(members)),        # all 64: mask 2^64-1
        Row(h=4, s=""),
    ]
    schema = T.StructType([
        T.StructField("h", T.LongType()),
        T.StructField("s", T.StringType()),
    ])
    df = spark.createDataFrame(rows, schema)
    mk = {"s": ("set", members)}
    for ver in (1, 2):
        kw = dict(
            col_ids=[2], table_id=28, mysql_kinds=mk,
            indexes=[(1, ["s"], True)], row_format_version=ver,
        )
        got = spark_kv_hashes(df, ["s"], "h", **kw)
        assert got == scalar_kv_hashes(df, ["s"], "h", **kw), ver
