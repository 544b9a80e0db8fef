"""Round-9 fixes, pinned:

- TIME columns vectorize (JVM parse to signed nanoseconds + the
  kernel's new duration branch) — byte-identical with the scalar
  oracle across every MySQL TIME text form, both row formats,
  key+value positions.
- The r8 ADVICE items: the wide-decimal digit packer raises loudly on
  a broken '<sign><p digits>' contract instead of clip-masking it;
  the scalar enum parser rejects Unicode digits (matching the JVM
  twin) and a numeric '0' ordinal (types.ParseEnumValue parity) in
  the kernel and the scalar encoder.
- JSON columns route through the batch-amortized memoizing encoder —
  bytes unchanged vs the scalar oracle (incl. repeated values, which
  now hit the cache).
"""

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from tests.kv_oracle import scalar_kv_hashes, spark_kv_hashes
from tidb_lightning_release_4_0_spark.functions.kv_codec import (
    enum_ordinal,
    parse_duration_ns,
)


def test_time_vectorized_match_python_kernel(spark):
    """TIME pre-parses JVM-side to signed nanoseconds and rides the
    kernel's vectorized duration branch (durationFlag + comparable
    int64 in v1 values AND index keys, smallest-LE signed int in v2
    cells) — pin the kernel to the scalar oracle across the MySQL TIME text
    forms: full HH:MM:SS, fractional seconds (ragged digits), sign,
    hours past 23 (MySQL TIME reaches 838:59:59), MM:SS and
    seconds-only shorthand, zero, and NULL."""
    schema = T.StructType([
        T.StructField("h", T.LongType()),
        T.StructField("t", T.StringType()),
    ])
    rows = [
        Row(h=1, t="12:34:56"),
        Row(h=2, t="-01:02:03.5"),        # ragged fraction, negative
        Row(h=3, t="838:59:59"),          # MySQL TIME max
        Row(h=4, t="-838:59:59.000001"),
        Row(h=5, t="59"),                 # seconds-only shorthand
        Row(h=6, t="3:4"),                # HH:MM shorthand (MySQL)
        Row(h=11, t="11:12"),             # the ADVICE r9 pinned case
        Row(h=7, t="00:00:00.000000001"), # 1 ns
        Row(h=8, t="00:00:00"),
        Row(h=9, t=None),
        Row(h=10, t=" 1:2:3 "),           # surrounding whitespace
    ]
    df = spark.createDataFrame(rows, schema)
    mk = {"t": ("time",)}
    for ver in (1, 2):
        kw = dict(
            col_ids=[2], table_id=29, mysql_kinds=mk,
            indexes=[(1, ["t"], True)], row_format_version=ver,
        )
        got = spark_kv_hashes(df, ["t"], "h", **kw)
        assert got == scalar_kv_hashes(df, ["t"], "h", **kw), ver

    # strict contract survives the vectorization: garbage raises in
    # the kernel (the JVM cast nulls feed a raise_error) and in the
    # scalar oracle
    bad = spark.createDataFrame([Row(h=1, t="not a time")], schema).coalesce(1)
    kw = dict(col_ids=[2], table_id=29, mysql_kinds=mk)
    with pytest.raises(ValueError):
        scalar_kv_hashes(bad, ["t"], "h", **kw)
    with pytest.raises(Exception):
        spark_kv_hashes(bad, ["t"], "h", **kw)


def test_duration_ns_scalar_forms():
    assert parse_duration_ns("-01:02:03.5") == -(
        (3600 + 2 * 60 + 3) * 10**9 + 500_000_000
    )
    assert parse_duration_ns("59") == 59 * 10**9
    # colon fields fill from the LEFT (MySQL/TiDB types.ParseDuration
    # treats '11:12' as HH:MM — ADVICE r9 #1); bare field = seconds
    assert parse_duration_ns("3:4") == (3 * 3600 + 4 * 60) * 10**9
    assert parse_duration_ns("11:12") == (11 * 3600 + 12 * 60) * 10**9
    assert parse_duration_ns(" 1:2:3 ") == (3600 + 120 + 3) * 10**9
    # fractions past 9 digits truncate (ns resolution)
    assert parse_duration_ns("0:0:0.1234567899") == 123_456_789


def test_enum_rejects_unicode_digits_and_zero():
    """ADVICE r8: the scalar kernel accepted Unicode digits (str.
    isdigit) and numeric '0' where the JVM twin / TiDB's
    ParseEnumValue reject both — pinned to the strict behavior in
    the kernel and the scalar encoder now."""
    members = ("red", "green", "blue")
    assert enum_ordinal("2", members) == 2
    with pytest.raises(ValueError):
        enum_ordinal("２", members)  # fullwidth '２'
    with pytest.raises(ValueError):
        enum_ordinal("٣", members)  # arabic-indic '٣'
    with pytest.raises(ValueError):
        enum_ordinal("0", members)  # '' is the only ordinal-0 spelling
    assert enum_ordinal("", members) == 0


def test_enum_zero_and_unicode_raise_in_both_kernels(spark):
    schema = T.StructType([
        T.StructField("h", T.LongType()),
        T.StructField("e", T.StringType()),
    ])
    mk = {"e": ("enum", ("red", "green", "blue"))}
    kw = dict(col_ids=[2], table_id=30, mysql_kinds=mk)
    # one partition per bad frame, so a failing job has no sibling
    # tasks to kill (a job started right after one whose tasks were
    # killed can meet a torn-down reused Python worker); the
    # Spark-driver checks run first for the same reason
    bads = [
        spark.createDataFrame([Row(h=1, e=val)], schema).coalesce(1)
        for val in ("0", "２")
    ]
    for bad in bads:
        with pytest.raises(ValueError, match="enum value"):
            scalar_kv_hashes(bad, ["e"], "h", **kw)
    for bad in bads:
        with pytest.raises(Exception, match="enum value"):
            spark_kv_hashes(bad, ["e"], "h", **kw)


def test_wide_decimal_contract_violation_raises():
    """ADVICE r8: _mydecimal_mat_digits used clip(0,9), silently
    mis-encoding any projection that violated the '<sign><p digits>'
    contract (e.g. a Spark build rendering wide decimals in
    scientific notation). Now a loud error."""
    import pandas as pd

    from tidb_lightning_release_4_0_spark.functions.kv_codec_np import (
        _mydecimal_mat_digits,
    )

    p, s = 20, 10
    good = pd.Series(["+" + "1234567890" * 2, "-" + "0" * 19 + "1"])
    valid = np.array([True, True])
    mat, lens = _mydecimal_mat_digits(good, valid, p, s)
    assert mat.shape[0] == 2 and (lens > 0).all()

    for bad in (
        "1E-38",            # scientific notation
        "+1.23",            # dot in the digit region
        "+123",             # too narrow (S-dtype zero pads)
        "+" + "1" * 25,     # too wide (sentinel byte catches it)
        "?" + "0" * p,      # bad sign char
    ):
        series = pd.Series(["+" + "0" * p, bad])
        with pytest.raises(ValueError, match="sign"):
            _mydecimal_mat_digits(series, valid, p, s)

    # NULL rows are exempt (their placeholder is the all-zero string)
    series = pd.Series(["+" + "0" * p, "1E-38"])
    mat, lens = _mydecimal_mat_digits(
        series, np.array([True, False]), p, s
    )
    assert lens[1] == 0


def test_json_batch_encoder_matches_scalar_and_caches(spark):
    """JSON columns now encode through the batch-amortized memoizing
    path — identical bytes vs the scalar oracle on repeated values
    (cache hits), distinct nested values, NULLs, and in key+value
    positions (a JSON column inside an index), both row formats."""
    schema = T.StructType([
        T.StructField("h", T.LongType()),
        T.StructField("j", T.StringType()),
    ])
    rows = [
        Row(h=1, j='{"a": 1}'),
        Row(h=2, j='{"a": 1}'),                  # repeat: cache hit
        Row(h=3, j='{"b": [1, 2.5, "x", null]}'),
        Row(h=4, j='{"zz": {"nested": true}, "a": "s"}'),
        Row(h=5, j="[]"),
        Row(h=6, j="3.5"),
        Row(h=7, j=None),
        Row(h=8, j='"just a string"'),
    ]
    df = spark.createDataFrame(rows, schema)
    mk = {"j": ("json",)}
    for ver in (1, 2):
        kw = dict(
            col_ids=[2], table_id=31, mysql_kinds=mk,
            indexes=[(1, ["j"], False)], row_format_version=ver,
        )
        got = spark_kv_hashes(df, ["j"], "h", **kw)
        assert got == scalar_kv_hashes(df, ["j"], "h", **kw), ver


def test_minhash_family_wraps_and_estimates_honestly(spark):
    """The r9 scale bench exposed the old minhash permutation family
    (2^59 prime, multipliers 2..14): a multiplier that small cannot
    wrap a below-P/14 base hash around the modulus, so one small-hash
    shingle stayed the argmin of EVERY signature position and any two
    docs sharing it read est_jaccard ~ 1.0 (measured: est 0.63 on
    true-0.18 pairs) — exploding LSH candidates superlinearly. The
    fixed family (2^30 prime, full-range Knuth multipliers) is pinned
    here: distinct wrapping multipliers, and est_jaccard within
    estimator noise of true Jaccard on a template-heavy corpus."""
    import re

    from pyspark.sql import Row

    from tidb_lightning_release_4_0_spark.operators.dedup import (
        _MH_PRIME,
        _mh_a,
        minhash_lsh_pairs,
    )

    a_vals = [_mh_a(i) for i in range(32)]
    assert len(set(a_vals)) == 32
    # full-range: every multiplier big enough to wrap any base hash
    assert all(a > (1 << 20) for a in a_vals)
    assert _MH_PRIME < (1 << 30)

    # template-heavy corpus: 40 docs sharing an 18-word template,
    # each with 60 unique filler words -> true pairwise J ~ 0.13
    tmpl = " ".join(f"common{w}" for w in range(18))
    rows = [
        Row(
            doc_id=i,
            text=tmpl + " " + " ".join(f"u{i}w{j}" for j in range(60)),
        )
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows)
    pairs = minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, threshold=0.0
    ).collect()

    def shingles(t):
        toks = re.sub(r"\s+", " ", t.lower().strip()).split(" ")
        return {" ".join(toks[i: i + 3]) for i in range(len(toks) - 2)}

    txt = {r["doc_id"]: r["text"] for r in rows}
    for r in pairs:
        a = shingles(txt[r["left_id"]])
        b = shingles(txt[r["right_id"]])
        true_j = len(a & b) / len(a | b)
        # 16-hash estimator noise is ~1/16 per position; the old
        # family read ~1.0 here — anything above 0.5 on these
        # J~0.13 pairs means the argmin-collapse is back
        assert r["est_jaccard"] <= true_j + 5 / 16, (r, true_j)


def test_time_four_fields_raises_in_both_kernels(spark):
    """'1:2:3:4' (four colon fields) raises in the scalar parser —
    the JVM expression must not silently drop the leading field."""
    schema = T.StructType([
        T.StructField("h", T.LongType()),
        T.StructField("t", T.StringType()),
    ])
    bad = spark.createDataFrame([Row(h=1, t="1:2:3:4")], schema).coalesce(1)
    kw = dict(col_ids=[2], table_id=29, mysql_kinds={"t": ("time",)})
    with pytest.raises(ValueError):
        scalar_kv_hashes(bad, ["t"], "h", **kw)
    with pytest.raises(Exception):
        spark_kv_hashes(bad, ["t"], "h", **kw)
