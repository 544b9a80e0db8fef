"""Round-10 fixes: the vectorized scalar-JSON fast path (VERDICT r9
missing #3), kept byte-identical to the scalar oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from tidb_lightning_release_4_0_spark.functions import kv_codec as KC
from tidb_lightning_release_4_0_spark.functions import kv_codec_np as NP


def _scalar_json_texts():
    """Valid JSON texts spanning every tier-1 class AND its boundary
    with tier 2 (escaped strings, 19+-digit ints, nested values)."""
    ints = st.integers(-(10**22), 10**22).map(str)
    floats = st.one_of(
        st.floats(allow_nan=False, allow_infinity=False).map(repr),
        st.integers(-999, 999).map(lambda i: f"{i}e{i % 7}"),
        st.integers(0, 10**6).map(lambda i: f"0.{i}"),
    )
    strings = st.text(max_size=20).map(
        lambda t: __import__("json").dumps(t)
    )
    literals = st.sampled_from(["null", "true", "false"])
    nested = st.sampled_from(
        ['[1, "a", null]', '{"k": 2.5, "a": [true]}', "[]", "{}"]
    )
    ws = st.sampled_from(["", " ", "\t", "\n"])
    body = st.one_of(ints, floats, strings, literals, nested)
    return st.tuples(ws, body, ws).map(lambda t: t[0] + t[1] + t[2])


@settings(max_examples=200, deadline=None)
@given(st.lists(_scalar_json_texts(), min_size=1, max_size=40))
def test_json_fast_path_matches_scalar_oracle(texts):
    """_json_frag's vectorized tier (literals / int64 / float64 /
    escape-free strings) and its tier-2 fallback produce EXACTLY the
    scalar json_datum_bytes bytes for every valid JSON text — the
    fast path may only reclassify, never re-encode differently."""
    vals = np.array(texts + [None], dtype=object)
    mask = np.array([False] * len(texts) + [True])
    for with_flag, pre in ((True, b"\x0a"), (False, b"")):
        mat, lens = NP._json_frag(pd.Series(vals), mask, with_flag)
        for i, t in enumerate(texts):
            want = pre + KC.json_datum_bytes(t)
            got = bytes(mat[i, : lens[i]])
            assert got == want, (t, got.hex(), want.hex())
        assert lens[len(texts)] == 0


def test_json_fast_path_boundary_ints_route_to_parser():
    """19/20-digit ints straddle int64/uint64/float64: the fast path
    must defer to the parser and still match the oracle."""
    texts = [
        "999999999999999999",        # 18 digits: tier-1 int64
        "-999999999999999999",
        "9223372036854775807",       # int64 max (19 digits: tier 2)
        "-9223372036854775808",
        "9223372036854775808",       # first uint64
        "18446744073709551615",      # uint64 max
        "18446744073709551616",      # -> float64
        "9" * 400,                   # -> inf float64
    ]
    vals = np.array(texts, dtype=object)
    mat, lens = NP._json_frag(
        pd.Series(vals), np.zeros(len(texts), bool), True
    )
    for i, t in enumerate(texts):
        assert bytes(mat[i, : lens[i]]) == b"\x0a" + KC.json_datum_bytes(t)


def test_bmp_header_parse_rejects_nonstandard_headers(spark):
    """ADVICE r9 #3: parse_image_header_meta must RAISE on a top-down
    BMP (negative biHeight) or a BITMAPCOREHEADER file instead of
    silently composing garbage dims from two's-complement bytes —
    and keep parsing well-formed bottom-up BITMAPINFOHEADER BMPs."""
    import struct

    import pytest

    from tidb_lightning_release_4_0_spark.operators.multimodal import (
        encode_bmp_rgb,
        parse_image_header_meta,
    )

    good = encode_bmp_rgb(np.zeros((3, 5, 3), np.uint8))
    topdown = bytearray(good)
    struct.pack_into("<i", topdown, 22, -3)  # biHeight = -3
    corehdr = bytearray(good)
    struct.pack_into("<I", corehdr, 14, 12)  # biSize = BITMAPCOREHEADER

    ok = spark.createDataFrame(
        [(1, bytes(good))], "id long, payload binary"
    )
    row = parse_image_header_meta(ok).first()
    assert (row["mime"], row["width"], row["height"]) == ("image/bmp", 5, 3)
    for bad in (topdown, corehdr):
        df = spark.createDataFrame(
            [(1, bytes(bad))], "id long, payload binary"
        )
        with pytest.raises(Exception, match="unsupported BMP"):
            parse_image_header_meta(df).collect()


def test_time_two_field_is_hours_minutes(spark):
    """ADVICE r9 #1: '11:12' is HH:MM (MySQL/TiDB ParseDuration), in
    the vectorized KV kernel and the scalar oracle — the twins must
    move together."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from tests.kv_oracle import scalar_kv_hashes, spark_kv_hashes
    from tidb_lightning_release_4_0_spark.functions.kv_codec import (
        parse_duration_ns,
    )

    assert parse_duration_ns("11:12") == (11 * 3600 + 12 * 60) * 10**9

    schema = T.StructType(
        [T.StructField("h", T.LongType()), T.StructField("t", T.StringType())]
    )
    # '11:12' and '11:12:00' must hash IDENTICALLY; '00:11:12' must not
    pairs = {}
    for tag, text in (
        ("two", "11:12"), ("three", "11:12:00"), ("mmss", "00:11:12")
    ):
        df = spark.createDataFrame([Row(h=1, t=text)], schema)
        kw = dict(col_ids=[2], table_id=29, mysql_kinds={"t": ("time",)})
        got = spark_kv_hashes(df, ["t"], "h", **kw)
        assert got == scalar_kv_hashes(df, ["t"], "h", **kw), tag
        pairs[tag] = got[1]
    assert pairs["two"] == pairs["three"]
    assert pairs["two"] != pairs["mmss"]


def test_json_fast_path_rejects_only_what_parser_rejects():
    """Malformed cells must keep raising from json.loads — the strict
    tier-1 grammar may not silently accept them."""
    import pytest

    for bad in ("01", "+1", "1.", ".5", "'x'", '"a', "tru", "nul "):
        vals = np.array([bad], dtype=object)
        with pytest.raises(Exception):
            NP._json_frag(pd.Series(vals), np.zeros(1, bool), True)
