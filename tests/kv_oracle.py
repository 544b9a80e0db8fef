"""Driver-side scalar oracle for ``kv_hash_columns``.

``scalar_kv_hashes`` collects the rows to the Spark driver, encodes each
with the scalar ``encode_table_kvs`` and hashes every pair with
``crc64_bytes`` — no pandas, no Arrow, nothing from kv_codec_np.
Timestamps cross as ``unix_micros`` longs, so the result does not
depend on the Python process's timezone. ``spark_kv_hashes`` runs the
vectorized kernel inside Spark; both return ``{handle: (h, n)}`` with
``h`` the signed-int64 XOR of the row's pair CRCs and ``n`` their
total byte length, so a test compares them with ``==``.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from tidb_lightning_release_4_0_spark.functions.hashing import crc64_bytes
from tidb_lightning_release_4_0_spark.functions.kv_codec import (
    DecimalDatum,
    Uint64Datum,
    encode_table_kvs,
    kv_hash_columns,
    mysql_kind_wrapper,
)

_EPOCH = dt.datetime(1970, 1, 1)
_TIMESTAMPS = ("timestamp", "timestamp_ntz")
_AS_COLLECTED = (
    "byte", "short", "integer", "long", "float", "double", "string",
    "date",
)


def _coercer(dtype):
    """Collected Spark value -> the datum the scalar encoder takes,
    keyed by the Spark column type."""
    name = dtype.typeName()
    if name in _AS_COLLECTED:
        return lambda v: v
    if name in _TIMESTAMPS:
        return lambda v: _EPOCH + dt.timedelta(microseconds=v)
    if name == "boolean":
        return int
    if name == "binary":
        return bytes
    if name == "decimal":
        p, s = dtype.precision, dtype.scale
        return lambda v: DecimalDatum(v, p, s)
    raise NotImplementedError(f"kv oracle: unsupported Spark type {name}")


def _index_positions(indexes, cols, handle_col):
    """kv_hash_columns' (name | (name, prefix_len)) index entries ->
    encode_table_kvs' positions (-1 = the handle)."""
    pos_of = {c: i for i, c in enumerate(cols)}
    specs = []
    for iid, icols, unique in indexes or ():
        poss = []
        for c in icols:
            plen = None
            if isinstance(c, tuple):
                c, plen = c
            p = -1 if c == handle_col else pos_of[c]
            poss.append(p if plen is None else (p, plen))
        specs.append((iid, poss, bool(unique)))
    return specs


def scalar_kv_hashes(
    df,
    cols,
    handle_col,
    col_ids=None,
    table_id=1,
    row_format_version=1,
    default_null_ids=None,
    indexes=None,
    uint64_cols=None,
    mysql_kinds=None,
):
    """The scalar encoder's ``{handle: (h, n)}`` for ``df``, taking
    the same keyword arguments as ``kv_hash_columns``. Bad values
    (an unknown ENUM member, a malformed TIME) raise here, in the
    Spark driver."""
    if col_ids is None:
        col_ids = list(range(1, len(cols) + 1))
    if default_null_ids is not None:
        default_null_ids = frozenset(default_null_ids)
    uint64_cols = frozenset(uint64_cols or ())
    mysql_kinds = mysql_kinds or {}
    dtypes = [df.schema[c].dataType for c in cols]
    coercers = [
        mysql_kind_wrapper(mysql_kinds[c])
        if c in mysql_kinds
        else Uint64Datum
        if c in uint64_cols
        else _coercer(t)
        for c, t in zip(cols, dtypes)
    ]
    idx_specs = _index_positions(indexes, cols, handle_col)
    proj = [F.col(handle_col).alias("__h")] + [
        (
            F.unix_micros(F.col(c).cast("timestamp"))
            if t.typeName() in _TIMESTAMPS
            else F.col(c)
        ).alias(f"__v_{i}")
        for i, (c, t) in enumerate(zip(cols, dtypes))
    ]
    out = {}
    for row in df.select(*proj).collect():
        handle = row[0]
        vals = [
            None if v is None else coerce(v)
            for v, coerce in zip(row[1:], coercers)
        ]
        crc, n = 0, 0
        for k, v in encode_table_kvs(
            table_id, handle, col_ids, vals, row_format_version,
            default_null_ids, idx_specs,
        ):
            crc ^= crc64_bytes(k + v)
            n += len(k) + len(v)
        # Spark's LongType carries the uint64 CRC as its int64 view
        out[handle] = (crc - (1 << 64) if crc >= (1 << 63) else crc, n)
    return out


def spark_kv_hashes(df, cols, handle_col, **kwargs):
    """``kv_hash_columns``' ``{handle: (h, n)}`` for ``df``, computed
    by the vectorized kernel inside Spark."""
    pair = kv_hash_columns(df, cols, handle_col, **kwargs)
    rows = df.select(
        F.col(handle_col).alias("__h"), pair.alias("__p")
    ).collect()
    return {r["__h"]: (r["__p"]["h"], r["__p"]["n"]) for r in rows}
