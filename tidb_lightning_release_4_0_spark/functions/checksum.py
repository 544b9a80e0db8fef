"""KV-checksum aggregate (reference operator C1/C2/C3).

The reference checksums every encoded KV pair with crc64-ecma and
combines per-record CRCs with XOR (order-independent), alongside
SUM(len) and COUNT(*) — lightning/verification/checksum.go:25-93. The
XOR monoid makes it embarrassingly parallel: Spark computes it as a
partial+final hash aggregate with map-side combine, zero extra
shuffle beyond the single 1-row agg exchange.

The restore path's ``kv_crc64`` modes reproduce TiKV's physical KV
encoding byte for byte (functions/kv_codec.py). This module checksums
a canonical per-row string instead (stable, engine-portable
formatting), for registry queries and the streaming restore. Two hash
backends:

- ``checksum(df, algo="hash60")`` — JVM-side md5-prefix hash, ANSI
  oracle-expressible, the 100 TB path (whole-stage codegen, no
  Python).
- ``checksum(df, algo="crc64")`` — bit-exact CRC-64/XZ like the
  reference, via the Arrow pandas-UDF kernel (parity path).

Verification (C2/C3): ``verify_checksum`` recomputes the aggregate by
re-reading the sink (the analog of ADMIN CHECKSUM TABLE,
lightning/restore/restore.go:1458-1503) and compares.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .hashing import crc64, hash60, hash60_duckdb

NULL_SENTINEL = "\\N"
FIELD_SEP = "\x1f"  # unit separator: cannot occur in testdata text columns


def _canon_col(name: str, dtype: T.DataType) -> Column:
    """Engine-portable canonical string for one column.

    Formatting rules (must be mirrored in canonical_duckdb_sql):
    - NULL -> "\\N" (the mydumper null sentinel, csv_parser.go:50-76)
    - float/double -> printf '%.6f' (raw casts differ between engines)
    - binary -> uppercase hex
    - everything else -> plain string cast (verified stable for
      int/bigint/decimal/string/timestamp under UTC session tz)
    """
    c = F.col(name)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        s = F.format_string("%.6f", c.cast("double"))
    elif isinstance(dtype, T.BinaryType):
        s = F.upper(F.hex(c))
    elif isinstance(dtype, T.ArrayType):
        s = F.concat_ws(
            ",",
            F.transform(c, lambda x: F.format_string("%.6f", x.cast("double"))),
        )
    else:
        s = c.cast("string")
    return F.coalesce(s, F.lit(NULL_SENTINEL))


def canonical_row(df: DataFrame, cols: list[str] | None = None) -> Column:
    """One canonical string per row: fields joined by 0x1F."""
    names = cols or df.columns
    dtypes = dict((f.name, f.dataType) for f in df.schema.fields)
    return F.concat_ws(FIELD_SEP, *[_canon_col(n, dtypes[n]) for n in names])


def canonical_duckdb_expr(name: str, duck_type: str) -> str:
    """DuckDB fragment mirroring _canon_col for a column of given type."""
    t = duck_type.upper()
    if t in ("DOUBLE", "FLOAT", "REAL"):
        s = f"printf('%.6f', cast({name} as double))"
    elif t == "BLOB":
        s = f"upper(hex({name}))"
    elif t.endswith("[]"):
        s = (
            f"array_to_string(list_transform({name}, "
            f"x -> printf('%.6f', cast(x as double))), ',')"
        )
    else:
        s = f"cast({name} as varchar)"
    return f"coalesce({s}, '\\N')"


def canonical_duckdb_row(cols: list[tuple[str, str]]) -> str:
    """DuckDB fragment for the full canonical row ((name, duck_type) list)."""
    parts = [canonical_duckdb_expr(n, t) for n, t in cols]
    return "concat_ws(chr(31), " + ", ".join(parts) + ")"


@dataclass(frozen=True)
class Checksum:
    """The (crc ^ ... ^ crc, total_bytes, total_kvs) triple.

    Mirrors verification.KVChecksum{checksum, bytes, kvs}
    (checksum.go:25-31); Add() is XOR/+/+ (checksum.go:77-86). A
    ``total_bytes`` of -1 is the xxdirect "bytes not tracked" sentinel
    and stays -1 under ``add``.
    """

    crc_xor: int
    total_bytes: int
    total_kvs: int

    def add(self, other: "Checksum") -> "Checksum":
        untracked = self.total_bytes < 0 or other.total_bytes < 0
        return Checksum(
            self.crc_xor ^ other.crc_xor,
            -1 if untracked else self.total_bytes + other.total_bytes,
            self.total_kvs + other.total_kvs,
        )

    def verify(self, remote: "Checksum") -> None:
        """C3: raise ValueError when the sink's ``remote`` triple
        differs from this local one, like restore.go:1430-1448."""
        if remote != self:
            raise ValueError(
                f"checksum mismatched remote vs local => "
                f"(checksum: {remote.crc_xor} vs {self.crc_xor}) "
                f"(total_kvs: {remote.total_kvs} vs {self.total_kvs}) "
                f"(total_bytes: {remote.total_bytes} vs {self.total_bytes})"
            )


def checksum_df(
    df: DataFrame, cols: list[str] | None = None, algo: str = "hash60"
) -> DataFrame:
    """1-row DataFrame (crc_xor, total_bytes, total_kvs).

    Physical plan: project (codegen) -> partial HashAggregate ->
    single-partition exchange of 3 longs -> final HashAggregate.
    At 100 TB this is scan-bound; the shuffle moves O(partitions) rows.
    """
    canon = canonical_row(df, cols)
    hash_fn = {"hash60": hash60, "crc64": crc64}[algo]
    return (
        df.select(canon.alias("_canon"), F.length(canon).alias("_len"))
        .select(hash_fn(F.col("_canon")).alias("_h"), F.col("_len"))
        .agg(
            F.expr("bit_xor(_h)").alias("crc_xor"),
            F.sum("_len").cast("long").alias("total_bytes"),
            F.count(F.lit(1)).alias("total_kvs"),
        )
    )


def checksum(df: DataFrame, cols: list[str] | None = None, algo: str = "hash60") -> Checksum:
    row = checksum_df(df, cols, algo).collect()[0]
    return Checksum(row["crc_xor"], row["total_bytes"], row["total_kvs"])


def checksum_oracle_sql(
    table: str,
    cols: list[tuple[str, str]],
    algo: str = "hash60",
    where: str = "",
) -> str:
    """ANSI/DuckDB SQL computing the identical checksum triple.
    ``algo="crc64"`` uses the pure-SQL CRC-64/XZ twin
    (hashing.crc64_duckdb), byte-identical with the Arrow kernel, so
    even the reference-polynomial mode is hash-checkable."""
    canon = canonical_duckdb_row(cols)
    if algo == "crc64":
        from .hashing import crc64_duckdb

        h = crc64_duckdb("c._canon")
    else:
        h = hash60_duckdb("c._canon")
    pred = f" WHERE {where}" if where else ""
    return (
        f"SELECT bit_xor({h}) AS crc_xor, "
        f"sum(length(c._canon))::BIGINT AS total_bytes, "
        f"count(*) AS total_kvs "
        f"FROM (SELECT {canon} AS _canon FROM {table}{pred}) c"
    )


def verify_checksum(
    local: Checksum, sink_df: DataFrame, cols: list[str] | None = None,
    algo: str = "hash60",
) -> None:
    """C3: compare the in-flight checksum with a sink re-scan
    (Checksum.verify raises on mismatch)."""
    local.verify(checksum(sink_df, cols, algo))
