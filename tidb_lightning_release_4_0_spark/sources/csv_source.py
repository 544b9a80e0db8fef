"""S4: CSV source with MySQL LOAD DATA INFILE semantics.

The reference's CSV parser (lightning/mydump/csv_parser.go:13-152,
grammar csv_parser.rl:23-54) supports configurable separator /
delimiter / header / null sentinel (default ``\\N``) /
backslash-escape / trim-last-separator, quoted newlines and ``""``
escaping. Spark's native CSV reader covers this near-1:1
(SURVEY.md §2.1 S4) — it is splittable, vectorized and JVM-side, so
it *replaces* rather than ports the Ragel lexer; only
``trim-last-separator`` needs a post-fix.

All columns are read as strings; typing happens in the cast layer
(T3), mirroring the reference where every CSV field starts as a
string datum (csv_parser.go:62-76).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CSVConfig
from . import literal_paths


def read_csv(
    spark: SparkSession,
    paths: list[str] | str,
    cfg: CSVConfig,
    num_columns: int | None = None,
    column_names: list[str] | None = None,
) -> DataFrame:
    """Read CSV file(s) into an all-string DataFrame. Paths are
    literal: glob characters in them match themselves.

    Column naming: with ``cfg.header`` the file's header row names the
    columns (order only — never types, csv_parser.go:101-118);
    otherwise ``_c0.._cN`` positional names (or ``column_names``).

    Scale: the reader is splittable (quoted newlines force multiLine
    which disables intra-file splitting, same trade-off the reference
    makes by re-syncing rows at chunk boundaries); with many files,
    parallelism comes from the file list. Filters/pruning push into
    the scan via Catalyst.
    """
    cfg.validate()
    opts = cfg.spark_options()
    # Read ISO-8859-1: every byte maps 1:1 to a char, so BLOB columns
    # with raw bytes survive the reader (the reference's parser is
    # byte-oriented, csv_parser.rl). The cast layer re-decodes text
    # columns to the table charset.
    opts["encoding"] = "ISO-8859-1"
    reader = spark.read.options(**opts)
    # mydumper writes a trailing separator: the lexer DROPS the extra
    # field it produces (csv_parser.rl trim-last-sep), it does not
    # null out the real last column — so read n+1 columns and drop
    # the synthetic one. A legitimately-empty last value ('' vs NULL)
    # survives intact.
    extra = "_trailing_sep" if cfg.trim_last_sep else None
    if column_names:
        names = list(column_names) + ([extra] if extra else [])
        schema = T.StructType(
            [T.StructField(c, T.StringType(), True) for c in names]
        )
        df = reader.schema(schema).csv(literal_paths(paths))
    elif num_columns:
        n = num_columns + (1 if extra else 0)
        schema = T.StructType(
            [T.StructField(f"_c{i}", T.StringType(), True) for i in range(n)]
        )
        df = reader.schema(schema).csv(literal_paths(paths))
        if extra:
            extra = f"_c{num_columns}"
    else:
        # infer column COUNT only (types stay string); with a trailing
        # separator the inferred frame already carries the extra field
        # as its last column
        df = reader.option("inferSchema", "false").csv(literal_paths(paths))
        if cfg.trim_last_sep:
            extra = df.columns[-1]
    if extra:
        df = df.drop(extra)
    return df


# ---------------------------------------------------------------------------
# Native-typed fast path: clean rows parse inside the vectorized JVM
# CSV reader; malformed rows fall back to the MySQL cast layer.
# ---------------------------------------------------------------------------

# MySQL base types the JVM CSV parser can decode with semantics
# identical to the MySQL cast layer *for every token it accepts*.
# Anything the native parser rejects lands in the corrupt-record
# column and is re-parsed through mysql_cast, so the native set only
# needs "accepted => same value":
#  - signed ints: Long/Integer.parse accepts exactly the in-range
#    integral strings try_cast does; overflow / fractions / garbage
#    all become corrupt records.
#  - float/double: Double.parseDouble agrees with the numeric-prefix
#    parse on every finite value it accepts (NaN/Infinity/hex-float
#    literals cannot occur in a MySQL dump; documented deviation).
#  - date/datetime: explicit strict patterns; any other shape is a
#    corrupt record.
# Deliberately NOT native:
#  - decimal: Spark's locale-aware decimal parser accepts grouped
#    digits ("1,234") that MySQL parses as a prefix; keep the
#    string + mysql_cast path (its try_cast fast path is cheap).
#  - unsigned ints: values above the signed range parse natively but
#    MySQL clamps them differently.
#  - enum/set/bit/json/binary/year: always need the cast layer.
_NATIVE_INTS = {
    "tinyint", "smallint", "mediumint", "int", "integer", "bigint",
    "bool", "boolean",
}
_NATIVE_FLOATS = {"float", "double", "real", "double precision"}

_TS_FORMAT = "yyyy-MM-dd HH:mm:ss[.SSSSSS]"
_DATE_FORMAT = "yyyy-MM-dd"


def native_read_type(spec, strict: bool = False) -> T.DataType | None:
    """The JVM-parser type for a column, or None to read as string.

    Strict sql_mode keeps ints/dates native — every token the JVM
    parser rejects (fractions, overflow, invalid dates like
    2024-02-30, loose formats) lands in the corrupt record and
    re-parses through mysql_cast(strict=True), which raises exactly
    like the string path; tokens it accepts are value-identical.
    float/double are EXCLUDED under strict: Double.parseDouble
    accepts NaN/Infinity/hex-float/'5d' literals that strict MySQL
    must reject, and those parse natively without a trace. (Empty
    unquoted tokens are NOT a strict gap: univocity substitutes the
    null sentinel for them, so '' reads as NULL in the string path
    too; quoted '' fails the native parse and errors via the strict
    fallback.)"""
    t = spec.mysql_type
    if spec.unsigned:
        return None
    if t in _NATIVE_INTS:
        return spec.spark_type
    if t in _NATIVE_FLOATS:
        return None if strict else spec.spark_type
    if t == "date":
        return T.DateType()
    if t in ("datetime", "timestamp"):
        return T.TimestampType()
    return None


@dataclass
class NativeCsvFrame:
    """A typed CSV read plus what the caller needs for fallback.

    ``df`` columns: one per file column (native type or string), plus
    ``corrupt_col`` (the raw record text of rows the native parser
    could not fully decode; NULL for clean rows).
    """

    df: DataFrame
    corrupt_col: str
    native_cols: set[str]  # file columns parsed natively (not string)
    fallback_schema_ddl: str  # all-string schema for from_csv re-parse
    fallback_options: dict[str, str]
    parsed_col: str = "_corrupt_parsed"

    def raw_field(self, name: str) -> Column:
        """Project one file column out of the re-parsed corrupt
        record (NULL on clean rows). The from_csv struct is
        materialized ONCE as ``parsed_col`` by read_csv_native —
        referencing it per column does not re-embed the parse tree,
        so a table with N columns still parses the corrupt record a
        single time per row."""
        return F.col(self.parsed_col)[name]


def read_csv_native(
    spark: SparkSession,
    paths: list[str] | str,
    cfg: CSVConfig,
    column_specs: list,  # list[ColumnSpec] in FILE column order
    strict: bool = False,
) -> NativeCsvFrame:
    """S4 fast path: typed read with corrupt-record fallback.

    Design (the 100 TB path): the reference pays a per-byte Ragel
    state machine plus a per-datum cast for every row
    (csv_parser.rl, sql2kv.go:165-186). Here the vectorized JVM CSV
    reader parses straight into typed columns — clean rows never
    materialize field strings at all — and PERMISSIVE mode captures
    any row the strict native parse rejects into a corrupt-record
    column, which the caller re-parses through the exact MySQL cast
    layer. The per-row hot path stays inside whole-stage codegen
    with small, JIT-friendly methods.

    Preconditions (enforced by the caller): headerless files, lenient
    sql_mode, csv.null != '' and not csv.not_null. Documented
    deviations: an empty-string token in a native numeric/date column
    yields NULL (MySQL lenient: 0); NaN/Infinity/hex-float literals
    in double columns parse to their Java values (impossible in a
    MySQL dump).
    """
    cfg.validate()
    opts = cfg.spark_options()
    opts["encoding"] = "ISO-8859-1"  # byte-faithful, as read_csv
    opts["timestampFormat"] = _TS_FORMAT
    opts["dateFormat"] = _DATE_FORMAT
    corrupt = "_corrupt_record"
    opts["columnNameOfCorruptRecord"] = corrupt

    fields = []
    native_cols: set[str] = set()
    for spec in column_specs:
        nt = native_read_type(spec, strict)
        if nt is not None:
            native_cols.add(spec.name)
        fields.append(T.StructField(spec.name, nt or T.StringType(), True))
    if cfg.trim_last_sep:
        # mydumper's trailing separator produces one synthetic empty
        # field per row; read it and drop it (csv_parser.rl
        # trim-last-sep drops a FIELD, not a value)
        fields.append(T.StructField("_trailing_sep", T.StringType(), True))
    fields.append(T.StructField(corrupt, T.StringType(), True))
    schema = T.StructType(fields)

    df = spark.read.options(**opts).schema(schema).csv(literal_paths(paths))
    if cfg.trim_last_sep:
        df = df.drop("_trailing_sep")

    # from_csv fallback: same dialect, all-string fields
    fb_names = [s.name for s in column_specs] + (
        ["_trailing_sep"] if cfg.trim_last_sep else []
    )
    ddl = ", ".join(
        "`%s` STRING" % n.replace("`", "``") for n in fb_names
    )
    fb_opts = {
        k: v
        for k, v in opts.items()
        if k in ("sep", "quote", "escape", "nullValue", "emptyValue")
    }
    # materialize the corrupt-record re-parse ONCE per row: every
    # raw_field() projection references this struct column instead of
    # embedding its own from_csv tree (N columns would otherwise mean
    # N full re-parse+cast trees in the projection — the same
    # codegen-size blowup the cast layer works to avoid)
    df = df.withColumn(
        "_corrupt_parsed",
        F.when(
            F.col(corrupt).isNotNull(),
            F.from_csv(F.col(corrupt), ddl, fb_opts),
        ),
    )
    return NativeCsvFrame(
        df=df,
        corrupt_col=corrupt,
        native_cols=native_cols,
        fallback_schema_ddl=ddl,
        fallback_options=fb_opts,
    )
