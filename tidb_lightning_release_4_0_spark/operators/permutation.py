"""F3 column permutation + T4 default fill + T5 auto-increment.

The reference maps file column order to table column order, marking
missing columns with -1 to be filled from defaults
(initializeColumns, lightning/restore/restore.go:1356-1406), fills
defaults during encode (sql2kv.go:177 — including CURRENT_TIMESTAMP
frozen per job via the session ``Timestamp`` var, session.go:107),
and synthesizes missing auto-increment / hidden ``_tidb_rowid``
columns from the deterministic row-id (sql2kv.go:167-200).

Spark-first: all of this is a single ``select`` projection —
reorder + ``lit(default)`` + row-id column — fully inside codegen.
"""

from __future__ import annotations

import datetime as _dt
import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.schema_reader import ColumnSpec, TableSchema
from .cast import mysql_cast

ROWID_COL = "_tidb_rowid"

# Per-session store of finished plan fragments: apply_permutation's
# projection memo, rowid's per-file bases frames and the restore's
# kv_crc64 pair Columns.
_PLAN_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def session_plan_cache(spark) -> dict | None:
    """The session-lifetime plan memo: callers key finished plan
    fragments (Column trees or small DataFrames) on every input that
    shapes them. Both are immutable plan handles, so reuse is safe.
    None when the session is not weak-referenceable (mocks)."""
    try:
        return _PLAN_MEMO.setdefault(spark, {})
    except TypeError:
        return None


def column_permutation(
    file_columns: list[str] | None, schema: TableSchema
) -> list[int]:
    """Index of each table column within the file columns; -1 = missing.

    ``file_columns=None`` means headerless data in table order
    (restore.go:1366-1371: identity permutation).
    """
    if file_columns is None:
        n = len(schema.columns)
        return list(range(n))
    lower = [c.lower() for c in file_columns]
    perm = []
    for col in schema.columns:
        try:
            perm.append(lower.index(col.name.lower()))
        except ValueError:
            perm.append(-1)  # fill from default (restore.go:1390-1398)
    return perm


def default_column(
    spec: ColumnSpec, job_timestamp: _dt.datetime | None = None
) -> Column:
    """T4: the default-fill expression for a missing column."""
    if spec.default_current_ts:
        # frozen per job, like the session Timestamp var (session.go:107)
        ts = job_timestamp or _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        return F.lit(ts).cast(spec.spark_type)
    if spec.has_default:
        return F.lit(spec.default).cast(spec.spark_type)
    if spec.nullable:
        return F.lit(None).cast(spec.spark_type)
    # NOT NULL without default: zero value (lenient) — bad-null-as-warning
    zero = {"string": ""}.get(spec.spark_type.simpleString(), 0)
    return F.lit(zero).cast(spec.spark_type)


def _typed_cast(src: Column, spec: ColumnSpec, strict: bool) -> Column:
    """A typed source value into the DDL type: ``try_cast`` null-fills
    where lenient MySQL coerces (a plain ANSI cast would throw even
    when lenient); strict sql_mode rejects the null-fill."""
    casted = src.try_cast(spec.spark_type)
    if not strict:
        return casted
    return F.when(
        src.isNotNull() & casted.isNull(),
        F.raise_error(
            F.lit(f"strict sql_mode: value not valid for column {spec.name!r}")
        ).cast(spec.spark_type),
    ).otherwise(casted)


def apply_permutation(
    df: DataFrame,
    schema: TableSchema,
    file_columns: list[str] | None,
    rowid: Column | None = None,
    job_timestamp: _dt.datetime | None = None,
    strict: bool = False,
    keep: list[str] | None = None,
    source_latin1: bool = False,
    charset: str = "utf8mb4",
    native_frame=None,  # NativeCsvFrame from read_csv_native
    missing_sentinel: str | None = None,
) -> DataFrame:
    """Project file columns into the table schema.

    - reorders file columns to table order
    - fills missing columns from defaults / auto-increment (using the
      deterministic ``rowid`` column, T5)
    - applies the MySQL cast layer per string column (T3); a typed
      column (a parquet source) casts directly: ``try_cast`` null-fills
      like lenient MySQL coerces, and under strict sql_mode a value
      the cast nulls raises
    - honors an explicit ``_tidb_rowid`` file column (restore.go:1381-1388)

    With ``native_frame`` (the typed CSV fast path,
    csv_source.read_csv_native): natively-typed columns pass through
    untouched on clean rows; rows the native parser rejected carry
    the raw record in the corrupt column and have EVERY field
    re-derived from it through mysql_cast — the hot path stays a
    column reference, the MySQL semantics live in the rarely-taken
    branch.

    The WHOLE projection (out + extra Column lists) is memoized per
    session (session_plan_cache): unresolved Columns are
    plan-independent, and building the mysql_cast trees plus the
    when/default/auto-inc scaffolding costs hundreds of py4j round
    trips per call — paid once per distinct (schema, flags,
    rowid-tree) instead of once per engine batch per run. Every input
    that shapes the projection is in the key; the source column types
    (which pick the typed branch), rowid and native-frame inputs enter
    via their names/SQL reprs/fingerprints.
    """
    cache = session_plan_cache(df.sparkSession)
    dtypes = tuple(df.dtypes)
    nf_key = (
        (
            native_frame.corrupt_col,
            native_frame.parsed_col,
            frozenset(native_frame.native_cols),
            native_frame.fallback_schema_ddl,
            tuple(sorted(native_frame.fallback_options.items())),
        )
        if native_frame is not None
        else None
    )
    memo_key = (
        "projection",
        tuple(repr(c) for c in schema.columns),
        schema.has_int_pk,
        tuple(schema.primary_key or ()),
        tuple(file_columns) if file_columns is not None else None,
        dtypes,
        strict,
        source_latin1,
        charset,
        missing_sentinel,
        repr(rowid) if rowid is not None else None,
        nf_key,
        (
            job_timestamp
            if any(c.default_current_ts for c in schema.columns)
            else None
        ),
        tuple(keep or ()),
    )
    cached = cache.get(memo_key) if cache is not None else None
    if cached is not None:
        try:
            return df.select(*cached[0], *cached[1])
        except Exception:
            # a caller passed plan-BOUND columns (df["x"]) whose
            # cached attributes can't resolve against this frame:
            # rebuild (callers on the hot path pass unbound F.col
            # references, which always resolve)
            pass

    perm = column_permutation(file_columns, schema)
    # names of the df columns holding file fields, in file order
    field_names = (
        file_columns
        if file_columns is not None
        else [c for c in df.columns if c not in (ROWID_COL, "_row_id")]
    )
    types = dict(dtypes)
    corrupt = (
        F.col(native_frame.corrupt_col) if native_frame is not None else None
    )
    out: list[Column] = []
    for spec, idx in zip(schema.columns, perm):
        if 0 <= idx < len(field_names):
            fname = field_names[idx]
            src = F.col(fname)
            if native_frame is not None and fname in native_frame.native_cols:
                # typed by the JVM reader; mysql_cast only on rows the
                # native parse rejected (re-parsed from the raw record)
                fb = mysql_cast(
                    native_frame.raw_field(fname),
                    spec,
                    strict,
                    source_latin1,
                    charset,
                ).cast(spec.spark_type)
                expr = F.when(corrupt.isNull(), src.cast(spec.spark_type)).otherwise(fb)
                # auto-inc NULL check must see the *raw* token on corrupt
                # rows: a value MySQL would parse ('5.0', ' 5') reads as
                # NULL in the typed field, and treating it as NULL would
                # silently assign a fresh rowid instead of the cast value.
                # Both branches string-typed: mixing the typed column
                # with the raw token would coerce the token to the
                # numeric type and throw on exactly the rows this
                # branch exists for.
                src = F.when(corrupt.isNull(), src.cast("string")).otherwise(
                    native_frame.raw_field(fname)
                )
            elif types.get(fname, "string") != "string":
                expr = _typed_cast(src, spec, strict)
                src = expr  # a failed cast allocates an auto-inc id
            elif native_frame is not None:
                # string-read column: cast layer always applies, but a
                # corrupt row's PERMISSIVE field values are not
                # trusted — take them from the raw record instead
                raw_src = F.when(corrupt.isNull(), src).otherwise(
                    native_frame.raw_field(fname)
                )
                expr = mysql_cast(
                    raw_src, spec, strict, source_latin1, charset
                )
                src = raw_src  # for the auto-inc NULL check below
            else:
                expr = mysql_cast(src, spec, strict, source_latin1, charset)
            if missing_sentinel is not None:
                # a SHORT VALUES tuple marks absent positions with the
                # sentinel: fill the column default, exactly as if the
                # column were missing from the permutation
                # (restore.go:1356-1406); explicit NULL stays NULL
                expr = F.when(
                    src == F.lit(missing_sentinel),
                    default_column(spec, job_timestamp),
                ).otherwise(expr)
            if spec.auto_increment and rowid is not None:
                # MySQL assigns the next auto-inc value for NULL too;
                # non-null values keep full cast (strict) semantics.
                # An absent position behaves like NULL here: VALUES ()
                # on an auto-inc column allocates the next id
                null_like = src.isNull()
                if missing_sentinel is not None:
                    null_like = null_like | (
                        src == F.lit(missing_sentinel)
                    )
                expr = F.when(
                    null_like, rowid.cast(spec.spark_type)
                ).otherwise(expr)
        elif spec.auto_increment and rowid is not None:
            expr = rowid.cast(spec.spark_type)
        else:
            expr = default_column(spec, job_timestamp)
        out.append(expr.alias(spec.name))

    # hidden _tidb_rowid for tables without an integer PK (T5)
    extra: list[Column] = []
    if not schema.has_int_pk and rowid is not None:
        if file_columns and ROWID_COL in [c.lower() for c in file_columns]:
            idx = [c.lower() for c in file_columns].index(ROWID_COL)
            extra.append(F.col(field_names[idx]).cast("long").alias(ROWID_COL))
        else:
            extra.append(rowid.cast("long").alias(ROWID_COL))
    for k in keep or []:
        extra.append(F.col(k))
    if cache is not None:
        cache[memo_key] = (out, extra)
    return df.select(*out, *extra)


def alloc_base(df: DataFrame, schema: TableSchema) -> int:
    """C4: the post-load AUTO_INCREMENT rebase value = max(id)+1.

    Mirrors the CAS allocator rebase (lightning/backend/allocator.go:40-52,
    restore.go:1005-1014) as a single max() aggregate.
    """
    candidates = [c for c in (schema.auto_increment_column, ROWID_COL) if c]
    cols = [c for c in candidates if c in df.columns]
    if not cols:
        pk = schema.primary_key
        cols = [pk[0]] if pk and schema.has_int_pk else []
    if not cols:
        return 1
    row = df.agg(F.max(F.col(cols[0]).cast("long")).alias("m")).collect()[0]
    return (row["m"] or 0) + 1
