"""Strict MySQL-semantics CSV parser (the fidelity path).

Spark's native CSV reader covers the common mydumper dialect fast
(S4), but its escape handling is RFC-4180-flavored: ``\\X`` sequences
other than ``\\\\``/``\\"`` pass through half-processed, which
breaks exotic fixtures (tests/csv/run.sh:19-33). This module is a
faithful port of the reference's LOAD DATA semantics
(lightning/mydump/csv_parser.rl:23-54, csv_parser.go:50-89):

- separator / delimiter(quote) / header / null sentinel config
- backslash escapes everywhere: ``\\0 \\b \\n \\r \\t \\Z`` map to
  control chars, any other ``\\X`` -> ``X``
- doubled quotes inside quoted fields -> literal quote
- quoted fields may span newlines
- the null sentinel matches the RAW (pre-unescape) unquoted field
- trim-last-separator support

Executed like the .sql reader: one task per file via mapInPandas over
a plan-time file list (byte-faithful: bytes decode latin-1 so blobs
survive). This is the slow path by design — engaged via
``CSVConfig.strict_parser`` when a dump needs exact escape fidelity;
the Spark-native reader remains the 100 TB default.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..config import CSVConfig
from ..operators.rowid import file_row_bases, metadata_df
from ..session import settle_import_caches
from .sql_dump_source import positional_frame, positional_schema

_ESCAPES = {
    "0": "\0", "b": "\b", "n": "\n", "r": "\r", "t": "\t", "Z": "\x1a",
}


def parse_csv_text(
    text: str, cfg: CSVConfig
) -> Iterator[list[str | None]]:
    """Yield rows of (possibly None) field strings."""
    sep = cfg.separator
    quote = cfg.delimiter or ""
    esc = "\\" if cfg.backslash_escape else ""
    null_raw = None if cfg.not_null else cfg.null

    i, n = 0, len(text)
    row: list[str | None] = []
    field: list[str] = []
    raw_field: list[str] = []
    quoted = False

    def end_field() -> None:
        nonlocal field, raw_field, quoted
        raw = "".join(raw_field)
        val = "".join(field)
        if not quoted and null_raw is not None and raw == null_raw:
            row.append(None)
        else:
            row.append(val)
        field, raw_field, quoted = [], [], False

    def end_row() -> Iterator[list[str | None]]:
        nonlocal row
        end_field()
        out = row
        row = []
        if cfg.trim_last_sep and out and out[-1] == "":
            out = out[:-1]
        yield out

    while i < n:
        ch = text[i]
        if quote and ch == quote and not field and not raw_field and not quoted:
            quoted = True
            in_q = True
            i += 1
            # consume quoted section
            while i < n:
                c = text[i]
                if esc and c == esc and i + 1 < n:
                    nxt = text[i + 1]
                    field.append(_ESCAPES.get(nxt, nxt))
                    raw_field.append(c + nxt)
                    i += 2
                    continue
                if c == quote:
                    if i + 1 < n and text[i + 1] == quote:
                        field.append(quote)
                        raw_field.append(quote + quote)
                        i += 2
                        continue
                    i += 1
                    break
                field.append(c)
                raw_field.append(c)
                i += 1
            continue
        if esc and ch == esc and i + 1 < n and not quoted:
            nxt = text[i + 1]
            field.append(_ESCAPES.get(nxt, nxt))
            raw_field.append(ch + nxt)
            i += 2
            continue
        if ch == sep:
            end_field()
            i += 1
            continue
        if ch == "\n" or ch == "\r":
            # \r\n counts once; skip bare trailing newlines
            if field or raw_field or row or quoted:
                yield from end_row()
            if ch == "\r" and i + 1 < n and text[i + 1] == "\n":
                i += 2
            else:
                i += 1
            continue
        field.append(ch)
        raw_field.append(ch)
        i += 1
    if field or raw_field or row or quoted:
        yield from end_row()


def read_csv_strict(
    spark: SparkSession,
    files: list[tuple[str, int]],
    cfg: CSVConfig,
    num_columns: int,
) -> tuple[DataFrame, list[str] | None]:
    """Parse CSV files with exact MySQL semantics.

    Returns (df of ``_row_id`` plus one string column per file
    column, ``_c0..``, header_columns_or_None). The width is the
    header's, or ``num_columns`` without one; short rows pad with
    MISSING_FIELD (LOAD DATA fills defaults for missing trailing
    fields) and long rows are cut, as in the .sql reader's columnar
    shape. Row-id bases are reserved per file like the .sql reader.
    """
    bases = file_row_bases(files, num_columns, is_sql=False)

    header_cols: list[str] | None = None
    if cfg.header and files:
        with open(files[0][0], "rb") as f:
            head_text = f.read(1 << 20).decode("latin-1")
        first = next(parse_csv_text(head_text, cfg), None)
        header_cols = [c if c is not None else "" for c in (first or [])]

    # one partition per file directly — see metadata_df for why a
    # .repartition here would cost an extra shuffle job per read
    plan = metadata_df(
        spark,
        [(p, bases[p]) for p, _ in files],
        T.StructType(
            [
                T.StructField("path", T.StringType(), False),
                T.StructField("base", T.LongType(), False),
            ]
        ),
        slices=len(files),
    )

    has_header = cfg.header
    cfg_copy = CSVConfig(**cfg.__dict__)
    width = len(header_cols) if header_cols else num_columns

    def parse_files(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        settle_import_caches()
        for pdf in batches:
            for path, rid_base in zip(pdf["path"], pdf["base"]):
                with open(path, "rb") as f:
                    text = f.read().decode("latin-1")
                rows = parse_csv_text(text, cfg_copy)
                if has_header:
                    next(rows, None)
                rows = list(rows)
                if rows:
                    first = int(rid_base) + 1
                    yield positional_frame(
                        range(first, first + len(rows)), rows, width
                    )

    return (
        plan.mapInPandas(parse_files, schema=positional_schema(width)),
        header_cols,
    )
