"""Byte-range block reader for strict-format CSV and JSON Lines — the
read side of block-grain (mid-file) checkpoint resume.

Why this exists: Spark's job commit is atomic, so a crashed write job
delivers NOTHING — the only way to make MID-FILE progress durable is
to split one file's restore into several smaller jobs. Each job then
needs to read just its byte ranges; the DataFrame readers have no
range API, so blocks are distributed as a tiny plan-time list and
each task seeks into the file itself (the reference resumes a chunk
from (path, offset) the same way: checkpoints.go:92-130,
restore.go:1265-1266).

Parity contract (load-bearing — resumed and fresh engines must
produce byte-identical rows):

- Line extraction mirrors Hadoop's ``LineRecordReader`` geometry
  that Spark's own splittable scan uses: a block starting at
  offset > 0 discards through the first ``\\n`` (the previous block
  reads its straddling line), and a block keeps reading lines while
  the line START is <= block end — which is also how a line ending
  exactly on the boundary hands the NEXT line to the earlier block.
- One extraction stage serves both formats (read_blocks): CSV bytes
  decode latin-1 (byte-faithful, as the batch reader's ISO-8859-1
  trick) and empty lines are skipped (univocity's skipEmptyLines,
  which the native reader applies); JSONL decodes utf-8 and skips
  whitespace-only lines, as Spark's JSON text source does.
- CSV fields parse with ``F.from_csv`` and the SAME option map as
  ``spark.read.csv`` — the same Univocity parser, so separators,
  quotes, escapes and null sentinels behave identically. JSONL
  parses with ``F.from_json`` FAILFAST, as read_jsonl.
- Row-ids take the SplitLargeFile offset term from
  ``rowid.split_chunk_base`` and the file base from
  ``rowid._file_base_rowids``, the two pieces
  ``assign_rowid_by_file_split`` uses; the in-block row index is
  explicit here (the reader emits it), so ids are identical to what
  the whole-file splittable read would have assigned.

Constraint (documented, gated by the caller): line terminators are
``\\n`` / ``\\r\\n``. ``header`` files are not block-split (the
header row is file-scoped state).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CSVConfig
from ..operators.rowid import (
    ROWID,
    _file_base_rowids,
    metadata_df,
    split_chunk_base,
)
from ..session import settle_import_caches

_TAIL_CHUNK = 64 * 1024


def plan_file_blocks(
    files: list[tuple[str, int]], split_bytes: int
) -> list[tuple[str, int, int]]:
    """(path, offset, length) blocks in Spark's split geometry: the
    session pins maxSplitBytes = maxPartitionBytes (huge
    openCostInBytes), so offsets are multiples of ``split_bytes``."""
    s = max(int(split_bytes), 1)
    out: list[tuple[str, int, int]] = []
    for path, size in files:
        off = 0
        while off < size:
            out.append((path, off, min(s, size - off)))
            off += s
        if size == 0:
            out.append((path, 0, 0))
    return out


def files_use_supported_terminators(
    files: list[tuple[str, int]], probe_bytes: int = 64 * 1024
) -> bool:
    """Plan-time enforcement of the module's terminator constraint:
    Hadoop's LineRecordReader also ends a line at a LONE ``\\r``,
    which _extract_lines deliberately does not implement — so a file
    using classic-Mac endings must NOT take the block path (it falls
    back to file grain, which reads through the native splittable
    scan). Probes the head of every file; a ``\\r`` not followed by
    ``\\n`` (including one ending the probe window — ambiguous,
    treated conservatively) disqualifies the whole table."""
    for path, _ in files:
        try:
            with open(path, "rb") as f:
                head = f.read(probe_bytes)
        except OSError:
            return False
        i = head.find(b"\r")
        while i >= 0:
            if i + 1 >= len(head) or head[i + 1 : i + 2] != b"\n":
                return False
            i = head.find(b"\r", i + 2)
    return True


def _extract_lines(
    path: str, offset: int, length: int, encoding: str = "latin-1"
) -> Iterator[str]:
    """Lines owned by block [offset, offset+length) under the Hadoop
    line-reader contract (see module docstring). ``encoding`` is
    latin-1 for the CSV path (byte-faithful, re-decoded downstream)
    and utf-8 for JSONL (real UTF-8 by the format's definition —
    multi-byte sequences never contain 0x0A, so byte-offset line
    geometry is unaffected)."""
    end = offset + length
    with open(path, "rb") as f:
        f.seek(offset)
        buf = f.read(length)
        pos = offset  # absolute position of buf[cursor]
        cursor = 0
        if offset > 0:
            nl = buf.find(b"\n")
            if nl < 0:
                return  # whole block is the previous block's straddle
            cursor = nl + 1
        # read lines while the line START is <= end
        while pos + cursor <= end:
            nl = buf.find(b"\n", cursor)
            while nl < 0:
                tail = f.read(_TAIL_CHUNK)
                if not tail:
                    break
                buf += tail
                nl = buf.find(b"\n", cursor)
            if nl < 0:
                # EOF without newline: final unterminated line
                if cursor < len(buf):
                    yield buf[cursor:].decode(encoding)
                return
            line = buf[cursor:nl]
            if line.endswith(b"\r"):
                line = line[:-1]
            yield line.decode(encoding)
            cursor = nl + 1
            if pos + cursor > end:
                return
            # keep the buffer bounded: drop consumed bytes
            if cursor > (1 << 22):
                pos += cursor
                buf = buf[cursor:]
                cursor = 0


# A valid JSON-Lines row is at least "{}" plus its newline — 3 bytes
# — so byte-capacity row-id reservations for JSONL blocks divide by 3
# (the CSV path divides by the column count for the same reason:
# every delimited row occupies >= #columns bytes).
JSONL_MIN_LINE_BYTES = 3

_PLAN_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("off", T.LongType(), False),
        T.StructField("len", T.LongType(), False),
    ]
)

_LINES_SCHEMA = T.StructType(
    [
        T.StructField("_fname", T.StringType(), False),
        T.StructField("_boffset", T.LongType(), False),
        T.StructField("_bline", T.LongType(), False),
        T.StructField("_raw", T.StringType(), True),
    ]
)


def _block_lines(
    spark: SparkSession, blocks: list[tuple[str, int, int]], jsonl: bool
) -> DataFrame:
    """The line-extraction stage of both formats: one task per block
    (the plan list is laid out by metadata_df, so no shuffle), one row
    per kept line as (_fname, _boffset, _bline, _raw), ``_bline``
    counting kept lines only. CSV decodes latin-1 and skips empty
    lines (univocity's skipEmptyLines); JSONL decodes utf-8 and skips
    whitespace-only lines (Spark's JSON text source drops them)."""
    encoding = "utf-8" if jsonl else "latin-1"

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        settle_import_caches()
        for pdf in batches:
            for path, off, ln in zip(pdf["path"], pdf["off"], pdf["len"]):
                off = int(off)
                lines = [
                    line
                    for line in _extract_lines(path, off, int(ln), encoding)
                    if (line.strip() if jsonl else line)
                ]
                if lines:
                    yield pd.DataFrame(
                        {
                            "_fname": path,
                            "_boffset": off,
                            "_bline": pd.Series(
                                range(len(lines)), dtype="int64"
                            ),
                            "_raw": lines,
                        }
                    )

    plan = metadata_df(
        spark,
        [(p, int(o), int(ln)) for p, o, ln in blocks],
        _PLAN_SCHEMA,
        slices=len(blocks),
    )
    return plan.mapInPandas(extract, schema=_LINES_SCHEMA)


def read_blocks(
    spark: SparkSession,
    blocks: list[tuple[str, int, int]],
    names: list[str],
    bases: dict[str, int],
    divisor: int,
    split_bytes: int,
    csv: CSVConfig | None = None,
) -> DataFrame:
    """Read ONLY the given byte-range blocks into all-string columns
    named ``names`` plus ``_row_id``. One task per block.

    ``csv`` reads headerless CSV through from_csv with the same option
    map as spark.read.csv. Without it the blocks are JSON Lines and
    ``names`` are the keys as the files spell them (one casing group:
    the caller groups blocks by their file's keys and unions the
    groups, as the batch lane does). A malformed line FAILS the job
    (from_json FAILFAST, the read_jsonl contract: a bad line must
    never materialize as an all-null row that default-fill would
    fabricate into data).

    ``bases`` and ``divisor`` must be the ones file_row_bases_split
    was given: ``_row_id`` is the file base + split_chunk_base +
    in-block line index + 1."""
    jsonl = csv is None
    if jsonl:
        parse = F.from_json(
            F.col("_raw"),
            T.StructType(
                [T.StructField(k, T.StringType(), True) for k in names]
            ),
            {"mode": "FAILFAST"},
        )
        fields = names
    else:
        csv.validate()
        if csv.header:
            raise ValueError(
                "block-split reads do not support header files; "
                "the caller must gate on csv.header"
            )
        # same option map as spark.read.csv (csv_source.read_csv) minus
        # reader-only keys — from_csv runs the same Univocity parser
        opts = csv.spark_options()
        for k in ("multiLine", "header", "inferSchema"):
            opts.pop(k, None)
        n = len(names) + (1 if csv.trim_last_sep else 0)
        parse = F.from_csv(
            F.col("_raw"), ", ".join(f"_c{i} string" for i in range(n)), opts
        )
        fields = [f"_c{i}" for i in range(len(names))]
    offset = split_chunk_base(F.col("_boffset"), divisor, split_bytes)
    parsed = _block_lines(spark, blocks, jsonl).withColumn("_r", parse)
    return _file_base_rowids(parsed, bases, offset + F.col("_bline")).select(
        ROWID,
        *[F.col("_r").getField(f).alias(n) for f, n in zip(fields, names)],
    )
