"""Byte-range block reader for strict-format CSV — the read side of
block-grain (mid-file) checkpoint resume.

Why this exists: Spark's job commit is atomic, so a crashed write job
delivers NOTHING — the only way to make MID-FILE progress durable is
to split one file's restore into several smaller jobs. Each job then
needs to read just its byte ranges; the DataFrame CSV reader has no
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
- Bytes decode latin-1 (byte-faithful, as the batch reader's
  ISO-8859-1 trick) and empty lines are skipped (univocity's
  skipEmptyLines, which the native reader applies).
- Field parsing is ``F.from_csv`` with the SAME option map as
  ``spark.read.csv`` — the same Univocity parser, so separators,
  quotes, escapes and null sentinels behave identically.
- Row-ids use the same SplitLargeFile formula as
  ``rowid.assign_rowid_by_file_split``; the in-block row index is
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


_RAW_SCHEMA = T.StructType(
    [
        T.StructField("_bpath", T.StringType(), False),
        T.StructField("_boffset", T.LongType(), False),
        T.StructField("_bline", T.LongType(), False),
        T.StructField("_raw", T.StringType(), True),
    ]
)


def read_csv_blocks(
    spark: SparkSession,
    blocks: list[tuple[str, int, int]],
    cfg: CSVConfig,
    num_columns: int,
    bases: dict[str, int],
    split_bytes: int,
) -> DataFrame:
    """Read ONLY the given byte-range blocks into the same all-string
    shape ``csv_source.read_csv`` produces (``_c0.._cN``), plus
    ``_row_id`` per the SplitLargeFile scheme. One task per block."""
    cfg.validate()
    if cfg.header:
        raise ValueError(
            "block-split reads do not support header files; "
            "the caller must gate on csv.header"
        )
    plan = spark.createDataFrame(
        [(p, int(o), int(ln)) for p, o, ln in blocks],
        "path string, off long, len long",
    ).repartition(max(len(blocks), 1))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, off, ln in zip(pdf["path"], pdf["off"], pdf["len"]):
                lines, idx = [], []
                i = 0
                for line in _extract_lines(path, int(off), int(ln)):
                    if not line:
                        continue  # univocity skipEmptyLines
                    lines.append(line)
                    idx.append(i)
                    i += 1
                if lines:
                    yield pd.DataFrame(
                        {
                            "_bpath": path,
                            "_boffset": int(off),
                            "_bline": pd.Series(idx, dtype="int64"),
                            "_raw": lines,
                        }
                    )

    raw = plan.mapInPandas(extract, schema=_RAW_SCHEMA)

    # same option map as spark.read.csv (csv_source.read_csv) minus
    # reader-only keys — from_csv runs the same Univocity parser
    opts = cfg.spark_options()
    for k in ("multiLine", "header", "inferSchema"):
        opts.pop(k, None)
    extra = cfg.trim_last_sep
    n = num_columns + (1 if extra else 0)
    fschema = ", ".join(f"_c{i} string" for i in range(n))
    parsed = raw.select(
        F.from_csv(F.col("_raw"), fschema, opts).alias("_r"),
        "_bpath",
        "_boffset",
        "_bline",
    )
    div = max(num_columns, 1)
    s = max(int(split_bytes), 1)
    # rowid = file_base + off/divisor + off/split + in-block index + 1
    # (identical to assign_rowid_by_file_split's formula; the join on
    # the tiny bases map is broadcast)
    bases_df = spark.createDataFrame(
        [(p, int(b)) for p, b in bases.items()],
        "_bpath string, _fbase long",
    )
    out = parsed.join(F.broadcast(bases_df), "_bpath", "left").select(
        (
            F.coalesce(F.col("_fbase"), F.lit(0))
            + F.floor(F.col("_boffset") / F.lit(div))
            + F.floor(F.col("_boffset") / F.lit(s))
            + F.col("_bline")
            + F.lit(1)
        ).alias("_row_id"),
        *[F.col("_r").getField(f"_c{i}").alias(f"_c{i}") for i in range(num_columns)],
    )
    return out


# A valid JSON-Lines row is at least "{}" plus its newline — 3 bytes
# — so byte-capacity row-id reservations for JSONL blocks divide by 3
# (the CSV path divides by the column count for the same reason:
# every delimited row occupies >= #columns bytes).
JSONL_MIN_LINE_BYTES = 3


def read_jsonl_blocks(
    spark: SparkSession,
    blocks: list[tuple[str, int, int]],
    ddl_names: list[str],
    src_keys: list[str],
    bases: dict[str, int],
    split_bytes: int,
) -> DataFrame:
    """Read ONLY the given byte-range blocks of JSON-Lines files into
    the same all-string DDL-named shape the batch JSONL lane produces
    (pipeline read_table), plus ``_row_id`` per the SplitLargeFile
    scheme with divisor JSONL_MIN_LINE_BYTES. One task per block.

    ``src_keys`` is ONE resolved key-casing group (jsonl_source.
    resolve_field_names output aligned with ``ddl_names``); the caller
    groups blocks by their file's casing and unions the groups —
    the same contract as the batch lane's per-group reader schemas.

    Parity contract with the batch lane: utf-8 decode (real UTF-8 —
    no latin1 re-decode), whitespace-only lines skipped (Spark's
    text-based JSON reader drops blank lines), malformed lines FAIL
    the job (from_json mode=FAILFAST — the read_jsonl contract: a bad
    line must never materialize as an all-null row that default-fill
    would fabricate into data)."""
    plan = spark.createDataFrame(
        [(p, int(o), int(ln)) for p, o, ln in blocks],
        "path string, off long, len long",
    ).repartition(max(len(blocks), 1))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, off, ln in zip(pdf["path"], pdf["off"], pdf["len"]):
                lines, idx = [], []
                i = 0
                for line in _extract_lines(
                    path, int(off), int(ln), encoding="utf-8"
                ):
                    if not line.strip():
                        continue  # Spark's JSON text source drops blanks
                    lines.append(line)
                    idx.append(i)
                    i += 1
                if lines:
                    yield pd.DataFrame(
                        {
                            "_bpath": path,
                            "_boffset": int(off),
                            "_bline": pd.Series(idx, dtype="int64"),
                            "_raw": lines,
                        }
                    )

    raw = plan.mapInPandas(extract, schema=_RAW_SCHEMA)
    jschema = T.StructType(
        [T.StructField(k, T.StringType(), True) for k in src_keys]
    )
    parsed = raw.select(
        F.from_json(
            F.col("_raw"), jschema, {"mode": "FAILFAST"}
        ).alias("_r"),
        "_bpath",
        "_boffset",
        "_bline",
    )
    div = JSONL_MIN_LINE_BYTES
    s = max(int(split_bytes), 1)
    bases_df = spark.createDataFrame(
        [(p, int(b)) for p, b in bases.items()],
        "_bpath string, _fbase long",
    )
    return parsed.join(F.broadcast(bases_df), "_bpath", "left").select(
        (
            F.coalesce(F.col("_fbase"), F.lit(0))
            + F.floor(F.col("_boffset") / F.lit(div))
            + F.floor(F.col("_boffset") / F.lit(s))
            + F.col("_bline")
            + F.lit(1)
        ).alias("_row_id"),
        *[
            F.col("_r").getField(k).alias(n)
            for k, n in zip(src_keys, ddl_names)
        ],
    )
