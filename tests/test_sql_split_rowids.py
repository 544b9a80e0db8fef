"""A .sql file's row ids must not depend on the other files of its
read. `read_sql_dump` takes its row-id bases from the table's full
file list, so a file-grain engine (a subset of the files) and a
table-grain read give each file the same base; the byte-range split
size must come from that full list too. A file read whole gets dense
ids from its base, a split one ``base + statement_offset // divisor``,
so a split chosen from the subset renumbered a PK-less table (and
changed its kv_crc64) whenever checkpoints cut it into engines."""

from __future__ import annotations

import math

from tidb_lightning_release_4_0_spark.sources.sql_dump_source import (
    read_sql_dump,
)

PART_BYTES = 1_600_000  # > 1.5 x the 1 MiB split floor
ROWS_PER_STMT = 200


def _write_part(path, first_id: int) -> int:
    pad = "p" * 200
    stmts, nid = [], first_id
    size = 0
    while size < PART_BYTES:
        vals = ",".join(
            f"({i},'{pad}')" for i in range(nid, nid + ROWS_PER_STMT)
        )
        nid += ROWS_PER_STMT
        stmt = f"INSERT INTO `t` VALUES {vals};\n"
        stmts.append(stmt)
        size += len(stmt)
    path.write_text("".join(stmts), encoding="utf-8")
    return nid


def _ids(spark, files, all_files) -> dict[str, int]:
    df = read_sql_dump(spark, files, "auto", num_columns=2, all_files=all_files)
    return {r["_fields"][0]: r["_row_id"] for r in df.collect()}


def test_file_ids_equal_alone_and_in_the_table(spark, tmp_path):
    # split size = max(1 MiB, bytes read / defaultParallelism): a part
    # read alone is cut into byte ranges; with the whole table's bytes
    # (at least parallelism / 1.5 parts) it stays whole
    par = spark.sparkContext.defaultParallelism
    n_parts = max(2, math.ceil(par / 1.5) + 1)
    nid = 1
    for k in range(n_parts):
        nid = _write_part(tmp_path / f"db.t.{k:05d}.sql", nid)
    table = sorted(
        (str(p), p.stat().st_size) for p in tmp_path.glob("db.t.*.sql")
    )
    alone = _ids(spark, table[:1], table)
    whole = _ids(spark, table, table)
    assert len(alone) > 0 and len(whole) == nid - 1
    assert alone == {a: whole[a] for a in alone}
