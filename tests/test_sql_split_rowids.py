"""A .sql file's row ids must not depend on the other files of its
read, nor on the cluster. `read_sql_dump` takes its row-id bases from
the table's full file list, so a file-grain engine (a subset of the
files) and a table-grain read give each file the same base; the
byte-range split size must come from that full list too, and from
module constants only. A file read whole gets dense ids from its base,
a split one ``base + statement_offset // divisor``, so a split chosen
from the subset renumbered a PK-less table (and changed its kv_crc64)
whenever checkpoints cut it into engines, and a split chosen from
``defaultParallelism`` renumbered it with the core count."""

from __future__ import annotations

from pyspark import SparkContext

from tidb_lightning_release_4_0_spark.operators import rowid
from tidb_lightning_release_4_0_spark.sources import sql_dump_source
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


def _write_table(tmp_path, n_parts: int) -> tuple[list[tuple[str, int]], int]:
    nid = 1
    for k in range(n_parts):
        nid = _write_part(tmp_path / f"db.t.{k:05d}.sql", nid)
    table = sorted(
        (str(p), p.stat().st_size) for p in tmp_path.glob("db.t.*.sql")
    )
    return table, nid


def _ids(spark, files, all_files) -> dict[str, int]:
    df = read_sql_dump(spark, files, "auto", num_columns=2, all_files=all_files)
    return {r["_fields"][0]: r["_row_id"] for r in df.collect()}


def test_file_ids_equal_alone_and_in_the_table(spark, tmp_path, monkeypatch):
    # split size = max(1 MiB, table bytes / SPLIT_TARGETS): at 2
    # targets a part sized from its own bytes is cut into byte ranges,
    # sized from the two-part table it stays whole
    monkeypatch.setattr(sql_dump_source, "SPLIT_TARGETS", 2)
    table, nid = _write_table(tmp_path, 2)
    alone = _ids(spark, table[:1], table)
    whole = _ids(spark, table, table)
    assert len(alone) > 0 and len(whole) == nid - 1
    assert alone == {a: whole[a] for a in alone}


def test_split_ignores_default_parallelism(spark, tmp_path, monkeypatch):
    # two 1.6 MB parts: table bytes / 2 cores keeps each part whole,
    # table bytes / 32 cores cuts it, so a parallelism-sized split
    # gives the same dump other chunks and other ids
    table, nid = _write_table(tmp_path, 2)
    plans = []
    real_metadata_df = rowid.metadata_df

    def recording_metadata_df(spark, rows, schema, slices=1):
        plans[-1].extend(rows)
        return real_metadata_df(spark, rows, schema, slices)

    monkeypatch.setattr(rowid, "metadata_df", recording_metadata_df)
    ids = []
    for par in (2, 32):
        monkeypatch.setattr(
            SparkContext, "defaultParallelism", property(lambda _sc: par)
        )
        plans.append([])
        ids.append(_ids(spark, table, table))
    assert len(ids[0]) == nid - 1
    assert plans[0] == plans[1]
    assert ids[0] == ids[1]
