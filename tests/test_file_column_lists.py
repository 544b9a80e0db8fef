"""Each data file names its own columns, on every read lane.

The reference maps file columns to table columns once per chunk
(``initializeColumns``, restore.go:1356-1406). A dump whose parts list
their columns in different orders, or where one part omits a nullable
column, must restore the same rows through the ``.sql``, header
string-CSV, strict-CSV, JSONL and parquet lanes: no part may be read
under another part's column list.

Also pins that a PK-less ``.sql`` table read as two column-list groups,
a PK-less table whose ``.sql`` lists or CSV headers are narrower than
its DDL, and a PK-less table of ``.csv`` and ``.sql`` parts get
distinct ``_tidb_rowid`` values (one row-id chain per table, each
lane's divisor from its narrowest list),
and that parquet's typed cast branch keys the session projection memo:
lenient and strict sql_mode, and a string frame next to a typed one,
each get their own projection in one session.
"""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tidb_lightning_release_4_0_spark.config import (
    Config,
    CSVConfig,
    MydumperConfig,
    TiDBConfig,
)
from tidb_lightning_release_4_0_spark.operators.permutation import (
    ROWID_COL,
    apply_permutation,
)
from tidb_lightning_release_4_0_spark.plans.pipeline import RestoreController
from tidb_lightning_release_4_0_spark.sinks.memory_sink import MemorySink
from tidb_lightning_release_4_0_spark.sources.schema_reader import (
    parse_create_table,
)

TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".tmp",
    "file_column_lists",
)

DDL = "CREATE TABLE t (a INT PRIMARY KEY, b INT, c VARCHAR(8));"
# part 1 omits the nullable c; part 3 lists b before a
PARTS = [
    (("a", "b"), [(5, 6)]),
    (("a", "b", "c"), [(1, 2, "x")]),
    (("b", "a", "c"), [(30, 4, "y")]),
]
WANT = [(1, 2, "x"), (4, 30, "y"), (5, 6, None)]


def _sql(cols, rows):
    vals = ",".join(
        "(" + ",".join(repr(v) for v in r) + ")" for r in rows
    )
    return f"INSERT INTO t ({','.join(cols)}) VALUES {vals};\n"


def _csv(cols, rows):
    return "".join(
        ",".join(str(v) for v in r) + "\n" for r in [cols, *rows]
    )


def _jsonl(cols, rows):
    # the last part also spells its keys in upper case
    upper = cols[0] == "b"
    return "".join(
        json.dumps({(k.upper() if upper else k): v for k, v in zip(cols, r)})
        + "\n"
        for r in rows
    )


def _write_dump(name: str, ext, ddl: str = DDL, parts=PARTS) -> str:
    """``ext``: one extension for every part, or one per part."""
    d = os.path.join(TMP, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    with open(os.path.join(d, "fc-schema-create.sql"), "w") as f:
        f.write("CREATE DATABASE fc;")
    with open(os.path.join(d, "fc.t-schema.sql"), "w") as f:
        f.write(ddl)
    exts = [ext] * len(parts) if isinstance(ext, str) else ext
    for i, ((cols, rows), ext) in enumerate(zip(parts, exts), 1):
        path = os.path.join(d, f"fc.t.{i:04d}.{ext}")
        if ext == "parquet":
            pd.DataFrame(rows, columns=list(cols)).to_parquet(path)
            continue
        text = {"sql": _sql, "csv": _csv, "jsonl": _jsonl}[ext](cols, rows)
        with open(path, "w") as f:
            f.write(text)
    return d


def _restore(spark, d, csv=None, sql_mode="", checkpoint=""):
    """``checkpoint``: a checkpoint file, which also puts each data
    file in an engine of its own; none restores at table grain."""
    cfg = Config(
        mydumper=MydumperConfig(
            source_dir=d,
            csv=csv or CSVConfig(),
            batch_size=1 if checkpoint else MydumperConfig.batch_size,
        ),
        tidb=TiDBConfig(sql_mode=sql_mode),
        backend="memory",
        checkpoint_enable=bool(checkpoint),
        checkpoint_path=checkpoint,
    )
    sink = MemorySink("error")
    summary = RestoreController(spark, cfg, sink=sink).run()
    return summary, sink


LANES = {
    "sql": ("sql", None),
    "header_csv": ("csv", CSVConfig(header=True)),
    "strict_csv": ("csv", CSVConfig(header=True, strict_parser=True)),
    "jsonl": ("jsonl", None),
    "parquet": ("parquet", None),
}


@pytest.mark.parametrize("lane", list(LANES))
def test_each_part_maps_its_own_columns(spark, lane):
    ext, csv = LANES[lane]
    d = _write_dump(f"lanes_{lane}", ext)
    summary, sink = _restore(spark, d, csv)
    assert summary.ok, summary.report()
    rows = sink.tables["fc.t"].orderBy("a").collect()
    assert [(r["a"], r["b"], r["c"]) for r in rows] == WANT


def test_sql_groups_share_one_rowid_divisor(spark):
    """A PK-less table whose .sql parts list one and two columns: the
    two groups take their bases from the table's full file list and
    one divisor, so no two rows share a _tidb_rowid."""
    n = 400
    parts = [
        (("a",), [(i,) for i in range(n)]),
        (("b", "a"), [(i, i) for i in range(n)]),
        (("a",), [(i,) for i in range(n)]),
    ]
    d = _write_dump(
        "rowid_groups",
        "sql",
        ddl="CREATE TABLE t (a INT, b INT);",
        parts=parts,
    )
    summary, sink = _restore(spark, d)
    assert summary.ok, summary.report()
    df = sink.tables["fc.t"]
    assert df.count() == 3 * n
    assert df.select(ROWID_COL).distinct().count() == 3 * n
    assert df.filter(F.col("b").isNotNull()).count() == n


def test_narrow_sql_lists_keep_rowids_distinct(spark):
    """A PK-less six-column table whose .sql parts list only (a, b):
    a row is 6 bytes, ``(1,2),``, fewer than the DDL width + 2, so the
    table's .sql divisor must shrink to the narrowest list + 2 for
    each part's reserved id range to hold its rows."""
    n = 200
    parts = [(("a", "b"), [(i % 10, k) for i in range(n)]) for k in range(2)]
    d = _write_dump(
        "rowid_narrow",
        "sql",
        ddl="CREATE TABLE t (a INT, b INT, c INT, d INT, e INT, f INT);",
        parts=parts,
    )
    summary, sink = _restore(spark, d)
    assert summary.ok, summary.report()
    df = sink.tables["fc.t"]
    assert df.count() == 2 * n
    assert df.select(ROWID_COL).distinct().count() == 2 * n


@pytest.mark.parametrize(
    "csv",
    [
        CSVConfig(header=True),
        CSVConfig(header=True, strict_format=True),
        CSVConfig(header=True, strict_parser=True),
    ],
    ids=["header_csv", "strict_format_csv", "strict_csv"],
)
def test_narrow_csv_headers_keep_rowids_distinct(spark, csv):
    """A PK-less six-column table whose header CSV parts list only
    (a, b): a row is 4 bytes, ``1,2\n``, fewer than the DDL width, so
    the table's CSV divisor must shrink to the narrowest header for
    each part's reserved id range to hold its rows."""
    n = 200
    parts = [(("a", "b"), [(i % 10, k) for i in range(n)]) for k in range(2)]
    d = _write_dump(
        "rowid_narrow_csv",
        "csv",
        ddl="CREATE TABLE t (a INT, b INT, c INT, d INT, e INT, f INT);",
        parts=parts,
    )
    summary, sink = _restore(spark, d, csv)
    assert summary.ok, summary.report()
    df = sink.tables["fc.t"]
    assert df.count() == 2 * n
    assert df.select(ROWID_COL).distinct().count() == 2 * n


@pytest.mark.parametrize("grain", ["table", "file"])
def test_mixed_csv_and_sql_parts_share_one_rowid_chain(spark, grain):
    """A PK-less table with one header .csv part and one .sql part:
    both take their bases from one chain over the table's data files,
    as the reference's MakeTableRegions does, so no two rows share a
    _tidb_rowid, whether the table is read in one pass or each part
    is its own engine."""
    n = 100
    parts = [(("a", "b"), [(k * n + i, i % 10) for i in range(n)]) for k in range(2)]
    d = _write_dump(
        f"mixed_chain_{grain}",
        ["csv", "sql"],
        ddl="CREATE TABLE t (a INT, b INT);",
        parts=parts,
    )
    cp = ""
    if grain == "file":
        cp = os.path.join(TMP, "mixed_chain.cp.json")
        if os.path.exists(cp):
            os.remove(cp)
    summary, sink = _restore(spark, d, CSVConfig(header=True), checkpoint=cp)
    assert summary.ok, summary.report()
    df = sink.tables["fc.t"]
    assert df.count() == 2 * n
    assert df.select(ROWID_COL).distinct().count() == 2 * n


def test_strict_csv_ids_equal_with_checkpoints_on_and_off(spark):
    """A PK-less strict-parser CSV table restored with checkpoints on
    and batch_size 1 gets the same distinct _tidb_rowid values as the
    single-shot restore. The strict parser reads the table in one
    pass today; ``read_csv_strict`` takes the table's bases, so a
    planner that cut it into file engines would keep these ids."""
    n = 50
    parts = [
        (("a", "b"), [(k * n + i, i) for i in range(n)]) for k in range(3)
    ]
    d = _write_dump(
        "strict_csv_engines",
        "csv",
        ddl="CREATE TABLE t (a INT, b INT);",
        parts=parts,
    )
    ids = []
    for checkpoint in (False, True):
        tgt = os.path.join(TMP, f"strict_csv_sink_{checkpoint}")
        cp = tgt + ".cp.json"
        shutil.rmtree(tgt, ignore_errors=True)
        if os.path.exists(cp):
            os.remove(cp)
        cfg = Config(
            mydumper=MydumperConfig(
                source_dir=d,
                csv=CSVConfig(header=True, strict_parser=True),
                batch_size=1,  # one file per engine
            ),
            tidb=TiDBConfig(sql_mode=""),
            backend="parquet",
            target_dir=tgt,
            checkpoint_enable=checkpoint,
            checkpoint_path=cp if checkpoint else "",
        )
        summary = RestoreController(spark, cfg).run()
        assert summary.ok, summary.report()
        rows = (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(os.path.join(tgt, "fc.t"))
            .select("a", ROWID_COL)
            .collect()
        )
        ids.append({r["a"]: r[ROWID_COL] for r in rows})
    assert len(ids[0]) == 3 * n
    assert len(set(ids[0].values())) == 3 * n
    assert ids[1] == ids[0]


def test_parquet_strict_and_lenient_in_one_session(spark):
    """A BIGINT 300 into a TINYINT column nulls under a lenient
    sql_mode and fails the table under a strict one, in either order
    of the two tasks in one session."""
    parts = [(("a", "b"), [(1, 300), (2, 7)])]
    d = _write_dump(
        "pq_sqlmode",
        "parquet",
        ddl="CREATE TABLE t (a INT PRIMARY KEY, b TINYINT);",
        parts=parts,
    )
    for _ in range(2):
        summary, sink = _restore(spark, d)
        assert summary.ok, summary.report()
        rows = sink.tables["fc.t"].orderBy("a").collect()
        assert [(r["a"], r["b"]) for r in rows] == [(1, None), (2, 7)]

        summary, _ = _restore(spark, d, sql_mode="STRICT_TRANS_TABLES")
        assert not summary.ok
        assert "strict sql_mode" in summary.tables["fc.t"].error


def test_typed_and_string_frames_get_their_own_projection(spark):
    """Same schema, file columns and flags: a string frame runs the
    MySQL cast ladder ('1e10' clamps to the INT maximum under a lenient
    sql_mode) and a typed frame casts directly (1e10 does not fit: the
    parquet lane's NULL), whichever of the two comes first."""
    schema = parse_create_table("CREATE TABLE m (v INT PRIMARY KEY)")
    string = spark.createDataFrame([("1e10",)], "v string")
    typed = spark.createDataFrame([(1e10,)], "v double")
    for df, want in ((string, 2**31 - 1), (typed, None), (string, 2**31 - 1)):
        out = apply_permutation(df, schema, ["v"])
        assert [r["v"] for r in out.collect()] == [want]
