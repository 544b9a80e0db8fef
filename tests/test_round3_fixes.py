"""Round-3 regression tests:

1. File-grain checkpoint resume: a crash mid-table resumes from the
   last delivered engine batch, never re-reading delivered files
   (reference tests/checkpoint_chunks/run.sh count/sum invariants;
   restore.go:861-870, checkpoints.go:92-130).
2. SQL-backed checkpoint store (the MySQL driver analog,
   checkpoints.go:369-760) behaves identically to the JSON store.
3. ANALYZE actually executes (C5, restore.go:1038-1050) and the
   ANALYZED status is only recorded when statistics were computed.
4. Periodic progress ticker (O7, restore.go:443-501).
5. Native-typed CSV fast path: clean/corrupt/mixed rows,
   trim-last-sep, auto-inc fallback on corrupt-but-parseable tokens,
   and the strict-sql_mode gate.
6. JDBC sink delivers in a single materialization (no count()
   pre-pass).
"""

from __future__ import annotations

import logging
import os
import shutil
import sqlite3

import pytest
from pyspark.sql import functions as F

from tidb_lightning_release_4_0_spark.config import (
    Config,
    CSVConfig,
    MydumperConfig,
    TiDBConfig,
)
from tidb_lightning_release_4_0_spark.plans.checkpoints import (
    CheckpointStore,
    SQLCheckpointStore,
    Status,
)
from tidb_lightning_release_4_0_spark.plans.pipeline import (
    RestoreController,
    plan_engines,
)
from tidb_lightning_release_4_0_spark.sinks.memory_sink import MemorySink
from tidb_lightning_release_4_0_spark.sinks.parquet_sink import ParquetSink

TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "r3")


def _dump(subdir: str, files: dict[str, bytes]) -> str:
    d = os.path.join(TMP, subdir)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for name, content in files.items():
        with open(os.path.join(d, name), "wb") as f:
            f.write(content)
    return d


# ---------------------------------------------------------------------------
# 1. engine/file-grain resume
# ---------------------------------------------------------------------------


class _EngineFailSink(ParquetSink):
    """Fails delivery of one chosen engine once (failpoint analog)."""

    def __init__(self, root: str, fail_engine: int | None = None):
        super().__init__(root, on_duplicate="error")
        self.fail_engine = fail_engine
        self.calls: list[int] = []

    def write_engine(self, df, table, engine_id):
        if engine_id == self.fail_engine:
            self.fail_engine = None
            raise RuntimeError("injected engine failure")
        self.calls.append(engine_id)
        return super().write_engine(df, table, engine_id)


def _engine_dump() -> str:
    files = {
        "eng-schema-create.sql": b"CREATE DATABASE eng;",
        "eng.t-schema.sql": b"create table t (i bigint primary key);",
    }
    # 6 part files, 10 rows each: values p*10+1 .. p*10+10
    for p in range(6):
        vals = ",".join(f"({p * 10 + k})" for k in range(1, 11))
        files[f"eng.t.{p:05d}.sql"] = f"INSERT INTO t VALUES {vals};".encode()
    return _dump("engine_resume", files)


@pytest.mark.parametrize("table_concurrency", [1, 4])
def test_engine_grain_resume(spark, table_concurrency):
    """At one engine slot the engines deliver serially in id order; at
    four they run concurrently, so which engines finished before the
    injected failure depends on timing — the checkpoint must then hold
    exactly those, and the resume must deliver exactly the rest."""
    d = _engine_dump()
    tgt = os.path.join(TMP, "engine_resume_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    cp_path = os.path.join(TMP, "engine_resume_cp.json")
    if os.path.exists(cp_path):
        os.remove(cp_path)

    def cfg():
        return Config(
            mydumper=MydumperConfig(source_dir=d, batch_size=1),  # 1 file/engine
            backend="parquet",
            target_dir=tgt,
            on_duplicate="error",
            checkpoint_path=cp_path,
            tidb=TiDBConfig(sql_mode=""),
            table_concurrency=table_concurrency,
        )

    sink1 = _EngineFailSink(tgt, fail_engine=3)
    run1 = RestoreController(spark, cfg(), sink=sink1).run()
    assert not run1.ok
    delivered = set(sink1.calls)
    if table_concurrency == 1:
        assert sink1.calls == [0, 1, 2]  # engines 0-2 delivered, 3 failed
    else:
        assert 3 not in delivered
        assert len(sink1.calls) == len(delivered)  # each engine once

    cp = CheckpointStore(cp_path)
    meta_files = sorted(
        f for f in os.listdir(d) if f.endswith(".sql") and "schema" not in f
    )
    for i, fname in enumerate(meta_files):
        st = cp.chunk_status("eng.t", os.path.join(d, fname))
        if i in delivered:
            assert st >= Status.ALL_WRITTEN, (i, st)
        else:
            assert st < Status.ALL_WRITTEN, (i, st)

    # resume: only the undelivered engines run; delivered ones are
    # never re-read
    sink2 = _EngineFailSink(tgt)
    cp_r = CheckpointStore(cp_path)
    cp_r.ignore_error("eng.t")  # ctl step: clear the errored status
    run2 = RestoreController(
        spark, cfg(), sink=sink2, checkpoints=cp_r
    ).run()
    assert run2.ok, run2.report()
    if table_concurrency == 1:
        assert sink2.calls == [3, 4, 5]
    else:
        assert sorted(sink2.calls) == sorted(set(range(6)) - delivered)
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "eng.t")
    )
    # checkpoint_chunks-style count/sum invariants: exact totals
    assert t.count() == 60
    expect = sum(p * 10 + k for p in range(6) for k in range(1, 11))
    assert t.agg(F.sum("i")).collect()[0][0] == expect
    assert run2.tables["eng.t"].rows == 60
    # alloc base continues past max(i) (C4 merged into the engine obs)
    assert run2.tables["eng.t"].alloc_base == 61
    assert not os.path.exists(cp_path)  # success cleans checkpoints


def test_plan_engines_batching():
    fs = [(f"f{i}", 0, 10) for i in range(5)]
    assert [len(e) for e in plan_engines(fs, 1)] == [1, 1, 1, 1, 1]
    assert [len(e) for e in plan_engines(fs, 20)] == [2, 2, 1]
    assert [len(e) for e in plan_engines(fs, 10_000)] == [5]


# ---------------------------------------------------------------------------
# 2. SQL-backed checkpoint store
# ---------------------------------------------------------------------------


class _FailOnceSink(MemorySink):
    def __init__(self, fail_table: str):
        super().__init__(on_duplicate="error")
        self.fail_table = fail_table
        self.failed = False

    def write(self, df, table):
        if table == self.fail_table and not self.failed:
            self.failed = True
            raise RuntimeError("injected failure")
        return super().write(df, table)


def _sqlite_store(path: str) -> SQLCheckpointStore:
    return SQLCheckpointStore(
        lambda: sqlite3.connect(path, check_same_thread=False)
    )


def test_checkpoint_resume_sql_store(spark):
    files = {
        "cps-schema-create.sql": b"CREATE DATABASE cps;",
        "cps.tbl-schema.sql": b"create table tbl (i bigint primary key);",
        "cps.tbl.sql": b"INSERT INTO tbl VALUES (1), (2), (3), (4), (5);",
        "cps.ok-schema.sql": b"create table ok (i int primary key);",
        "cps.ok.sql": b"INSERT INTO ok VALUES (10);",
    }
    d = _dump("cps", files)
    db_path = os.path.join(TMP, "cps_checkpoint.sqlite")
    if os.path.exists(db_path):
        os.remove(db_path)

    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="memory",
        tidb=TiDBConfig(sql_mode=""),
    )
    sink = _FailOnceSink("cps.tbl")
    run1 = RestoreController(
        spark, cfg, sink=sink, checkpoints=_sqlite_store(db_path)
    ).run()
    assert not run1.ok
    assert run1.tables["cps.ok"].status == "restored"

    # a FRESH store instance hydrates from the database — this is the
    # driver-loss survival property the JSON file store lacks
    cp2 = _sqlite_store(db_path)
    assert cp2.table_status("cps.ok") >= Status.CHECKSUMMED
    cp2.ignore_error("cps.tbl")  # ctl step: clear the errored status
    run2 = RestoreController(spark, cfg, sink=sink, checkpoints=cp2).run()
    assert run2.ok, run2.report()
    assert run2.tables["cps.ok"].status == "skipped"
    assert sink.tables["cps.tbl"].agg(F.sum("i")).collect()[0][0] == 15
    # success cleans the checkpoint rows in the database
    cp3 = _sqlite_store(db_path)
    assert cp3.table_status("cps.ok") == 0
    assert cp3.dump()["chunks"] == {}


def test_sql_store_engine_state_roundtrip():
    db_path = os.path.join(TMP, "eng_state.sqlite")
    os.makedirs(TMP, exist_ok=True)
    if os.path.exists(db_path):
        os.remove(db_path)
    cp = _sqlite_store(db_path)
    cp.set_engine_state("db.t", 2, {"rows": 7, "crc_xor": 123, "max_id": 9})
    cp.mark_chunks("db.t", [("/a", 0), ("/b", 0)], Status.ALL_WRITTEN)
    cp.set_alloc_base("db.t", 10)
    cp2 = _sqlite_store(db_path)
    assert cp2.engine_state("db.t", 2)["rows"] == 7
    assert cp2.chunk_status("db.t", "/a") == Status.ALL_WRITTEN
    assert cp2.alloc_base("db.t") == 10
    assert cp2.pending_files("db.t", ["/a", "/b", "/c"]) == ["/c"]


# ---------------------------------------------------------------------------
# 3. ANALYZE executes (C5)
# ---------------------------------------------------------------------------


def test_analyze_executes_parquet(spark):
    files = {
        "ana-schema-create.sql": b"CREATE DATABASE ana;",
        "ana.t-schema.sql": b"create table t (i bigint primary key);",
        "ana.t.sql": b"INSERT INTO t VALUES (1), (2), (3);",
    }
    d = _dump("ana", files)
    tgt = os.path.join(TMP, "ana_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="parquet",
        target_dir=tgt,
        tidb=TiDBConfig(sql_mode=""),
        # pin the full-ANALYZE path: this test asserts catalog
        # rowCount, which the default auto mode deliberately skips
        # (the run already verified the exact count)
        analyze_mode="full",
    )
    cp = CheckpointStore(None, enabled=True)  # in-memory, inspectable
    ctrl = RestoreController(spark, cfg, checkpoints=cp)
    schemas = ctrl.load_schemas()
    (name, (meta, schema)), = schemas.items()
    res = ctrl.restore_table(name, meta, schema)
    assert res.status == "restored"
    # status reflects a real ANALYZE run
    assert cp.table_status(name) == Status.ANALYZED
    # the registered catalog table carries CBO statistics
    desc = spark.sql("DESCRIBE TABLE EXTENDED tlr4s_ana.t").collect()
    stats = [r for r in desc if r["col_name"] == "Statistics"]
    assert stats and "rows" in stats[0]["data_type"], desc


def test_analyze_skipped_statuses(spark):
    files = {
        "anas-schema-create.sql": b"CREATE DATABASE anas;",
        "anas.t-schema.sql": b"create table t (i bigint primary key);",
        "anas.t.sql": b"INSERT INTO t VALUES (4);",
    }
    d = _dump("anas", files)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="memory",  # MemorySink computes no statistics
        tidb=TiDBConfig(sql_mode=""),
    )
    cp = CheckpointStore(None, enabled=True)
    ctrl = RestoreController(spark, cfg, checkpoints=cp)
    (name, (meta, schema)), = ctrl.load_schemas().items()
    res = ctrl.restore_table(name, meta, schema)
    assert res.status == "restored"
    assert cp.table_status(name) == Status.ANALYZE_SKIPPED


# ---------------------------------------------------------------------------
# 4. progress ticker (O7)
# ---------------------------------------------------------------------------


def test_progress_ticker_emits(spark, caplog):
    files = {
        "tick-schema-create.sql": b"CREATE DATABASE tick;",
        "tick.t-schema.sql": b"create table t (i bigint primary key);",
        "tick.t.sql": ("INSERT INTO t VALUES " + ",".join(
            f"({i})" for i in range(1, 2001)) + ";").encode(),
    }
    d = _dump("tick", files)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="memory",
        checkpoint_enable=False,
        tidb=TiDBConfig(sql_mode=""),
        progress_interval=0.05,
    )
    with caplog.at_level(logging.INFO, logger="tidb_lightning_spark"):
        run = RestoreController(spark, cfg).run()
    assert run.ok
    lines = [r.getMessage() for r in caplog.records if "progress:" in r.getMessage()]
    assert lines, "no progress lines emitted"
    assert any("MiB/s" in l and "ETA" in l for l in lines)


# ---------------------------------------------------------------------------
# 5. native-typed CSV fast path
# ---------------------------------------------------------------------------


def _native_restore(spark, csv_bytes: bytes, ddl: bytes, sql_mode: str = "",
                    **csv_over):
    d = _dump(
        "native_csv",
        {
            "nat-schema-create.sql": b"CREATE DATABASE nat;",
            "nat.t-schema.sql": ddl,
            "nat.t.csv": csv_bytes,
        },
    )
    sink = MemorySink(on_duplicate="error")
    cfg = Config(
        mydumper=MydumperConfig(
            source_dir=d, csv=CSVConfig(**csv_over)
        ),
        backend="memory",
        checkpoint_enable=False,
        tidb=TiDBConfig(sql_mode=sql_mode),
    )
    run = RestoreController(spark, cfg, sink=sink).run()
    return run, sink


def test_native_clean_rows_typed(spark):
    run, sink = _native_restore(
        spark,
        b"1,1.5,2024-01-02 03:04:05,alpha\n2,-2.25,2024-06-07 08:09:10,beta\n",
        b"create table t (i bigint, d double, ts datetime, s varchar(16));",
    )
    assert run.ok, run.report()
    rows = {r["i"]: r for r in sink.tables["nat.t"].collect()}
    assert rows[1]["d"] == 1.5 and rows[2]["d"] == -2.25
    assert str(rows[1]["ts"]).startswith("2024-01-02 03:04:05")
    assert rows[1]["s"] == "alpha"


def test_native_corrupt_rows_fall_back_to_mysql_cast(spark):
    # '5.0' and ' 7' fail the JVM Long parse -> corrupt record ->
    # mysql_cast(lenient) parses the numeric prefix like MySQL
    run, sink = _native_restore(
        spark,
        b"1,a\n5.0,b\n 7,c\nabc,d\n",
        b"create table t (i bigint, s varchar(16));",
    )
    assert run.ok, run.report()
    got = {r["s"]: r["i"] for r in sink.tables["nat.t"].collect()}
    assert got == {"a": 1, "b": 5, "c": 7, "d": 0}


def test_native_trim_last_sep(spark):
    run, sink = _native_restore(
        spark,
        b"1,x,\n2,y,\n",
        b"create table t (i bigint, s varchar(16));",
        trim_last_sep=True,
    )
    assert run.ok, run.report()
    got = {r["i"]: r["s"] for r in sink.tables["nat.t"].collect()}
    assert got == {1: "x", 2: "y"}


def test_native_autoinc_keeps_parseable_corrupt_token(spark):
    # the auto-inc NULL check must see the RAW token on corrupt rows:
    # '5.0' parses as NULL natively but MySQL reads 5 — the row keeps
    # id 5 instead of being assigned a fresh rowid
    run, sink = _native_restore(
        spark,
        b"5.0,keep\n\\N,assigned\n",
        b"create table t (id bigint auto_increment primary key, "
        b"s varchar(16));",
    )
    assert run.ok, run.report()
    got = {r["s"]: r["id"] for r in sink.tables["nat.t"].collect()}
    assert got["keep"] == 5
    assert got["assigned"] != 5 and got["assigned"] is not None


def test_strict_mode_float_columns_not_native(spark):
    # 'NaN' in a double column must ERROR under strict sql_mode: the
    # JVM parser would load it as a Java NaN silently, so strict
    # drops float/double to the string path whose cast layer raises
    run, _ = _native_restore(
        spark,
        b"1.5,a\nNaN,b\n",
        b"create table t (d double, s varchar(16));",
        sql_mode="STRICT_TRANS_TABLES",
    )
    assert not run.ok
    assert "bad value" in (run.tables["nat.t"].error or "")
    # lenient mode on the same dump loads (documented float deviation:
    # NaN parses natively; impossible in a real MySQL dump)
    run2, _ = _native_restore(
        spark, b"1.5,a\nNaN,b\n", b"create table t (d double, s varchar(16));"
    )
    assert run2.ok, run2.report()


def test_strict_mode_native_int_bad_token_raises(spark):
    # ints stay NATIVE under strict: a rejected token ('abc') lands in
    # the corrupt record and the strict cast fallback raises, exactly
    # like the string path
    run, _ = _native_restore(
        spark,
        b"1,a\nabc,b\n",
        b"create table t (i bigint, s varchar(16));",
        sql_mode="STRICT_TRANS_TABLES",
    )
    assert not run.ok
    assert "bad value" in (run.tables["nat.t"].error or "")
    # clean strict-mode load through the native path still works
    run2, sink2 = _native_restore(
        spark,
        b"1,a\n2,b\n",
        b"create table t (i bigint, s varchar(16));",
        sql_mode="STRICT_TRANS_TABLES",
    )
    assert run2.ok, run2.report()
    assert {r["i"] for r in sink2.tables["nat.t"].collect()} == {1, 2}


# ---------------------------------------------------------------------------
# O10: sink preflight probe
# ---------------------------------------------------------------------------


def test_sink_probe_fails_fast(spark):
    files = {
        "pf-schema-create.sql": b"CREATE DATABASE pf;",
        "pf.t-schema.sql": b"create table t (i bigint primary key);",
        "pf.t.sql": b"INSERT INTO t VALUES (1);",
    }
    d = _dump("probe", files)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="parquet",
        target_dir="/proc/definitely/not/writable",
        checkpoint_enable=False,
        tidb=TiDBConfig(sql_mode=""),
    )
    with pytest.raises(RuntimeError, match="not writable"):
        RestoreController(spark, cfg).run()


# ---------------------------------------------------------------------------
# partitioned-table golden (tests/partitioned-table/run.sh)
# ---------------------------------------------------------------------------


def test_partitioned_table_golden(spark):
    """Reference golden: load a PARTITION BY HASH dump; count(1)=7,
    sum(a)=277151781, and the target reports a partitioned layout
    (run.sh checks Create_options: partitioned)."""
    files = {
        "partitioned-schema-create.sql": b"create database partitioned;",
        "partitioned.a-schema.sql": (
            b"create table a (a int) partition by hash(a) partitions 5;"
        ),
        "partitioned.a.sql": (
            b"insert into a values (268435456), (1), (262144), (32), (4), "
            b"(65536), (8388608);"
        ),
    }
    d = _dump("partitioned", files)
    tgt = os.path.join(TMP, "partitioned_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="parquet",
        target_dir=tgt,
        checkpoint_enable=False,
        tidb=TiDBConfig(sql_mode=""),
    )
    run = RestoreController(spark, cfg).run()
    assert run.ok, run.report()
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "partitioned.a")
    )
    got = t.agg(
        F.count(F.lit(1)).alias("n"), F.sum("a").alias("s")
    ).collect()[0]
    assert got["n"] == 7
    assert got["s"] == 277151781
    # partitioned layout materialized: _p=<a mod 5> directories
    subdirs = {
        e for e in os.listdir(os.path.join(tgt, "partitioned.a"))
        if e.startswith("_p=")
    }
    # powers of two mod 5 cycle through {1,2,3,4}; no value lands on 0
    assert subdirs == {"_p=1", "_p=2", "_p=3", "_p=4"}
    # _p is directory metadata, not a data column
    assert "_p" not in t.columns


# ---------------------------------------------------------------------------
# 6. JDBC sink: single materialization
# ---------------------------------------------------------------------------


def test_jdbc_write_single_pass(spark, tmp_path):
    from tidb_lightning_release_4_0_spark.sinks.jdbc_sink import JDBCSink

    evals = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def bump(x):
        evals.add(1)
        return x

    df = spark.range(0, 100, 1, 4).select(bump(F.col("id")).alias("id"))
    out = str(tmp_path / "stmts.txt")

    class _Cur:
        def __init__(self, path):
            self.path = path

        def execute(self, stmt):
            with open(self.path, "a") as f:
                f.write(stmt.count("(") * "x" + "\n")

    class _Conn:
        def __init__(self, path):
            self.path = path

        def cursor(self):
            return _Cur(self.path)

        def commit(self):
            pass

        def close(self):
            pass

    sink = JDBCSink(
        url="jdbc:mysql://nowhere",
        user="u",
        password="p",
        on_duplicate="replace",
        connection_factory=lambda: _Conn(out),
    )
    res = sink.write(df, "t")
    assert res.rows == 100
    # the source was evaluated exactly once per row (df.count() would
    # have doubled this)
    assert evals.value == 100


# ---------------------------------------------------------------------------
# 8. schema-DDL passthrough (K5, restore.go:329-373)
# ---------------------------------------------------------------------------


def test_init_schema_registers_catalog_table(spark):
    """run() applies each dump DDL to the target catalog BEFORE data
    lands: the database/table exist with the dump's structure, and
    the registered name serves the restored rows afterwards."""
    files = {
        "k5db-schema-create.sql": b"CREATE DATABASE k5db;",
        "k5db.t-schema.sql": (
            b"create table t (i bigint primary key, s varchar(8));"
        ),
        "k5db.t.sql": b"INSERT INTO t VALUES (1,'a'), (2,'b');",
    }
    d = _dump("k5db", files)
    tgt = os.path.join(TMP, "k5_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="parquet",
        target_dir=tgt,
        checkpoint_enable=False,
        tidb=TiDBConfig(sql_mode=""),
    )
    run = RestoreController(spark, cfg).run()
    assert run.ok, run.report()
    tables = [r["tableName"] for r in spark.sql("SHOW TABLES IN tlr4s_k5db").collect()]
    assert "t" in tables, tables
    got = spark.sql("SELECT i, s FROM tlr4s_k5db.t ORDER BY i").collect()
    assert [(r["i"], r["s"]) for r in got] == [(1, "a"), (2, "b")]


def test_init_schema_jdbc_records_ddl(spark):
    """The JDBC sink records (and without a live MySQL connection
    does not execute) the verbatim dump DDL."""
    from tidb_lightning_release_4_0_spark.sinks.jdbc_sink import JDBCSink

    sink = JDBCSink("jdbc:mysql://x/db", "u", "p")
    sink.init_schema(spark, "db.t", None, "CREATE TABLE t (i INT)")
    assert sink.applied_ddl == ["CREATE TABLE t (i INT)"]


def test_init_schema_skipped_on_resumed_tables(spark):
    """Resume must not drop a completed table's finalized catalog
    entry (ANALYZE stats + delivered schema)."""
    files = {
        "k5r-schema-create.sql": b"CREATE DATABASE k5r;",
        "k5r.t-schema.sql": b"create table t (i bigint primary key);",
        "k5r.t.sql": b"INSERT INTO t VALUES (1);",
    }
    d = _dump("k5r", files)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="memory",
        tidb=TiDBConfig(sql_mode=""),
    )

    class _RecordingSink(MemorySink):
        def __init__(self):
            super().__init__(on_duplicate="error")
            self.inits: list[str] = []

        def init_schema(self, spark, table, schema, ddl=None):
            self.inits.append(table)

    cp = CheckpointStore(None, enabled=True)
    sink = _RecordingSink()
    run1 = RestoreController(spark, cfg, sink=sink, checkpoints=cp).run()
    assert run1.ok and sink.inits == ["k5r.t"]
    # table completed -> a rerun with the same checkpoints skips init
    cp.set_table_status("k5r.t", Status.CHECKSUMMED)
    RestoreController(spark, cfg, sink=sink, checkpoints=cp).run()
    assert sink.inits == ["k5r.t"]


def test_catalog_ident_digit_leading():
    assert ParquetSink._catalog_ident("db.2024_log") == (
        "tlr4s_db",
        "t_2024_log",
    )
    assert ParquetSink._catalog_ident("db.t") == ("tlr4s_db", "t")


def test_jdbc_execute_ddl_opt_in(spark, tmp_path):
    """execute_ddl=True runs the DDL on the DBAPI connection."""
    from tidb_lightning_release_4_0_spark.sinks.jdbc_sink import JDBCSink

    db = str(tmp_path / "k5.sqlite")
    sink = JDBCSink(
        "jdbc:sqlite://x", "u", "p",
        connection_factory=lambda: sqlite3.connect(db),
        execute_ddl=True,
    )
    sink.init_schema(spark, "d.t", None, "CREATE TABLE t (i INT)")
    assert sink.applied_ddl == ["CREATE TABLE t (i INT)"]
    with sqlite3.connect(db) as conn:
        names = [
            r[0] for r in conn.execute(
                "SELECT name FROM sqlite_master WHERE type='table'"
            )
        ]
    assert names == ["t"]


def test_index_engine_delivery(spark):
    """T8: with index_engine on, each secondary index lands as a
    sorted projection under _indexes/<name>, keyed by the handle,
    and the data read_back does not see the index files."""
    files = {
        "ixe-schema-create.sql": b"CREATE DATABASE ixe;",
        "ixe.t-schema.sql": (
            b"create table t (i bigint primary key, v int, "
            b"key idx_v (v));"
        ),
        "ixe.t.sql": b"INSERT INTO t VALUES (1,30), (2,10), (3,20);",
    }
    d = _dump("ixe", files)
    tgt = os.path.join(TMP, "ixe_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="parquet",
        target_dir=tgt,
        checkpoint_enable=False,
        index_engine=True,
        tidb=TiDBConfig(sql_mode=""),
    )
    sink = ParquetSink(tgt, on_duplicate="error")
    run = RestoreController(spark, cfg, sink=sink).run()
    assert run.ok, run.report()
    ix = sink.read_index(spark, "ixe.t", "idx_v")
    assert sorted(ix.columns) == ["i", "v"]
    rows = [(r["v"], r["i"]) for r in ix.coalesce(1).sortWithinPartitions("v").collect()]
    assert rows == [(10, 2), (20, 3), (30, 1)]
    # data read_back unaffected by the _indexes subtree
    assert sink.read_back(spark, "ixe.t").count() == 3


def test_compact_preserves_index_engines(spark):
    """Post-restore compaction must carry _indexes/ over to the
    compacted layout, and must not count index files in its
    fragmentation heuristic."""
    files = {
        "ixc-schema-create.sql": b"CREATE DATABASE ixc;",
        "ixc.t-schema.sql": (
            b"create table t (i bigint primary key, v int, key idx_v (v));"
        ),
    }
    # many tiny part files -> clearly fragmented -> compaction rewrites
    for p in range(6):
        files[f"ixc.t.{p:04d}.sql"] = (
            f"INSERT INTO t VALUES ({p * 2 + 1},{p}), ({p * 2 + 2},{p});"
        ).encode()
    d = _dump("ixc", files)
    tgt = os.path.join(TMP, "ixc_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d, batch_size=1),
        backend="parquet",
        target_dir=tgt,
        checkpoint_enable=False,
        index_engine=True,
        compact=True,
        tidb=TiDBConfig(sql_mode=""),
    )
    sink = ParquetSink(tgt, on_duplicate="error")
    run = RestoreController(spark, cfg, sink=sink).run()
    assert run.ok, run.report()
    ix = sink.read_index(spark, "ixc.t", "idx_v")
    assert ix.count() == 12
    assert sink.read_back(spark, "ixc.t").count() == 12


def test_strict_csv_short_row_fills_default(spark):
    """Strict-CSV path: a row with fewer fields than the table fills
    column defaults (LOAD DATA semantics) — never the internal
    missing-field sentinel."""
    files = {
        "scs-schema-create.sql": b"CREATE DATABASE scs;",
        "scs.t-schema.sql": (
            b"create table t (i bigint primary key, "
            b"s varchar(8) default 'dd', n int default 7);"
        ),
        "scs.t.csv": b"1,aa,5\n2\n",
    }
    d = _dump("scs", files)
    tgt = os.path.join(TMP, "scs_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(
            source_dir=d, csv=CSVConfig(strict_parser=True)
        ),
        backend="parquet",
        target_dir=tgt,
        checkpoint_enable=False,
        tidb=TiDBConfig(sql_mode=""),
    )
    run = RestoreController(spark, cfg).run()
    assert run.ok, run.report()
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "scs.t")
    )
    got = {r["i"]: (r["s"], r["n"]) for r in t.collect()}
    assert got == {1: ("aa", 5), 2: ("dd", 7)}


def test_physical_mode_single_pass(spark):
    """on_duplicate='physical' (importer-backend analog) must deliver
    in exactly ONE Spark job — no keyed window shuffle, no staging
    dup-scan (parity with restore.go's write phase, which has no
    dedup pass either)."""
    files = {
        "phy-schema-create.sql": b"CREATE DATABASE phy;",
        "phy.t-schema.sql": b"create table t (i bigint primary key);",
        "phy.t.sql": b"INSERT INTO t VALUES (1), (2), (3);",
    }
    d = _dump("phy", files)
    tgt = os.path.join(TMP, "phy_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="parquet",
        target_dir=tgt,
        on_duplicate="physical",
        checkpoint_enable=False,
        checksum=False,
        analyze=False,
        tidb=TiDBConfig(sql_mode=""),
    )
    # count jobs via a dedicated job group: getJobIdsForGroup(None)
    # is capped by spark.ui.retainedJobs, so a long suite session
    # would evict old ids and make a before/after diff read 0
    sc = spark.sparkContext
    st = sc._jsc.sc().statusTracker()
    sc.setJobGroup("phy_single_pass", "physical-mode job count")
    try:
        run = RestoreController(spark, cfg).run()
    finally:
        sc.setJobGroup("", "")
    assert run.ok, run.report()
    n = len(st.getJobIdsForGroup("phy_single_pass"))
    assert n == 1, f"expected 1 job, got {n}"


def test_physical_mode_retains_duplicates(spark):
    """Documented semantics: physical mode does no logical dedup — a
    dup-key input lands as-is (use replace/ignore/error for logical
    dup handling)."""
    files = {
        "phy2-schema-create.sql": b"CREATE DATABASE phy2;",
        "phy2.t-schema.sql": b"create table t (i bigint primary key);",
        "phy2.t.sql": b"INSERT INTO t VALUES (1), (1), (2);",
    }
    d = _dump("phy2", files)
    tgt = os.path.join(TMP, "phy2_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="parquet",
        target_dir=tgt,
        on_duplicate="physical",
        checkpoint_enable=False,
        tidb=TiDBConfig(sql_mode=""),
    )
    run = RestoreController(spark, cfg).run()
    assert run.ok, run.report()
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "phy2.t")
    )
    assert sorted(r["i"] for r in t.collect()) == [1, 1, 2]


def test_parquet_source_ingest(spark):
    """Spark-native source extension: .parquet data files load through
    align-to-DDL (reorder, default fill, cast) with no string-cast
    pass; no-PK tables get _tidb_rowid (capacity scheme, gaps
    allowed)."""
    import pandas as pd

    d = _dump("pqsrc", {
        "pq-schema-create.sql": b"CREATE DATABASE pq;",
        "pq.t-schema.sql": (
            b"create table t (i bigint primary key, s varchar(8), "
            b"n int default 7);"
        ),
        "pq.nk-schema.sql": b"create table nk (v varchar(8));",
    })
    # typed parquet part with a column order different from the DDL
    pd.DataFrame({"s": ["a", "b"], "i": [2, 1]}).to_parquet(
        os.path.join(d, "pq.t.0001.parquet")
    )
    pd.DataFrame({"v": ["x", "y", "z"]}).to_parquet(
        os.path.join(d, "pq.nk.0001.parquet")
    )
    tgt = os.path.join(TMP, "pqsrc_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="parquet",
        target_dir=tgt,
        on_duplicate="physical",
        checkpoint_enable=False,
        tidb=TiDBConfig(sql_mode=""),
    )
    run = RestoreController(spark, cfg).run()
    assert run.ok, run.report()
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "pq.t")
    )
    got = {r["i"]: (r["s"], r["n"]) for r in t.collect()}
    assert got == {1: ("b", 7), 2: ("a", 7)}  # reorder + default fill
    nk = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "pq.nk")
    )
    rows = nk.collect()
    assert sorted(r["v"] for r in rows) == ["x", "y", "z"]
    assert len({r["_tidb_rowid"] for r in rows}) == 3  # unique rowids


def test_parquet_source_case_insensitive_and_strict(spark):
    """Parquet align-to-DDL matches columns case-insensitively, and
    strict sql_mode raises on values a cast would null-fill."""
    import pandas as pd

    d = _dump("pqcase", {
        "pqc-schema-create.sql": b"CREATE DATABASE pqc;",
        "pqc.t-schema.sql": b"create table t (i bigint primary key, s varchar(8));",
    })
    pd.DataFrame({"I": [5], "S": ["up"]}).to_parquet(
        os.path.join(d, "pqc.t.0001.parquet")
    )
    tgt = os.path.join(TMP, "pqcase_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="parquet", target_dir=tgt,
        on_duplicate="physical", checkpoint_enable=False,
        tidb=TiDBConfig(sql_mode=""),
    )
    run = RestoreController(spark, cfg).run()
    assert run.ok, run.report()
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "pqc.t")
    )
    assert [(r["i"], r["s"]) for r in t.collect()] == [(5, "up")]

    # strict: a string that cannot cast to the DDL int must error
    d2 = _dump("pqstrict", {
        "pqs-schema-create.sql": b"CREATE DATABASE pqs;",
        "pqs.t-schema.sql": b"create table t (i bigint primary key);",
    })
    pd.DataFrame({"i": ["abc"]}).to_parquet(
        os.path.join(d2, "pqs.t.0001.parquet")
    )
    tgt2 = os.path.join(TMP, "pqstrict_sink")
    shutil.rmtree(tgt2, ignore_errors=True)
    cfg2 = Config(
        mydumper=MydumperConfig(source_dir=d2),
        backend="parquet", target_dir=tgt2,
        on_duplicate="physical", checkpoint_enable=False,
        tidb=TiDBConfig(sql_mode="STRICT_TRANS_TABLES"),
    )
    run2 = RestoreController(spark, cfg2).run()
    assert not run2.ok
    assert "strict sql_mode" in (run2.tables["pqs.t"].error or "")


def test_parquet_source_mixed_with_csv(spark):
    """A table with both parquet and CSV parts unions cleanly with
    disjoint row-ids."""
    import pandas as pd

    d = _dump("pqmix", {
        "pqm-schema-create.sql": b"CREATE DATABASE pqm;",
        "pqm.t-schema.sql": b"create table t (v varchar(8));",
        "pqm.t.0002.csv": b"c1\nc2\n",
    })
    pd.DataFrame({"v": ["p1", "p2"]}).to_parquet(
        os.path.join(d, "pqm.t.0001.parquet")
    )
    tgt = os.path.join(TMP, "pqmix_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="parquet", target_dir=tgt,
        on_duplicate="physical", checkpoint_enable=False,
        tidb=TiDBConfig(sql_mode=""),
    )
    run = RestoreController(spark, cfg).run()
    assert run.ok, run.report()
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "pqm.t")
    )
    rows = t.collect()
    assert sorted(r["v"] for r in rows) == ["c1", "c2", "p1", "p2"]
    assert len({r["_tidb_rowid"] for r in rows}) == 4  # disjoint ids


def test_parquet_source_explicit_tidb_rowid_wins(spark):
    import pandas as pd

    d = _dump("pqrid", {
        "pqr-schema-create.sql": b"CREATE DATABASE pqr;",
        "pqr.t-schema.sql": b"create table t (v varchar(8));",
    })
    pd.DataFrame({"v": ["a", "b"], "_tidb_rowid": [100, 200]}).to_parquet(
        os.path.join(d, "pqr.t.0001.parquet")
    )
    tgt = os.path.join(TMP, "pqrid_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="parquet", target_dir=tgt,
        on_duplicate="physical", checkpoint_enable=False,
        tidb=TiDBConfig(sql_mode=""),
    )
    run = RestoreController(spark, cfg).run()
    assert run.ok, run.report()
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "pqr.t")
    )
    got = {r["v"]: r["_tidb_rowid"] for r in t.collect()}
    assert got == {"a": 100, "b": 200}
    assert run.tables["pqr.t"].alloc_base == 201


def test_parquet_multi_file_engine_forced_single_shot(spark):
    """Multiple parquet parts with engine batching configured: the
    pipeline must restore single-shot (engine-split reads would reuse
    the same capacity-scheme id range per batch) and still produce
    unique row-ids and exact totals."""
    import pandas as pd

    d = _dump("pqeng", {
        "pqe-schema-create.sql": b"CREATE DATABASE pqe;",
        "pqe.t-schema.sql": b"create table t (v varchar(8));",
    })
    for p in range(4):
        pd.DataFrame({"v": [f"r{p}_{k}" for k in range(5)]}).to_parquet(
            os.path.join(d, f"pqe.t.{p:04d}.parquet")
        )
    tgt = os.path.join(TMP, "pqeng_sink")
    cp_path = os.path.join(TMP, "pqeng_cp.json")
    shutil.rmtree(tgt, ignore_errors=True)
    if os.path.exists(cp_path):
        os.remove(cp_path)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d, batch_size=1),  # 1 file/engine
        backend="parquet",
        target_dir=tgt,
        on_duplicate="physical",
        checkpoint_path=cp_path,
        tidb=TiDBConfig(sql_mode=""),
    )
    run = RestoreController(spark, cfg).run()
    assert run.ok, run.report()
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "pqe.t")
    )
    rows = t.collect()
    assert len(rows) == 20
    assert len({r["_tidb_rowid"] for r in rows}) == 20  # no collisions


def test_gzip_csv_ingest(spark):
    """Gzip CSV parts (beyond-reference): Spark decompresses in the
    reader; row-ids use the capacity scheme (compressed sizes cannot
    bound row counts) and stay unique across mixed gz+plain parts."""
    import gzip

    d = _dump("gzsrc", {
        "gz-schema-create.sql": b"CREATE DATABASE gz;",
        "gz.t-schema.sql": b"create table t (v varchar(8));",
        "gz.t.0002.csv": b"p1\np2\n",
    })
    with gzip.open(os.path.join(d, "gz.t.0001.csv.gz"), "wb") as f:
        f.write(b"g1\ng2\ng3\n")
    tgt = os.path.join(TMP, "gzsrc_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="parquet",
        target_dir=tgt,
        on_duplicate="physical",
        checkpoint_enable=False,
        tidb=TiDBConfig(sql_mode=""),
    )
    run = RestoreController(spark, cfg).run()
    assert run.ok, run.report()
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "gz.t")
    )
    rows = t.collect()
    assert sorted(r["v"] for r in rows) == ["g1", "g2", "g3", "p1", "p2"]
    assert len({r["_tidb_rowid"] for r in rows}) == 5


def test_gzip_csv_strict_parser_rejected(spark):
    import gzip

    d = _dump("gzstrict", {
        "gs-schema-create.sql": b"CREATE DATABASE gs;",
        "gs.t-schema.sql": b"create table t (v varchar(8));",
    })
    with gzip.open(os.path.join(d, "gs.t.0001.csv.gz"), "wb") as f:
        f.write(b"x\n")
    cfg = Config(
        mydumper=MydumperConfig(
            source_dir=d, csv=CSVConfig(strict_parser=True)
        ),
        backend="memory",
        tidb=TiDBConfig(sql_mode=""),
    )
    run = RestoreController(spark, cfg).run()
    assert not run.ok
    assert "gunzip" in (run.tables["gs.t"].error or "")


def test_mixed_parquet_gzip_csv_ids_disjoint(spark):
    """All three capacity/base id lanes stay disjoint when one table
    mixes parquet, gzip CSV, and plain CSV parts."""
    import gzip

    import pandas as pd

    d = _dump("allmix", {
        "am-schema-create.sql": b"CREATE DATABASE am;",
        "am.t-schema.sql": b"create table t (v varchar(8));",
        "am.t.0003.csv": b"c1\nc2\n",
    })
    pd.DataFrame({"v": ["p1", "p2"]}).to_parquet(
        os.path.join(d, "am.t.0001.parquet")
    )
    with gzip.open(os.path.join(d, "am.t.0002.csv.gz"), "wb") as f:
        f.write(b"g1\ng2\n")
    tgt = os.path.join(TMP, "allmix_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="parquet",
        target_dir=tgt,
        on_duplicate="physical",
        checkpoint_enable=False,
        tidb=TiDBConfig(sql_mode=""),
    )
    run = RestoreController(spark, cfg).run()
    assert run.ok, run.report()
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "am.t")
    )
    rows = t.collect()
    assert sorted(r["v"] for r in rows) == ["c1", "c2", "g1", "g2", "p1", "p2"]
    assert len({r["_tidb_rowid"] for r in rows}) == 6


# ---------------------------------------------------------------------------
# sorted delivery (sorted-SST ingest analog)
# ---------------------------------------------------------------------------


def test_sorted_output_orders_rows_within_files(spark):
    """sorted_output=True: every delivered parquet file is internally
    ordered by the PK (a local sort — no shuffle), so file min/max
    stats are tight for downstream pruning. Default stays unsorted."""
    import glob

    rows = ", ".join(
        f"({k}, 'v{k}')" for k in [9, 3, 7, 1, 8, 2, 6, 4, 5, 0]
    )
    files = {
        "srt-schema-create.sql": b"CREATE DATABASE srt;",
        "srt.t-schema.sql": (
            b"create table t (k bigint primary key, v varchar(8));"
        ),
        "srt.t.sql": f"INSERT INTO t VALUES {rows};".encode(),
    }
    d = _dump("sorted_out", files)
    tgt = os.path.join(TMP, "sorted_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="parquet",
        target_dir=tgt,
        on_duplicate="physical",
        checkpoint_enable=False,
        sorted_output=True,
        tidb=TiDBConfig(sql_mode=""),
    )
    run = RestoreController(spark, cfg).run()
    assert run.ok, run.report()
    parts = glob.glob(os.path.join(tgt, "srt.t", "**", "*.parquet"),
                      recursive=True)
    assert parts
    total = 0
    for p in parts:
        ks = [r["k"] for r in spark.read.parquet(p).collect()]
        assert ks == sorted(ks), p
        total += len(ks)
    assert total == 10
