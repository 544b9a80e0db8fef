"""Regression tests for the round-1 ADVICE findings.

1. CheckpointStore mutators are lock-protected (torn-snapshot race)
2. backend='jdbc' wires a JDBCSink; replace/ignore delivered via
   REPLACE INTO / INSERT IGNORE (or rejected without a connection)
3. CSV trim_last_sep drops the synthetic trailing field, preserving
   a legitimately-empty last column ('' vs NULL)
4. strict sql_mode rejects out-of-range BIGINT UNSIGNED
5. assign_rowid_by_file tolerates zero-row input
"""

from __future__ import annotations

import json
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tidb_lightning_release_4_0_spark.config import CSVConfig
from tidb_lightning_release_4_0_spark.operators.cast import mysql_cast
from tidb_lightning_release_4_0_spark.operators.rowid import (
    assign_rowid_by_file,
)
from tidb_lightning_release_4_0_spark.plans.checkpoints import (
    CheckpointStore,
    Status,
)
from tidb_lightning_release_4_0_spark.sinks.jdbc_sink import JDBCSink
from tidb_lightning_release_4_0_spark.sources.csv_source import read_csv
from tidb_lightning_release_4_0_spark.sources.schema_reader import ColumnSpec


# -- 1: checkpoint concurrency ------------------------------------------------


def test_checkpoint_concurrent_mutation(tmp_path):
    """Hammer all mutators from table_concurrency-style threads; the
    persisted snapshot must parse and contain every final state."""
    path = str(tmp_path / "cp.json")
    cp = CheckpointStore(path, enabled=True)
    n_threads, n_iter = 8, 50

    def worker(i: int) -> None:
        t = f"db.t{i}"
        for j in range(n_iter):
            cp.set_table_status(t, Status.LOADED)
            cp.mark_chunk(t, f"f{j % 5}.csv", Status.ALL_WRITTEN)
            cp.set_alloc_base(t, j)
            cp.set_table_status(t, Status.ANALYZED)

    threads = [
        threading.Thread(target=worker, args=(i,)) for i in range(n_threads)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    with open(path) as f:
        state = json.load(f)  # must be valid, untorn JSON
    for i in range(n_threads):
        assert state["tables"][f"db.t{i}"]["status"] == int(Status.ANALYZED)
        assert state["tables"][f"db.t{i}"]["alloc_base"] == n_iter - 1


# -- 2: jdbc sink wiring + duplicate modes ------------------------------------


def test_default_sink_jdbc_backend(spark, tmp_path):
    from tidb_lightning_release_4_0_spark.config import (
        Config,
        MydumperConfig,
    )
    from tidb_lightning_release_4_0_spark.plans.pipeline import (
        RestoreController,
    )

    cfg = Config(
        mydumper=MydumperConfig(source_dir=str(tmp_path)),
        backend="jdbc",
        checkpoint_enable=False,
    )
    rc = RestoreController(spark, cfg)
    assert isinstance(rc.sink, JDBCSink)
    assert rc.sink.on_duplicate == cfg.on_duplicate


def test_jdbc_replace_requires_connection_factory(spark):
    sink = JDBCSink("jdbc:mysql://x:4000", "root", "", on_duplicate="replace")
    df = spark.range(3).select(F.col("id"))
    with pytest.raises(NotImplementedError, match="REPLACE"):
        sink.write(df, "t")


def test_jdbc_replace_renders_replace_into(spark, tmp_path):
    # the factory runs inside executor python workers; define it as a
    # closure (cloudpickle serializes locals by value) that captures
    # statements to the shared filesystem
    cap_dir = str(tmp_path)

    def fake_factory():
        import os
        import tempfile

        class Cur:
            def execute(self, stmt):
                fd, p = tempfile.mkstemp(dir=cap_dir, suffix=".sql")
                with os.fdopen(fd, "w") as f:
                    f.write(stmt)

        class Conn:
            def cursor(self):
                return Cur()

            def commit(self):
                pass

            def close(self):
                pass

        return Conn()

    sink = JDBCSink(
        "jdbc:mysql://x:4000",
        "root",
        "",
        on_duplicate="replace",
        connection_factory=fake_factory,
        batch_size=2,
    )
    df = spark.range(5).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("s")
    ).coalesce(1)
    res = sink.write(df, "t")
    assert res.rows == 5
    stmts = [
        open(p).read() for p in tmp_path.glob("*.sql")
    ]
    assert stmts and all(s.startswith("REPLACE INTO `t` (`id`,`s`)") for s in stmts)
    joined = " ".join(stmts)
    for i in range(5):
        assert f"({i},'v{i}')" in joined


# -- 3: trim_last_sep ---------------------------------------------------------


def test_trim_last_sep_preserves_empty_last_value(spark, tmp_path):
    p = tmp_path / "t.csv"
    # row 1: real empty-string last value, then trailing separator
    # row 2: populated last value, trailing separator
    p.write_text('1,"",\n2,"x",\n')
    cfg = CSVConfig(separator=",", delimiter='"', header=False, trim_last_sep=True)
    df = read_csv(spark, str(p), cfg, column_names=["_c0", "_c1"])
    rows = {r[0]: r[1] for r in df.collect()}
    assert df.columns == ["_c0", "_c1"]
    assert rows["1"] == ""  # was corrupted to NULL before the fix
    assert rows["2"] == "x"


# -- 4: strict uint64 out-of-range --------------------------------------------


def _u64_spec():
    return ColumnSpec("v", "bigint", T.DecimalType(20, 0), unsigned=True)


def test_strict_uint64_negative_raises(spark):
    df = spark.createDataFrame([("-1",)], ["v"])
    out = df.select(mysql_cast(F.col("v"), _u64_spec(), strict=True).alias("u"))
    with pytest.raises(Exception, match="bad value for v"):
        out.collect()


def test_strict_uint64_overflow_raises(spark):
    df = spark.createDataFrame([("18446744073709551616",)], ["v"])
    out = df.select(mysql_cast(F.col("v"), _u64_spec(), strict=True).alias("u"))
    with pytest.raises(Exception, match="bad value for v"):
        out.collect()


def test_strict_uint64_max_value_ok(spark):
    df = spark.createDataFrame([("18446744073709551615",), (None,)], ["v"])
    out = df.select(
        mysql_cast(F.col("v"), _u64_spec(), strict=True).alias("u")
    ).collect()
    assert str(out[0][0]) == "18446744073709551615"
    assert out[1][0] is None


def test_lenient_uint64_still_clamps(spark):
    df = spark.createDataFrame([("-1",), ("18446744073709551616",)], ["v"])
    out = df.select(
        mysql_cast(F.col("v"), _u64_spec(), strict=False).alias("u")
    ).collect()
    assert str(out[0][0]) == "0"
    assert str(out[1][0]) == "18446744073709551615"


# -- 5: empty-input rowid -----------------------------------------------------


def test_assign_rowid_by_file_empty_input(spark):
    schema = T.StructType([T.StructField("a", T.StringType())])
    df = spark.createDataFrame([], schema)
    out = assign_rowid_by_file(df, {})
    assert out.count() == 0
    assert "_row_id" in out.columns


# -- rowid fast path (no-aggregation row-ids for whole-file reads) ------------


def test_rowid_fast_path_dense_many_small_files(spark, tmp_path):
    """200 small files would normally bin-pack into ~30 FilePartitions
    (breaking the mono-id bit trick); the session's openCostInBytes
    forces one file per task, so the job-free fast path must produce
    exactly the same dense per-file ids as the min-agg slow path."""
    import os

    from tidb_lightning_release_4_0_spark.operators.rowid import (
        file_row_bases,
    )

    nfiles, rows_per = 200, 20
    # input_file_name() percent-encodes a space, '%' and '#': the base
    # join must still match every file in such a directory
    for sub in ("plain", "sp ace%25x#q"):
        d = tmp_path / sub
        d.mkdir()
        for i in range(nfiles):
            with open(d / f"p{i:03d}.csv", "w") as f:
                for j in range(rows_per):
                    f.write(f"{i},{j}\n")
        files = sorted(
            (str(d / n), os.path.getsize(d / n)) for n in os.listdir(d)
        )
        bases = file_row_bases(files, num_columns=2, is_sql=False)
        cfg = CSVConfig(separator=",", header=False)
        df = read_csv(
            spark, [p for p, _ in files], cfg, column_names=["_c0", "_c1"]
        )

        fast = assign_rowid_by_file(df, bases, one_file_per_partition=True)
        slow = assign_rowid_by_file(df, bases)
        a = {(r["_c0"], r["_c1"]): r["_row_id"] for r in fast.collect()}
        b = {(r["_c0"], r["_c1"]): r["_row_id"] for r in slow.collect()}
        assert a == b, sub
        assert len(a) == nfiles * rows_per, sub
        assert len(set(a.values())) == nfiles * rows_per, sub  # unique


def test_rowid_fast_path_broadcast_join_branch(spark, tmp_path):
    """>1024 files takes the broadcast-join branch; exercise it by
    lowering the literal-map cutoff indirectly: call with a bases dict
    padded past the cutoff."""
    import os

    p = tmp_path / "one.csv"
    p.write_text("1,a\n2,b\n3,c\n")
    real = str(p)
    bases = {f"/nonexistent/pad{i}": i for i in range(1030)}
    bases[real] = 100
    cfg = CSVConfig(separator=",", header=False)
    df = read_csv(spark, [real], cfg, column_names=["_c0", "_c1"])
    out = assign_rowid_by_file(df, bases, one_file_per_partition=True)
    ids = sorted(r["_row_id"] for r in out.collect())
    assert ids == [101, 102, 103]


def test_rowids_unique_under_percent_encoded_dump_dir(spark, tmp_path):
    """A PK-less table restored from a directory whose name Spark
    percent-encodes in input_file_name(): every file must still get
    its own row-id base, so the hidden _tidb_rowid stays unique."""
    from tidb_lightning_release_4_0_spark.config import Config, MydumperConfig
    from tidb_lightning_release_4_0_spark.plans.pipeline import (
        RestoreController,
    )

    d = tmp_path / "sp ace"
    d.mkdir()
    (d / "db-schema-create.sql").write_text("CREATE DATABASE db;")
    (d / "db.t-schema.sql").write_text("CREATE TABLE t (v INT)")
    for part in range(3):
        (d / f"db.t.{part:04d}.csv").write_text(
            "".join(f"{part * 5 + i}\n" for i in range(5))
        )
    tgt = str(tmp_path / "sink")
    run = RestoreController(
        spark,
        Config(
            mydumper=MydumperConfig(source_dir=str(d)),
            backend="parquet",
            target_dir=tgt,
            checkpoint_enable=False,
        ),
    ).run()
    assert run.ok, run.report()
    got = spark.read.parquet(tgt + "/db.t")
    assert got.count() == 15
    assert got.select("_tidb_rowid").distinct().count() == 15
