"""K3 SQL-sink DELIVERY (not just rendering): the JDBC sink executes
its rendered REPLACE INTO / INSERT IGNORE / INSERT INTO statements
through foreachPartition against a fake MySQL-protocol endpoint that
parses and applies the SQL text (tests/fake_mysql.py) — reproducing
the reference's tidb-backend write path (tidb.go:271-316), the retry
classifier (common/util.go:186-218) and the tests/tidb_duplicate_data
golden semantics through the sink interface.
"""

from __future__ import annotations

import os
import shutil

import pytest

from tests.fake_mysql import (
    FakeMySQL,
    IntegrityError,
    OperationalError,
    ProgrammingError,
)
from tidb_lightning_release_4_0_spark.sinks.jdbc_sink import (
    JDBCSink,
    is_retryable_error,
    render_insert,
)

TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "jdbc_delivery"
)

DDL = """
CREATE TABLE `dup` (
  `pk` INT NOT NULL PRIMARY KEY,
  `d` VARCHAR(8) NOT NULL
);
"""


def _server(name: str) -> FakeMySQL:
    path = os.path.join(TMP, name, "db.sqlite")
    shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    return FakeMySQL(path)


def _sink(srv: FakeMySQL, mode: str, **kw) -> JDBCSink:
    s = JDBCSink(
        url="jdbc:mysql://fake:4000",
        user="root",
        password="",
        on_duplicate=mode,
        connection_factory=srv.factory(),
        execute_ddl=True,
        **kw,
    )
    s.init_schema(None, "db.dup", None, DDL)
    return s


def _df(spark, pairs, parts=1):
    return spark.createDataFrame(pairs, "pk int, d string").coalesce(parts)


def test_fake_executes_rendered_literals_roundtrip():
    """Every literal form the renderer emits must decode back to the
    exact value through the fake's parser — real execution of the
    escaping rules, not text comparison."""
    import datetime as dt

    srv = _server("literals")
    conn = srv.factory()()
    cur = conn.cursor()
    cur.execute(
        "CREATE TABLE `t` (`a` INT PRIMARY KEY, `b` VARCHAR(64), "
        "`c` BLOB, `d` DOUBLE, `e` DATETIME)"
    )
    rows = [
        (1, "it's\n\t\\weird\0", b"\x00\xffab", -1.5e-3,
         dt.datetime(2024, 2, 29, 12, 30, 45)),
        (2, None, None, 7.0, None),
    ]
    cur.execute(render_insert("t", ["a", "b", "c", "d", "e"], rows))
    conn.commit()
    conn.close()
    got = srv.dump_table("t")
    assert got[0]["b"] == "it's\n\t\\weird\0"
    assert got[0]["c"] == b"\x00\xffab"
    assert got[0]["d"] == -1.5e-3
    assert got[0]["e"] == "2024-02-29 12:30:45"  # rendered literal
    assert got[1]["b"] is None and got[1]["c"] is None


def test_duplicate_data_golden_replace_ignore(spark):
    """tests/tidb_duplicate_data/run.sh through the sink: old then
    new delivery; replace -> new wins, ignore -> old kept."""
    for mode, expect in [
        ("replace", {1: "new", 2: "new"}),
        ("ignore", {1: "old", 2: "new"}),
    ]:
        srv = _server(f"golden_{mode}")
        sink = _sink(srv, mode)
        r1 = sink.write(_df(spark, [(1, "old")]), "db.dup")
        assert r1.rows == 1
        r2 = sink.write(_df(spark, [(1, "new"), (2, "new")]), "db.dup")
        assert r2.rows == 2
        got = {r["pk"]: r["d"] for r in srv.dump_table("db.dup")}
        assert got == expect, mode


def test_error_mode_raises_duplicate_and_applies_nothing(spark):
    srv = _server("error")
    sink = _sink(srv, "error")
    sink.write(_df(spark, [(1, "old")]), "db.dup")
    with pytest.raises(Exception) as ei:
        sink.write(_df(spark, [(2, "new"), (1, "new")]), "db.dup")
    assert "Duplicate entry" in str(ei.value)
    # statement atomicity: the failing multi-row INSERT applied nothing
    got = {r["pk"]: r["d"] for r in srv.dump_table("db.dup")}
    assert got == {1: "old"}


def test_batch_split_emits_sub_batches(spark):
    """tidb.go:240-245 sub-batching: batch_size=2 over 5 rows ->
    3 statements, each <= 2 tuples."""
    srv = _server("batch")
    sink = _sink(srv, "replace", batch_size=2)
    sink.write(_df(spark, [(i, f"v{i}") for i in range(5)]), "db.dup")
    stmts = [s for s, o in srv.executed_statements() if o == "ok"]
    assert len(stmts) == 3
    assert all(s.count("),(") + 1 <= 2 for s in stmts)
    assert len(srv.dump_table("db.dup")) == 5


def test_transient_errors_retry_then_succeed(spark):
    """Two injected deadlock/lost-connection faults: the classifier
    retries and the delivery completes."""
    srv = _server("retry")
    sink = _sink(srv, "replace")
    srv.inject_faults([1213, 2013])
    sink.write(_df(spark, [(1, "a"), (2, "b")]), "db.dup")
    outcomes = [o for _, o in srv.executed_statements()]
    assert outcomes == ["err:1213", "err:2013", "ok"]
    assert len(srv.dump_table("db.dup")) == 2


def test_nonretryable_error_fails_fast(spark):
    """A 1062 injected as a fault must NOT be retried (the old code
    retried everything)."""
    srv = _server("failfast")
    sink = _sink(srv, "replace")
    srv.inject_faults([1062])
    with pytest.raises(Exception):
        sink.write(_df(spark, [(1, "a")]), "db.dup")
    outcomes = [o for _, o in srv.executed_statements()]
    assert outcomes == ["err:1062"], "must fail on first attempt"


def test_retry_classifier_matches_reference_classes():
    assert is_retryable_error(OperationalError(2013, "lost conn"))
    assert is_retryable_error(OperationalError(1213, "deadlock"))
    assert is_retryable_error(ConnectionResetError())
    assert not is_retryable_error(IntegrityError(1062, "dup"))
    assert not is_retryable_error(ProgrammingError(1064, "syntax"))
    assert not is_retryable_error(ValueError("x"))


def test_parallel_partitions_deliver_all_rows(spark):
    """foreachPartition from many concurrent executor processes into
    the one endpoint: all rows land exactly once (cross-process
    locking), disjoint keys so order does not matter."""
    srv = _server("parallel")
    sink = _sink(srv, "replace", batch_size=10)
    df = _df(spark, [(i, f"v{i}") for i in range(200)], parts=8)
    res = sink.write(df, "db.dup")
    assert res.rows == 200
    got = {r["pk"]: r["d"] for r in srv.dump_table("db.dup")}
    assert got == {i: f"v{i}" for i in range(200)}


def test_e2e_restore_through_fake_endpoint(spark):
    """Full RestoreController run with backend jdbc + injected sink:
    dump files -> parse -> cast -> rendered SQL executed on the
    endpoint; replace semantics across two runs (the golden flow)."""
    from tidb_lightning_release_4_0_spark.config import (
        Config,
        MydumperConfig,
    )
    from tidb_lightning_release_4_0_spark.plans.pipeline import (
        RestoreController,
    )
    from tidb_lightning_release_4_0_spark.sources.dump_writer import (
        write_dump_table,
    )
    import pandas as pd

    srv = _server("e2e")
    dump = os.path.join(TMP, "e2e", "dump")

    def run(rows):
        shutil.rmtree(dump, ignore_errors=True)
        write_dump_table(
            dump, "db", "dup",
            pd.DataFrame(rows, columns=["pk", "d"]),
            DDL.strip().rstrip(";"), fmt="sql",
        )
        cfg = Config(
            mydumper=MydumperConfig(source_dir=dump),
            backend="jdbc",
            checkpoint_enable=False,
            on_duplicate="replace",
            checksum=False,
            analyze=False,
        )
        sink = JDBCSink(
            url="jdbc:mysql://fake:4000", user="root", password="",
            on_duplicate="replace",
            connection_factory=srv.factory(), execute_ddl=True,
        )
        s = RestoreController(spark, cfg, sink=sink).run()
        assert s.ok, s.report()
        return s

    run([(1, "old")])
    s2 = run([(1, "new"), (2, "new")])
    got = {r["pk"]: r["d"] for r in srv.dump_table("db.dup")}
    assert got == {1: "new", 2: "new"}
    assert s2.tables["db.dup"].rows == 2


def test_rendered_statements_never_contain_row_id(spark):
    """The internal _row_id arrival-order column must not leak into
    rendered column lists (a real server errors 1054 Unknown column;
    the fake accepted it silently)."""
    srv = _server("rowid_leak")
    sink = _sink(srv, "replace")
    df = spark.createDataFrame(
        [(1, "a", 11), (2, "b", 12)], "pk int, d string, _row_id long"
    ).coalesce(1)
    res = sink.write(df, "db.dup")
    assert res.rows == 2
    stmts = [s for s, o in srv.executed_statements()]
    assert stmts and all("_row_id" not in s for s in stmts)
    got = srv.dump_table("db.dup")
    assert all(set(r) == {"pk", "d"} for r in got)
