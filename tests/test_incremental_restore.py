"""Incremental (cross-run) restore: the tidb-backend live-table dup
semantics mapped to bulk files — golden flow from the reference's
tests/tidb_duplicate_data/run.sh: after a partial first delivery of
'old' rows, a second load of 'new' rows yields

- replace: every key reads 'new'
- ignore: previously delivered keys keep 'old', fresh keys get 'new'
- error: 'Duplicate entry' and the delivered table is untouched

plus _tidb_rowid/AllocBase continuation for PK-less tables
(restore.go AllocBase handling, C4)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tidb_lightning_release_4_0_spark.config import Config, MydumperConfig
from tidb_lightning_release_4_0_spark.plans.pipeline import RestoreController
from tidb_lightning_release_4_0_spark.sources.dump_writer import (
    write_dump_table,
)

TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "incremental"
)

DUP_DDL = """
CREATE TABLE `dup` (
  `pk` INT NOT NULL PRIMARY KEY,
  `d` VARCHAR(3) NOT NULL
)
"""

NOPK_DDL = """
CREATE TABLE `log` (
  `msg` VARCHAR(16) NOT NULL
)
"""


def _cfg(dump: str, tgt: str, mode: str) -> Config:
    return Config(
        mydumper=MydumperConfig(source_dir=dump),
        backend="parquet",
        target_dir=tgt,
        checkpoint_enable=False,
        on_duplicate=mode,
        incremental=True,
    )


def _dump_rows(dump: str, rows: list[tuple[int, str]]) -> None:
    import pandas as pd

    shutil.rmtree(dump, ignore_errors=True)
    pdf = pd.DataFrame(rows, columns=["pk", "d"])
    write_dump_table(dump, "dup", "dup", pdf, DUP_DDL, fmt="sql")


@pytest.mark.parametrize(
    "mode,expect",
    [
        ("replace", {1: "new", 2: "new"}),
        ("ignore", {1: "old", 2: "new"}),
    ],
)
def test_duplicate_data_golden(spark, mode, expect):
    """tests/tidb_duplicate_data/run.sh count/value invariants."""
    dump = os.path.join(TMP, f"dump_{mode}")
    tgt = os.path.join(TMP, f"sink_{mode}")
    shutil.rmtree(tgt, ignore_errors=True)
    # first (partial) delivery: only pk=1, value 'old'
    _dump_rows(dump, [(1, "old")])
    s1 = RestoreController(spark, _cfg(dump, tgt, mode)).run()
    assert s1.ok, s1.report()
    # second delivery: full data, values 'new'
    _dump_rows(dump, [(1, "new"), (2, "new")])
    s2 = RestoreController(spark, _cfg(dump, tgt, mode)).run()
    assert s2.ok, s2.report()
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "dup.dup")
    )
    got = {r["pk"]: r["d"] for r in t.collect()}
    assert got == expect  # count(*): 2 + per-key d values
    assert s2.tables["dup.dup"].rows == 2


def test_duplicate_data_error_keeps_target(spark):
    dump = os.path.join(TMP, "dump_err")
    tgt = os.path.join(TMP, "sink_err")
    shutil.rmtree(tgt, ignore_errors=True)
    _dump_rows(dump, [(1, "old")])
    s1 = RestoreController(spark, _cfg(dump, tgt, "error")).run()
    assert s1.ok, s1.report()
    _dump_rows(dump, [(1, "new"), (2, "new")])
    s2 = RestoreController(spark, _cfg(dump, tgt, "error")).run()
    assert not s2.ok
    assert "Duplicate entry" in (s2.tables["dup.dup"].error or "")
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "dup.dup")
    )
    assert [(r["pk"], r["d"]) for r in t.collect()] == [(1, "old")]


def test_error_mode_accepts_disjoint_increment(spark):
    """No key overlap -> the error-mode increment appends cleanly."""
    dump = os.path.join(TMP, "dump_ok")
    tgt = os.path.join(TMP, "sink_ok")
    shutil.rmtree(tgt, ignore_errors=True)
    _dump_rows(dump, [(1, "old")])
    s1 = RestoreController(spark, _cfg(dump, tgt, "error")).run()
    assert s1.ok, s1.report()
    _dump_rows(dump, [(2, "new"), (3, "new")])
    s2 = RestoreController(spark, _cfg(dump, tgt, "error")).run()
    assert s2.ok, s2.report()
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "dup.dup")
    )
    assert {r["pk"]: r["d"] for r in t.collect()} == {
        1: "old",
        2: "new",
        3: "new",
    }


def test_nopk_increment_continues_rowid(spark):
    """PK-less append: _tidb_rowid continues from the delivered max
    and the reported alloc_base covers the merged table (C4)."""
    import pandas as pd

    from tidb_lightning_release_4_0_spark.operators.permutation import (
        ROWID_COL,
    )

    dump = os.path.join(TMP, "dump_nopk")
    tgt = os.path.join(TMP, "sink_nopk")
    shutil.rmtree(tgt, ignore_errors=True)

    def load(msgs):
        shutil.rmtree(dump, ignore_errors=True)
        write_dump_table(
            dump, "inc", "log",
            pd.DataFrame({"msg": msgs}), NOPK_DDL, fmt="sql",
        )
        return RestoreController(spark, _cfg(dump, tgt, "replace")).run()

    s1 = load(["a", "b", "c"])
    assert s1.ok, s1.report()
    s2 = load(["d", "e"])
    assert s2.ok, s2.report()
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "inc.log")
    )
    assert t.count() == 5
    ids = sorted(r[ROWID_COL] for r in t.select(ROWID_COL).collect())
    assert ids == [1, 2, 3, 4, 5]  # dense continuation, no collision
    assert s2.tables["inc.log"].alloc_base == 6


def test_incremental_requires_parquet():
    with pytest.raises(ValueError):
        Config(
            mydumper=MydumperConfig(source_dir="/x"),
            backend="memory",
            incremental=True,
        ).adjust()


def test_incremental_checksum_monoid_verification(spark):
    """C2/C3 across increments: the delivered checksum is persisted
    in a sidecar and each error-mode increment verifies
    prior XOR batch == read-back. Corrupting the delivered table
    between increments must fail the next verification."""
    dump = os.path.join(TMP, "dump_ck")
    tgt = os.path.join(TMP, "sink_ck")
    shutil.rmtree(tgt, ignore_errors=True)
    _dump_rows(dump, [(1, "aaa"), (2, "bbb")])
    s1 = RestoreController(spark, _cfg(dump, tgt, "error")).run()
    assert s1.ok, s1.report()
    sidecar = os.path.join(tgt, "dup.dup", "_checksum.json")
    assert os.path.exists(sidecar)

    _dump_rows(dump, [(3, "ccc")])
    s2 = RestoreController(spark, _cfg(dump, tgt, "error")).run()
    assert s2.ok, s2.report()  # merge verified against prior+batch
    assert s2.tables["dup.dup"].rows == 3

    # tamper with the delivered data: drop one parquet file
    victim = next(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(tgt, "dup.dup"))
        for f in fs
        if f.endswith(".parquet")
    )
    os.remove(victim)
    _dump_rows(dump, [(4, "ddd")])
    s3 = RestoreController(spark, _cfg(dump, tgt, "error")).run()
    assert not s3.ok
    assert "checksum mismatched" in (s3.tables["dup.dup"].error or "")


def test_replace_increment_drops_stale_sidecar(spark):
    """replace merges can drop rows -> the delivered checksum is
    unknown and the sidecar must not survive to poison a later
    error-mode increment."""
    dump = os.path.join(TMP, "dump_ck2")
    tgt = os.path.join(TMP, "sink_ck2")
    shutil.rmtree(tgt, ignore_errors=True)
    _dump_rows(dump, [(1, "aaa")])
    s1 = RestoreController(spark, _cfg(dump, tgt, "replace")).run()
    assert s1.ok, s1.report()
    _dump_rows(dump, [(1, "new")])
    s2 = RestoreController(spark, _cfg(dump, tgt, "replace")).run()
    assert s2.ok, s2.report()
    assert not os.path.exists(
        os.path.join(tgt, "dup.dup", "_checksum.json")
    )
    # and a later error-mode disjoint increment still works (prior
    # unknown -> merge comparison skipped, run succeeds)
    _dump_rows(dump, [(5, "eee")])
    s3 = RestoreController(spark, _cfg(dump, tgt, "error")).run()
    assert s3.ok, s3.report()


def test_stale_sidecar_invalidated_by_redelivery(spark):
    """A full (non-incremental) redelivery with checksum disabled
    must not leave the previous run's checksum sidecar behind — it
    would poison a later incremental error-mode verification."""
    dump = os.path.join(TMP, "dump_stale")
    tgt = os.path.join(TMP, "sink_stale")
    shutil.rmtree(tgt, ignore_errors=True)
    _dump_rows(dump, [(1, "aaa")])
    cfg = _cfg(dump, tgt, "error")
    s1 = RestoreController(spark, cfg).run()
    assert s1.ok, s1.report()
    sidecar = os.path.join(tgt, "dup.dup", "_checksum.json")
    assert os.path.exists(sidecar)

    # full overwrite with DIFFERENT data and checksum off
    _dump_rows(dump, [(7, "xxx"), (8, "yyy")])
    cfg2 = _cfg(dump, tgt, "error")
    cfg2.incremental = False
    cfg2.checksum = False
    s2 = RestoreController(spark, cfg2).run()
    assert s2.ok, s2.report()
    assert not os.path.exists(sidecar)

    # incremental error-mode increment on top still verifies cleanly
    # (prior unknown -> merge comparison skipped, not failed)
    _dump_rows(dump, [(9, "zzz")])
    s3 = RestoreController(spark, _cfg(dump, tgt, "error")).run()
    assert s3.ok, s3.report()


def test_partition_pruned_increment(spark):
    """Hash-partitioned target + incremental: only the partitions
    receiving arriving keys are rewritten; every other partition dir
    stays byte-identical (O(k/n) of the table per increment)."""
    import pandas as pd

    dump = os.path.join(TMP, "dump_pp")
    tgt = os.path.join(TMP, "sink_pp")
    shutil.rmtree(tgt, ignore_errors=True)

    ddl = (
        "CREATE TABLE `dup` (`pk` INT NOT NULL PRIMARY KEY, "
        "`d` VARCHAR(3) NOT NULL) PARTITION BY HASH(pk) PARTITIONS 4"
    )

    def load(rows):
        shutil.rmtree(dump, ignore_errors=True)
        write_dump_table(
            dump, "dup", "dup",
            pd.DataFrame(rows, columns=["pk", "d"]), ddl, fmt="sql",
        )
        return RestoreController(spark, _cfg(dump, tgt, "replace")).run()

    s1 = load([(k, "old") for k in range(12)])
    assert s1.ok, s1.report()
    tdir = os.path.join(tgt, "dup.dup")

    def snapshot(pv):
        d = os.path.join(tdir, f"_p={pv}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)), 
             os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d)
            if not f.startswith(".")
        )

    before = {pv: snapshot(pv) for pv in range(4)}
    # keys 1 and 5 both hash to partition 1
    s2 = load([(1, "new"), (5, "new")])
    assert s2.ok, s2.report()
    assert s2.tables["dup.dup"].rows == 12
    after = {pv: snapshot(pv) for pv in range(4)}
    assert after[1] != before[1]  # touched partition rewritten
    for pv in (0, 2, 3):  # untouched partitions byte-identical
        assert after[pv] == before[pv], pv
    t = spark.read.parquet(tdir)
    got = {r["pk"]: r["d"] for r in t.collect()}
    assert got == {k: ("new" if k in (1, 5) else "old") for k in range(12)}


def test_rejected_increment_preserves_sidecar(spark):
    """A REJECTED error-mode batch leaves the target untouched — and
    must leave the delivered-checksum sidecar intact too, so later
    increments keep their cross-run verification."""
    dump = os.path.join(TMP, "dump_keep")
    tgt = os.path.join(TMP, "sink_keep")
    shutil.rmtree(tgt, ignore_errors=True)
    _dump_rows(dump, [(1, "aaa")])
    s1 = RestoreController(spark, _cfg(dump, tgt, "error")).run()
    assert s1.ok, s1.report()
    sidecar = os.path.join(tgt, "dup.dup", "_checksum.json")
    assert os.path.exists(sidecar)
    before = open(sidecar).read()

    _dump_rows(dump, [(1, "dup")])  # overlapping key -> rejected
    s2 = RestoreController(spark, _cfg(dump, tgt, "error")).run()
    assert not s2.ok
    assert open(sidecar).read() == before  # verification still armed

    # and the next good increment still verifies prior XOR batch
    _dump_rows(dump, [(2, "bbb")])
    s3 = RestoreController(spark, _cfg(dump, tgt, "error")).run()
    assert s3.ok, s3.report()
    assert s3.tables["dup.dup"].rows == 2
