"""Round-3 parity additions: tests/checkpoint_engines/run.sh — the
last reference integration suite without a direct mirror.

The reference interrupts the import at EVERY engine boundary via
failpoints (SlowDownImport / FailIfStatusBecomes) and re-runs with
checkpoints enabled until it succeeds, then asserts exact totals:
cpeng.a count=4 sum=10, cpeng.b count=4 sum=46
(tests/checkpoint_engines/run.sh:36-46, 52-76). The same data shape
is re-rendered here (a: files [1],[2],[3,4]; b: [10,11,12],[13]) and
a failing sink plays the failpoint."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from tidb_lightning_release_4_0_spark.config import (
    Config,
    MydumperConfig,
    TiDBConfig,
)
from tidb_lightning_release_4_0_spark.plans.checkpoints import (
    CheckpointStore,
)
from tidb_lightning_release_4_0_spark.plans.pipeline import RestoreController
from tidb_lightning_release_4_0_spark.sinks.parquet_sink import ParquetSink

TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "goldens_r5"
)


class _FailNthEngineSink(ParquetSink):
    """Raises on the Nth engine delivery of THIS run (counting across
    tables) — the SlowDownImport/FailIfStatusBecomes failpoint
    analog from checkpoint_engines/run.sh."""

    def __init__(self, root: str, fail_at: int | None):
        super().__init__(root, on_duplicate="error")
        self.fail_at = fail_at
        self.delivered = 0

    def write_engine(self, df, table, engine_id):
        if self.fail_at is not None and self.delivered >= self.fail_at:
            raise RuntimeError("injected engine failpoint")
        res = super().write_engine(df, table, engine_id)
        self.delivered += 1
        return res


def test_checkpoint_engines_interrupt_every_step(spark):
    d = os.path.join(TMP, "dump")
    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(d)
    files = {
        "cpeng-schema-create.sql": b"create database cpeng;",
        "cpeng.a-schema.sql": b"create table a (c int);",
        "cpeng.a.1.sql": b"insert into a values (1);",
        "cpeng.a.2.sql": b"insert into a values (2);",
        "cpeng.a.3.sql": b"insert into a values (3),(4);",
        "cpeng.b-schema.sql": b"create table b (c int),,;".replace(b",,", b""),
        "cpeng.b.1.sql": b"insert into b values (10),(11),(12);",
        "cpeng.b.2.sql": b"insert into b values (13);",
    }
    for name, content in files.items():
        with open(os.path.join(d, name), "wb") as f:
            f.write(content)
    tgt = os.path.join(TMP, "sink")
    cp_path = os.path.join(TMP, "cp.json")

    def cfg():
        return Config(
            mydumper=MydumperConfig(source_dir=d, batch_size=1),
            backend="parquet",
            target_dir=tgt,
            on_duplicate="error",
            checkpoint_path=cp_path,
            table_concurrency=1,  # deterministic engine ordering
            tidb=TiDBConfig(sql_mode=""),
        )

    # interrupt at every engine boundary: each run delivers exactly
    # one more engine than the previous, like the reference's
    # for-loop over $ENGINE_COUNT
    total_engines = 5  # a: 3 files, b: 2 files, 1 file/engine
    runs = 0
    for step in range(total_engines):
        sink = _FailNthEngineSink(tgt, fail_at=1)
        cp = CheckpointStore(cp_path)
        cp.ignore_error("all")  # tidb-lightning-ctl --checkpoint-error-ignore
        run = RestoreController(spark, cfg(), sink=sink, checkpoints=cp).run()
        runs += 1
        if run.ok:
            break
        assert sink.delivered == 1  # made exactly one engine of progress
    else:
        # after delivering one engine per run, the final run finishes
        sink = _FailNthEngineSink(tgt, fail_at=None)
        cp = CheckpointStore(cp_path)
        cp.ignore_error("all")
        run = RestoreController(spark, cfg(), sink=sink, checkpoints=cp).run()
        runs += 1
    assert run.ok, run.report()
    assert runs >= 3  # the interrupts actually exercised resume

    a = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "cpeng.a")
    )
    b = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "cpeng.b")
    )
    # run.sh:36-46 invariants
    assert a.count() == 4
    assert a.agg(F.sum("c")).first()[0] == 10
    assert b.count() == 4
    assert b.agg(F.sum("c")).first()[0] == 46
