"""Block-grain (mid-file) checkpoint resume for strict-format CSV.

Reference semantics: a chunk checkpoint is keyed (path, offset) and a
resumed run continues from the recorded offset instead of re-reading
the file (checkpoints.go:92-130, restore.go:1265-1266). Spark's
atomic job commit means sub-file durable progress requires one JOB
per block range — these tests kill the restore at a block boundary
INSIDE one file and assert the resume reproduces exact totals,
checksums and row-ids, without re-delivering finished block engines.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from tidb_lightning_release_4_0_spark.config import (
    Config,
    CSVConfig,
    MydumperConfig,
    TiDBConfig,
)
from tidb_lightning_release_4_0_spark.functions.checksum import checksum
from tidb_lightning_release_4_0_spark.plans.checkpoints import (
    CheckpointStore,
    Status,
)
from tidb_lightning_release_4_0_spark.plans.pipeline import RestoreController
from tidb_lightning_release_4_0_spark.sinks.parquet_sink import ParquetSink

TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "block_resume"
)

N_ROWS = 4000  # one file, several KiB-scale blocks


class _FailNthEngineSink(ParquetSink):
    def __init__(self, root: str, fail_at: int | None):
        super().__init__(root, on_duplicate="error")
        self.fail_at = fail_at
        self.delivered = 0

    def write_engine(self, df, table, engine_id):
        if self.fail_at is not None and self.delivered >= self.fail_at:
            raise RuntimeError("injected block-engine failpoint")
        res = super().write_engine(df, table, engine_id)
        self.delivered += 1
        return res


def _mkdump(name: str) -> tuple[str, str, str]:
    root = os.path.join(TMP, name)
    shutil.rmtree(root, ignore_errors=True)
    d = os.path.join(root, "dump")
    os.makedirs(d)
    with open(os.path.join(d, "blk-schema-create.sql"), "w") as f:
        f.write("CREATE DATABASE blk;")
    with open(os.path.join(d, "blk.t-schema.sql"), "w") as f:
        f.write(
            "CREATE TABLE t (id INT PRIMARY KEY, v VARCHAR(40),"
            " x DOUBLE)"
        )
    # ONE file with varied row lengths (exercises boundary straddles)
    with open(os.path.join(d, "blk.t.0001.csv"), "w") as f:
        for i in range(1, N_ROWS + 1):
            f.write(f"{i},row-{i}-{'p' * (i % 23)},{i * 0.5}\n")
    return root, d, os.path.join(root, "sink")


def _cfg(d: str, tgt: str, cp_path: str, checkpoint=True) -> Config:
    return Config(
        mydumper=MydumperConfig(
            source_dir=d,
            csv=CSVConfig(strict_format=True),
            batch_size=16 * 1024,  # ~16 KiB per engine
        ),
        backend="parquet",
        target_dir=tgt,
        on_duplicate="error",
        checkpoint_path=cp_path if checkpoint else "",
        checkpoint_enable=checkpoint,
        table_concurrency=1,
        tidb=TiDBConfig(sql_mode=""),
    )


def _with_small_blocks(spark):
    """4 KiB splits so the single file has many blocks; caller must
    restore the conf."""
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024))
    return old


def test_midfile_kill_resume_exact_totals(spark):
    root, d, tgt = _mkdump("kill_resume")
    cp_path = os.path.join(root, "cp.json")
    old = _with_small_blocks(spark)
    try:
        # single-shot reference run (no checkpoints, fresh sink)
        ref_tgt = os.path.join(root, "sink_ref")
        run = RestoreController(
            spark,
            _cfg(d, ref_tgt, "", checkpoint=False),
            sink=ParquetSink(ref_tgt, on_duplicate="error"),
        ).run()
        assert run.ok, run.report()
        ref = spark.read.option("recursiveFileLookup", "true").parquet(
            os.path.join(ref_tgt, "blk.t")
        )

        # crash after TWO delivered block engines (mid-file: the file
        # spans several engines at batch_size 16K)
        sink = _FailNthEngineSink(tgt, fail_at=2)
        run = RestoreController(
            spark, _cfg(d, tgt, cp_path), sink=sink
        ).run()
        assert not run.ok
        assert sink.delivered == 2

        # the checkpoint recorded BLOCK-grain progress inside the file
        cp = CheckpointStore(cp_path)
        path = os.path.join(d, "blk.t.0001.csv")
        done_blocks = [
            k
            for k, v in cp.dump()["chunks"].items()
            if k.startswith("blk.t|") and v >= Status.ALL_WRITTEN
        ]
        assert done_blocks, "mid-file blocks must be checkpointed"
        n_total_blocks = -(-os.path.getsize(path) // (4 * 1024))
        assert len(done_blocks) < n_total_blocks  # genuinely partial
        assert any(not k.endswith("|0") for k in done_blocks), (
            "block keys must carry real byte offsets"
        )

        # resume: finishes, and does NOT re-deliver the done engines
        cp2 = CheckpointStore(cp_path)
        cp2.ignore_error("all")
        sink2 = _FailNthEngineSink(tgt, fail_at=None)
        run2 = RestoreController(
            spark, _cfg(d, tgt, cp_path), sink=sink2, checkpoints=cp2
        ).run()
        assert run2.ok, run2.report()
        # the resume delivered the REMAINING engines only (2 were
        # already done); total engines = blocks grouped into 16K
        # batches of 4K blocks
        n_engines = -(-n_total_blocks // 4)
        assert sink2.delivered == n_engines - 2
        assert sink2.delivered > 0

        got = spark.read.option("recursiveFileLookup", "true").parquet(
            os.path.join(tgt, "blk.t")
        )
        # exact totals: count, sum, full checksum, row-id uniqueness
        assert got.count() == N_ROWS
        assert got.agg(F.sum("id")).first()[0] == N_ROWS * (N_ROWS + 1) // 2
        assert checksum(got) == checksum(ref)
        assert got.select("id").distinct().count() == N_ROWS
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_block_engines_fresh_run_matches_single_shot(spark):
    """Without any crash, the block-engine path must equal the
    single-shot strict-format restore value-for-value (from_csv /
    line-extraction parity with the native splittable reader)."""
    root, d, tgt = _mkdump("fresh_parity")
    cp_path = os.path.join(root, "cp.json")
    old = _with_small_blocks(spark)
    try:
        ref_tgt = os.path.join(root, "sink_ref")
        run = RestoreController(
            spark,
            _cfg(d, ref_tgt, "", checkpoint=False),
            sink=ParquetSink(ref_tgt, on_duplicate="error"),
        ).run()
        assert run.ok
        sink = _FailNthEngineSink(tgt, fail_at=None)
        run2 = RestoreController(
            spark, _cfg(d, tgt, cp_path), sink=sink
        ).run()
        assert run2.ok, run2.report()
        assert sink.delivered > 1, "block engines must have engaged"
        ref = spark.read.option("recursiveFileLookup", "true").parquet(
            os.path.join(ref_tgt, "blk.t")
        )
        got = spark.read.option("recursiveFileLookup", "true").parquet(
            os.path.join(tgt, "blk.t")
        )
        assert checksum(got) == checksum(ref)
        a = [tuple(r) for r in ref.orderBy("id").collect()]
        b = [tuple(r) for r in got.orderBy("id").collect()]
        assert a == b
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_resume_survives_conf_change(spark):
    """The block geometry is pinned in the checkpoint: a resume under
    a DIFFERENT maxPartitionBytes must still match the first run's
    chunk keys and id bases."""
    root, d, tgt = _mkdump("conf_change")
    cp_path = os.path.join(root, "cp.json")
    old = _with_small_blocks(spark)
    try:
        sink = _FailNthEngineSink(tgt, fail_at=1)
        run = RestoreController(
            spark, _cfg(d, tgt, cp_path), sink=sink
        ).run()
        assert not run.ok and sink.delivered == 1
        # resume under a very different split size
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024)
        )
        cp2 = CheckpointStore(cp_path)
        cp2.ignore_error("all")
        sink2 = _FailNthEngineSink(tgt, fail_at=None)
        run2 = RestoreController(
            spark, _cfg(d, tgt, cp_path), sink=sink2, checkpoints=cp2
        ).run()
        assert run2.ok, run2.report()
        got = spark.read.option("recursiveFileLookup", "true").parquet(
            os.path.join(tgt, "blk.t")
        )
        assert got.count() == N_ROWS
        assert got.select("id").distinct().count() == N_ROWS
        assert (
            got.select("_tidb_rowid").distinct().count() == N_ROWS
            if "_tidb_rowid" in got.columns
            else True
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_resume_with_changed_batch_size_exact_totals(spark):
    """Geometry pinning covers BOTH inputs: a resume under a config
    whose batch_size changed must re-plan the FIRST run's engine
    grouping (pinned in the checkpoint) — otherwise old engine_state
    records would merge onto engines now holding different blocks,
    duplicating or losing rows."""
    root, d, tgt = _mkdump("resize_resume")
    cp_path = os.path.join(root, "cp.json")
    old = _with_small_blocks(spark)
    try:
        sink = _FailNthEngineSink(tgt, fail_at=2)
        run = RestoreController(
            spark, _cfg(d, tgt, cp_path), sink=sink
        ).run()
        assert not run.ok and sink.delivered == 2

        # resume with batch_size HALVED (8 KiB instead of 16 KiB)
        cfg2 = _cfg(d, tgt, cp_path)
        cfg2.mydumper.batch_size = 8 * 1024
        cp2 = CheckpointStore(cp_path)
        cp2.ignore_error("all")
        sink2 = _FailNthEngineSink(tgt, fail_at=None)
        run2 = RestoreController(
            spark, cfg2, sink=sink2, checkpoints=cp2
        ).run()
        assert run2.ok, run2.report()
        got = spark.read.option("recursiveFileLookup", "true").parquet(
            os.path.join(tgt, "blk.t")
        )
        assert got.count() == N_ROWS
        assert got.agg(F.sum("id")).first()[0] == N_ROWS * (N_ROWS + 1) // 2
        assert got.select("id").distinct().count() == N_ROWS
        # pinned grouping => the resume delivered exactly the engines
        # the FIRST run's geometry had left (not a re-sliced set)
        path = os.path.join(d, "blk.t.0001.csv")
        n_total_blocks = -(-os.path.getsize(path) // (4 * 1024))
        n_engines = -(-n_total_blocks // 4)
        assert sink2.delivered == n_engines - 2
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_cr_terminated_file_skips_block_path(spark):
    """A lone-\\r (classic-Mac) CSV must NOT take the block path —
    the block reader only implements \\n / \\r\\n geometry — but the
    restore itself must still succeed through the native reader,
    which does terminate lines at \\r."""
    root = os.path.join(TMP, "cr_file")
    shutil.rmtree(root, ignore_errors=True)
    d = os.path.join(root, "dump")
    os.makedirs(d)
    with open(os.path.join(d, "blk-schema-create.sql"), "w") as f:
        f.write("CREATE DATABASE blk;")
    with open(os.path.join(d, "blk.t-schema.sql"), "w") as f:
        f.write("CREATE TABLE t (id INT PRIMARY KEY, v VARCHAR(40))")
    with open(os.path.join(d, "blk.t.0001.csv"), "wb") as f:
        for i in range(1, 2001):
            f.write(f"{i},cr-row-{i}".encode() + b"\r")
    tgt = os.path.join(root, "sink")
    cp_path = os.path.join(root, "cp.json")
    old = _with_small_blocks(spark)
    try:
        run = RestoreController(spark, _cfg(d, tgt, cp_path)).run()
        assert run.ok, run.report()
        cp = CheckpointStore(cp_path) if os.path.exists(cp_path) else None
        if cp is not None:
            # no block-grain (offset > 0) chunk keys were recorded
            assert all(
                k.endswith("|0")
                for k in cp.dump()["chunks"]
                if k.startswith("blk.t|")
            )
        got = spark.read.option("recursiveFileLookup", "true").parquet(
            os.path.join(tgt, "blk.t")
        )
        assert got.count() == 2000
        assert got.agg(F.sum("id")).first()[0] == 2000 * 2001 // 2
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
