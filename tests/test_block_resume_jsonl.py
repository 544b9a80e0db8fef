"""Block-grain (mid-file) checkpoint resume for JSONL dump parts.

JSONL is line-delimited, so it splits at byte ranges under the same
Hadoop line geometry as strict-format CSV — these tests mirror
test_block_resume.py for the JSONL lane: kill the restore at a block
boundary inside one file, assert the resume reproduces exact totals
without re-delivering finished block engines, and pin the batch-lane
parity contracts (keys matched case-insensitively on every line, NOT
NULL default fill, FAILFAST on malformed lines).
"""

from __future__ import annotations

import os
import shutil

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
    Status,
)
from tidb_lightning_release_4_0_spark.plans.pipeline import RestoreController
from tidb_lightning_release_4_0_spark.sinks.parquet_sink import ParquetSink

TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".tmp",
    "block_resume_jsonl",
)

N_ROWS = 4000


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


def _mkdump(name: str, lines=None) -> tuple[str, str, str]:
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
    with open(os.path.join(d, "blk.t.0001.jsonl"), "w") as f:
        if lines is None:
            for i in range(1, N_ROWS + 1):
                f.write(
                    '{"id": %d, "v": "row-%d-%s", "x": %s}\n'
                    % (i, i, "p" * (i % 23), i * 0.5)
                )
        else:
            f.write("\n".join(lines) + "\n")
    return root, d, os.path.join(root, "sink")


def _cfg(d: str, tgt: str, cp_path: str, checkpoint=True) -> Config:
    return Config(
        mydumper=MydumperConfig(
            source_dir=d,
            csv=CSVConfig(strict_format=True),
            batch_size=16 * 1024,
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
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024))
    return old


def _read(spark, tgt):
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(os.path.join(tgt, "blk.t"))
    )


def test_jsonl_midfile_kill_resume_exact_totals(spark):
    root, d, tgt = _mkdump("kill_resume")
    cp_path = os.path.join(root, "cp.json")
    old = _with_small_blocks(spark)
    try:
        # single-shot reference (no checkpoints -> batch JSONL lane)
        ref_tgt = os.path.join(root, "sink_ref")
        run = RestoreController(
            spark,
            _cfg(d, ref_tgt, "", checkpoint=False),
            sink=ParquetSink(ref_tgt, on_duplicate="error"),
        ).run()
        assert run.ok, run.report()
        ref = (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(os.path.join(ref_tgt, "blk.t"))
        )

        sink = _FailNthEngineSink(tgt, fail_at=2)
        run = RestoreController(
            spark, _cfg(d, tgt, cp_path), sink=sink
        ).run()
        assert not run.ok
        assert sink.delivered == 2

        cp = CheckpointStore(cp_path)
        path = os.path.join(d, "blk.t.0001.jsonl")
        done_blocks = [
            k
            for k, v in cp.dump()["chunks"].items()
            if k.startswith("blk.t|") and v >= Status.ALL_WRITTEN
        ]
        assert done_blocks, "mid-file blocks must be checkpointed"
        n_total_blocks = -(-os.path.getsize(path) // (4 * 1024))
        assert len(done_blocks) < n_total_blocks
        assert any(not k.endswith("|0") for k in done_blocks)

        cp2 = CheckpointStore(cp_path)
        cp2.ignore_error("all")
        sink2 = _FailNthEngineSink(tgt, fail_at=None)
        run2 = RestoreController(
            spark, _cfg(d, tgt, cp_path), sink=sink2, checkpoints=cp2
        ).run()
        assert run2.ok, run2.report()
        n_engines = -(-n_total_blocks // 4)
        assert sink2.delivered == n_engines - 2
        assert sink2.delivered > 0

        got = _read(spark, tgt)
        assert got.count() == N_ROWS
        assert (
            got.agg(F.sum("id")).first()[0] == N_ROWS * (N_ROWS + 1) // 2
        )
        assert got.select("id").distinct().count() == N_ROWS
        # data-column parity with the batch lane (int PK -> no rowid
        # column in the output, so full frames must match exactly)
        assert got.exceptAll(ref).count() == 0
        assert ref.exceptAll(got).count() == 0
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_jsonl_block_casing_groups_and_default_fill(spark):
    """A second part with different key CASING and a missing NOT NULL
    key must behave exactly like the batch lane: no all-NULL part,
    and column DEFAULT for absent keys."""
    root, d, tgt = _mkdump(
        "casing",
        lines=['{"id": 1, "v": "a", "x": 0.5}'] * 1,
    )
    # overwrite the schema: v gets a DEFAULT so omitting it is legal
    with open(os.path.join(d, "blk.t-schema.sql"), "w") as f:
        f.write(
            "CREATE TABLE t (id INT PRIMARY KEY,"
            " v VARCHAR(40) NOT NULL DEFAULT 'dflt', x DOUBLE)"
        )
    # enough rows that the table spans >1 block engine at 4 KiB
    with open(os.path.join(d, "blk.t.0001.jsonl"), "w") as f:
        for i in range(1, 2001):
            f.write('{"id": %d, "v": "row-%d", "x": %s}\n' % (i, i, i * 0.5))
    with open(os.path.join(d, "blk.t.0002.jsonl"), "w") as f:
        for i in range(2001, 4001):
            # different casing; v omitted -> DEFAULT 'dflt'
            f.write('{"ID": %d, "X": %s}\n' % (i, i * 0.5))
    cp_path = os.path.join(root, "cp.json")
    old = _with_small_blocks(spark)
    try:
        run = RestoreController(
            spark,
            _cfg(d, tgt, cp_path),
            sink=ParquetSink(tgt, on_duplicate="error"),
        ).run()
        assert run.ok, run.report()
        got = _read(spark, tgt)
        assert got.count() == 4000
        assert got.filter(F.col("id") > 2000).count() == 2000, (
            "cased part must not read as all-NULL"
        )
        assert (
            got.filter(F.col("id") > 2000)
            .filter(F.col("v") == "dflt")
            .count()
            == 2000
        )
        assert got.agg(F.sum("x")).first()[0] == sum(
            i * 0.5 for i in range(1, 4001)
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_jsonl_block_key_casing_per_line(spark):
    """Lines of ONE part alternate key casings across several block
    engines: every line restores its own values, none reads as
    all-NULL and takes defaults."""
    lines = [
        (
            '{"ID": %d, "V": "row-%d", "X": %s}'
            if i % 2
            else '{"id": %d, "v": "row-%d", "x": %s}'
        )
        % (i, i, i * 0.5)
        for i in range(1, 2001)
    ]
    root, d, tgt = _mkdump("casing_per_line", lines=lines)
    cp_path = os.path.join(root, "cp.json")
    old = _with_small_blocks(spark)
    try:
        sink = _FailNthEngineSink(tgt, fail_at=None)
        run = RestoreController(spark, _cfg(d, tgt, cp_path), sink=sink).run()
        assert run.ok, run.report()
        assert sink.delivered > 1, "the part must span several engines"
        got = sorted(
            tuple(r) for r in _read(spark, tgt).select("id", "v", "x").collect()
        )
        assert got == [(i, f"row-{i}", i * 0.5) for i in range(1, 2001)]
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_jsonl_block_malformed_line_fails_loud(spark):
    """FAILFAST parity with the batch lane: a malformed line inside a
    later block errors the restore instead of fabricating rows."""
    lines = [
        '{"id": %d, "v": "row-%d", "x": %s}' % (i, i, i * 0.5)
        for i in range(1, 2001)
    ]
    lines[1500] = '{"id": 1501, "v": "broken...'
    root, d, tgt = _mkdump("malformed", lines=lines)
    cp_path = os.path.join(root, "cp.json")
    old = _with_small_blocks(spark)
    try:
        run = RestoreController(
            spark,
            _cfg(d, tgt, cp_path),
            sink=ParquetSink(tgt, on_duplicate="error"),
        ).run()
        assert not run.ok
        assert "blk.t" in run.report()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_jsonl_strict_rowids_invariant_to_checkpointing(spark):
    """r11 determinism fix (found by the resume_64x_jsonl SIGKILL
    proof): a strict-format JSONL restore WITHOUT checkpoints must
    assign the SAME _tidb_rowid values (hence the same kv_crc64
    triple) as the checkpointed block-engine lane — the old routing
    sent the no-checkpoint run through the capacity-scheme mono lane
    (2^62 band), so the table checksum depended on whether
    checkpointing was enabled."""
    import json

    # a NO-PK table: _tidb_rowid comes entirely from the assignment
    # scheme, so the checksum is sensitive to the lane choice (an
    # int-PK table would mask the bug — rowid = PK there)
    root = os.path.join(TMP, "inv_nockpt")
    shutil.rmtree(root, ignore_errors=True)
    d = os.path.join(root, "dump")
    os.makedirs(d)
    with open(os.path.join(d, "blk-schema-create.sql"), "w") as f:
        f.write("CREATE DATABASE blk;")
    with open(os.path.join(d, "blk.t-schema.sql"), "w") as f:
        f.write("CREATE TABLE t (a BIGINT, b VARCHAR(40))")
    with open(os.path.join(d, "blk.t.0001.jsonl"), "w") as f:
        for i in range(1, N_ROWS + 1):
            f.write('{"a": %d, "b": "row-%d"}\n' % (i, i))
    old = _with_small_blocks(spark)
    try:
        def run(tgt, cp, checkpoint):
            cfg = _cfg(d, tgt, cp, checkpoint=checkpoint)
            cfg.checksum = True
            cfg.checksum_algo = "kv_crc64"
            s = RestoreController(spark, cfg).run()
            assert s.ok, s.report()
            p = os.path.join(tgt, "blk.t", "_checksum.json")
            t = json.load(open(p))
            return (t["crc_xor"], t["total_bytes"], t["total_kvs"])

        t_plain = run(os.path.join(root, "s1"), "", False)
        t_ckpt = run(
            os.path.join(root, "s2"), os.path.join(root, "cp.json"), True
        )
        assert t_plain == t_ckpt, (t_plain, t_ckpt)
        # and the rowids themselves are the block-scheme ones (dense
        # from the file base, NOT the 2^62 mono lane)
        rows = _read(spark, os.path.join(root, "s1"))
        assert rows.agg(F.max("_tidb_rowid")).first()[0] < 1 << 62
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


@pytest.mark.parametrize("split", [64, 256, 1000])
def test_jsonl_table_scan_ids_match_block_reader(spark, small_splits, split):
    """The table-grain read of a strict-format JSONL table (a JVM text
    scan + rowid.assign_rowid_by_range) assigns every line the id the
    block-grain reader assigns it, across blank lines, whitespace-only
    lines and CRLF endings, whatever the split size."""
    from tidb_lightning_release_4_0_spark.sources.csv_blocks import (
        plan_file_blocks,
    )
    from tidb_lightning_release_4_0_spark.sources.mydump_loader import (
        FileInfo,
        MDTableMeta,
    )
    from tidb_lightning_release_4_0_spark.sources.schema_reader import (
        parse_create_table,
    )

    d = os.path.join(TMP, f"scan_parity_{split}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    files, key = [], 0
    for part, eol in enumerate(("\n", "\r\n", "\n")):
        lines = []
        for i in range(126):
            lines.append('{"a": %d, "b": "%s"}' % (key, "x" * (key % 17)))
            key += 1
            if i % 9 == 0:
                lines.append("")
            if i % 13 == 0:
                lines.append(" \t ")
        path = os.path.join(d, f"blk.t.{part:04d}.jsonl")
        with open(path, "w", newline="") as f:
            f.write(eol.join(lines) + eol)
        files.append(FileInfo("blk", "t", path, os.path.getsize(path)))
    meta = MDTableMeta("blk", "t", None, files, sum(f.size for f in files))
    schema = parse_create_table("CREATE TABLE t (a INT, b VARCHAR(20))")
    sb = small_splits(split)
    ctl = RestoreController(
        spark,
        _cfg(d, os.path.join(d, "sink"), "", checkpoint=False),
    )

    def ids(df):
        return {r["a"]: r["_row_id"] for r in df.collect()}

    plan = plan_file_blocks([(f.path, f.size) for f in files], sb)
    blocks = ids(ctl._block_frame(meta, schema, plan, sb))
    assert len(blocks) == key == 378
    assert ids(ctl.read_table(meta, schema)) == blocks
