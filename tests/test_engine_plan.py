"""EnginePlan: the delivery-grain choice and the one deliver loop.

``RestoreController._plan_delivery`` picks block, file or table grain
from config, sink and data-file gates without running a Spark job;
``_deliver`` then runs the same loop for every grain. The resume test
seeds a checkpoint in the older whole-file engine layout (an engine
record listing ``files``, chunk keys at offset 0) and resumes it
through the current loop.
"""

from __future__ import annotations

import gzip
import json
import logging
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
from tidb_lightning_release_4_0_spark.plans.pipeline import (
    RestoreController,
)
from tidb_lightning_release_4_0_spark.sinks.base import Sink
from tidb_lightning_release_4_0_spark.sinks.memory_sink import MemorySink
from tidb_lightning_release_4_0_spark.sinks.parquet_sink import ParquetSink
from tidb_lightning_release_4_0_spark.sources.mydump_loader import (
    FileInfo,
    MDTableMeta,
)
from tidb_lightning_release_4_0_spark.sources.schema_reader import (
    parse_create_table,
)

from tests.test_round3_fixes import _EngineFailSink

TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".tmp",
    "engine_plan",
)

KEYED = "CREATE TABLE t (id INT PRIMARY KEY, v VARCHAR(20))"
KEYLESS = "CREATE TABLE t (id INT, v VARCHAR(20))"


class _NoEngineSink(MemorySink):
    """A sink that cannot isolate engines (write only)."""

    write_engine = Sink.write_engine


def _parts(kind: str) -> list[FileInfo]:
    """Three data parts of one format; nothing but the CSV/JSONL
    terminator probe reads their bytes."""
    d = os.path.join(TMP, "parts", kind)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    ext, line = {
        "sql": (".sql", b"INSERT INTO t VALUES (1,'a');\n"),
        "csv": (".csv", b"1,a\n2,b\n"),
        "cr_csv": (".csv", b"1,a\r2,b\r"),
        "csv_gz": (".csv.gz", None),
        "parquet": (".parquet", b"PAR1"),
        "jsonl": (".jsonl", b'{"id": 1, "v": "a"}\n'),
    }[kind]
    out = []
    for i in range(3):
        path = os.path.join(d, f"db.t.{i:05d}{ext}")
        if line is None:
            with gzip.open(path, "wb") as f:
                f.write(b"1,a\n")
        else:
            with open(path, "wb") as f:
                f.write(line * 20)
        out.append(FileInfo("db", "t", path, os.path.getsize(path)))
    return out


# (case id, data format, DDL, config overrides, csv overrides, sink,
#  checkpoints on, expected grain, expected reason)
CASES = [
    ("checkpoints_off", "sql", KEYED, {}, {}, "parquet", False,
     "table", "checkpoints off"),
    ("replace_with_keys", "sql", KEYED, {"on_duplicate": "replace"}, {},
     "parquet", True, "table", "whole-table dedup or merge"),
    ("ignore_with_keys", "sql", KEYED, {"on_duplicate": "ignore"}, {},
     "parquet", True, "table", "whole-table dedup or merge"),
    ("replace_without_keys", "sql", KEYLESS,
     {"on_duplicate": "replace"}, {}, "parquet", True,
     "file", "whole-file batches"),
    ("incremental", "sql", KEYLESS, {"incremental": True}, {}, "parquet",
     True, "table", "whole-table dedup or merge"),
    ("bucketed", "sql", KEYED, {"bucket_buckets": 4}, {}, "parquet", True,
     "table", "bucketed layout"),
    ("strict_parser", "csv", KEYED, {}, {"strict_parser": True},
     "parquet", True, "table", "strict parser"),
    ("memory_sink", "sql", KEYED, {}, {}, "memory", True,
     "file", "whole-file batches"),
    ("no_engine_sink", "sql", KEYED, {}, {}, "no_engine", True,
     "table", "sink has no engine delivery"),
    ("parquet_parts", "parquet", KEYED, {}, {}, "parquet", True,
     "table", "capacity-scheme row ids"),
    ("csv_gz_parts", "csv_gz", KEYED, {}, {}, "parquet", True,
     "table", "capacity-scheme row ids"),
    ("jsonl_parts", "jsonl", KEYED, {}, {}, "parquet", True,
     "table", "capacity-scheme row ids"),
    ("strict_format_jsonl", "jsonl", KEYED, {}, {"strict_format": True},
     "parquet", True, "block", "strict-format byte ranges"),
    ("strict_format_jsonl_header", "jsonl", KEYED, {},
     {"strict_format": True, "header": True}, "parquet", True,
     "file", "whole-file batches"),
    ("plain_csv", "csv", KEYED, {}, {}, "parquet", True,
     "file", "whole-file batches"),
    ("strict_format_csv", "csv", KEYED, {}, {"strict_format": True},
     "parquet", True, "block", "strict-format byte ranges"),
    ("strict_format_csv_header", "csv", KEYED, {},
     {"strict_format": True, "header": True}, "parquet", True,
     "file", "whole-file batches"),
    ("lone_cr_terminators", "cr_csv", KEYED, {}, {"strict_format": True},
     "parquet", True, "file", "whole-file batches"),
    ("single_engine", "sql", KEYED, {"batch_size": 1 << 30}, {},
     "parquet", True, "table", "single engine"),
]


def test_plan_delivery_gates(spark, caplog):
    sc = spark.sparkContext
    group = "engine-plan-gates"
    sc.setJobGroup(group, "plan delivery must run no job")
    try:
        for (case, fmt, ddl, over, csv_over, sink_kind, cp_on,
             grain, reason) in CASES:
            files = _parts(fmt)
            meta = MDTableMeta(
                "db", "t", None, files, sum(f.size for f in files)
            )
            over = dict(over)
            batch_size = over.pop("batch_size", 1)  # one file per engine
            tgt = os.path.join(TMP, "sink", case)
            cfg = Config(
                mydumper=MydumperConfig(
                    source_dir=os.path.dirname(files[0].path),
                    batch_size=batch_size,
                    csv=CSVConfig(**csv_over),
                ),
                target_dir=tgt,
                on_duplicate=over.pop("on_duplicate", "error"),
                tidb=TiDBConfig(sql_mode=""),
                **over,
            )
            sink = {
                "parquet": lambda: ParquetSink(tgt, cfg.on_duplicate),
                "memory": lambda: MemorySink(cfg.on_duplicate),
                "no_engine": lambda: _NoEngineSink(cfg.on_duplicate),
            }[sink_kind]()
            ctl = RestoreController(
                spark, cfg, sink=sink,
                checkpoints=CheckpointStore(None, enabled=cp_on),
            )
            caplog.clear()
            with caplog.at_level(logging.WARNING, "tidb_lightning_spark"):
                plan = ctl._plan_delivery(
                    "db.t", meta, parse_create_table(ddl)
                )
            assert (plan.grain, plan.reason) == (grain, reason), case
            chunks = [c for e in plan.engines for c in e]
            if grain == "table":
                assert plan.engines == [
                    [(f.path, 0, f.size) for f in files]
                ], case
            elif grain == "file":
                assert plan.engines == [
                    [(f.path, 0, f.size)] for f in files
                ], case
            else:
                assert plan.split_bytes, case
                assert len(plan.engines) > 1, case
                assert sum(ln for _, _, ln in chunks) == meta.total_size
            cr_warned = any(
                "CR line terminators" in r.getMessage()
                and r.levelno == logging.WARNING
                for r in caplog.records
            )
            assert cr_warned == (fmt == "cr_csv"), case
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


# ---------------------------------------------------------------------------
# resume of a checkpoint written in the whole-file engine layout
# ---------------------------------------------------------------------------


def _sql_dump() -> str:
    d = os.path.join(TMP, "legacy_dump")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    files = {
        "leg-schema-create.sql": "CREATE DATABASE leg;",
        "leg.t-schema.sql": "create table t (i bigint primary key);",
    }
    for p in range(6):
        vals = ",".join(f"({p * 10 + k})" for k in range(1, 11))
        files[f"leg.t.{p:05d}.sql"] = f"INSERT INTO t VALUES {vals};"
    for name, text in files.items():
        with open(os.path.join(d, name), "w") as f:
            f.write(text)
    return d


def test_resume_whole_file_engine_layout(spark, caplog):
    d = _sql_dump()
    cp_path = os.path.join(TMP, "legacy_cp.json")
    if os.path.exists(cp_path):
        os.remove(cp_path)

    def cfg(tgt: str, cp: str) -> Config:
        return Config(
            mydumper=MydumperConfig(source_dir=d, batch_size=1),
            target_dir=tgt,
            on_duplicate="error",
            checkpoint_path=cp,
            checkpoint_enable=bool(cp),
            table_concurrency=1,
            tidb=TiDBConfig(sql_mode=""),
        )

    ref_tgt = os.path.join(TMP, "legacy_ref")
    shutil.rmtree(ref_tgt, ignore_errors=True)
    ref = RestoreController(spark, cfg(ref_tgt, "")).run()
    assert ref.ok, ref.report()

    tgt = os.path.join(TMP, "legacy_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    sink1 = _EngineFailSink(tgt, fail_engine=3)
    assert not RestoreController(spark, cfg(tgt, cp_path), sink=sink1).run().ok
    assert sink1.calls == [0, 1, 2]

    # rewrite the delivered engine records into the older layout: a
    # whole-file engine listed its files, its chunks keyed at offset 0
    with open(cp_path) as f:
        state = json.load(f)
    engines = state["tables"]["leg.t"]["engines"]
    assert sorted(engines) == ["0", "1", "2"]
    for rec in engines.values():
        chunks = rec.pop("chunks")
        assert all(off == 0 for _, off in chunks)
        rec["files"] = [p for p, _ in chunks]
    assert all(k.endswith("|0") for k in state["chunks"])
    with open(cp_path, "w") as f:
        json.dump(state, f)

    cp = CheckpointStore(cp_path)
    assert cp.marshal_table("leg.t")["Engines"]["0"]["Status"] == (
        Status.ALL_WRITTEN
    )
    cp.ignore_error("leg.t")  # ctl step: clear the errored status
    sink2 = _EngineFailSink(tgt)
    with caplog.at_level(logging.INFO, "tidb_lightning_spark"):
        run = RestoreController(
            spark, cfg(tgt, cp_path), sink=sink2, checkpoints=cp
        ).run()
    assert run.ok, run.report()
    assert sink2.calls == [3, 4, 5]  # delivered engines skipped
    assert any(
        r.getMessage() == "table leg.t: file grain (whole-file batches)"
        for r in caplog.records
    )
    got, want = run.tables["leg.t"], ref.tables["leg.t"]
    assert got.rows == want.rows == 60
    assert got.checksum == want.checksum
    assert got.alloc_base == want.alloc_base == 61
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "leg.t")
    )
    assert t.count() == 60
    assert t.agg(F.sum("i")).first()[0] == sum(range(1, 61))


@pytest.mark.parametrize("grain", ["file", "block"])
def test_engine_records_carry_chunks(spark, grain):
    """Every engine record lists its (path, offset) chunks, and its
    chunk keys are the same ones the chunk marks use."""
    root = os.path.join(TMP, f"records_{grain}")
    shutil.rmtree(root, ignore_errors=True)
    d = os.path.join(root, "dump")
    os.makedirs(d)
    with open(os.path.join(d, "rec-schema-create.sql"), "w") as f:
        f.write("CREATE DATABASE rec;")
    with open(os.path.join(d, "rec.t-schema.sql"), "w") as f:
        f.write("CREATE TABLE t (id INT PRIMARY KEY, v VARCHAR(20))")
    for p in range(3):
        with open(os.path.join(d, f"rec.t.{p:05d}.csv"), "w") as f:
            for i in range(p * 100 + 1, p * 100 + 101):
                f.write(f"{i},v{i}\n")
    cfg = Config(
        mydumper=MydumperConfig(
            source_dir=d,
            batch_size=1,
            csv=CSVConfig(strict_format=grain == "block"),
        ),
        backend="memory",
        on_duplicate="error",
        checkpoint_path=os.path.join(root, "cp.json"),
        tidb=TiDBConfig(sql_mode=""),
    )
    cp = CheckpointStore(os.path.join(root, "cp.json"))
    cp.clean = lambda: None  # keep the state for inspection
    sink = MemorySink("error")
    run = RestoreController(spark, cfg, sink=sink, checkpoints=cp).run()
    assert run.ok, run.report()
    assert run.tables["rec.t"].rows == 300
    engines = cp.dump()["tables"]["rec.t"]["engines"]
    assert len(engines) == 3
    keys = set()
    for rec in engines.values():
        assert "files" not in rec
        keys.update(f"rec.t|{p}|{off}" for p, off in rec["chunks"])
    assert keys == {
        k for k in cp.dump()["chunks"] if k.startswith("rec.t|")
    }
