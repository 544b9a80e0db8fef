"""Concurrent engine delivery (the reference's restoreEngines,
restore.go:770-809): a table's pending engines run as pool tasks
bounded by the controller's ``table_concurrency`` slots.

1. Concurrent delivery delivers what serial delivery delivers: the
   same rows, parquet digest, kv_crc64 triple, alloc base,
   ``_tidb_rowid`` set and engine records, on file-grain ``.sql`` and
   CSV tables and on a block-grain strict-format CSV table.
2. Every job an engine task starts stays in the task's job group, so
   ``cancelJobGroup`` reaches the pool threads.
3. The checksum sidecar drop tolerates a sidecar another engine
   already removed, and the memory sink keeps every engine that
   delivers concurrently.
4. The kv_crc64 pair Column is built once per table shape.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading

import pytest
from pyspark.sql import functions as F

from tidb_lightning_release_4_0_spark.config import (
    Config,
    CSVConfig,
    MydumperConfig,
    TiDBConfig,
)
from tidb_lightning_release_4_0_spark.functions.checksum import Checksum
from tidb_lightning_release_4_0_spark.operators.permutation import (
    ROWID_COL,
    session_plan_cache,
)
from tidb_lightning_release_4_0_spark.plans.checkpoints import CheckpointStore
from tidb_lightning_release_4_0_spark.plans.pipeline import RestoreController
from tidb_lightning_release_4_0_spark.sinks.memory_sink import MemorySink
from tidb_lightning_release_4_0_spark.sinks.parquet_sink import ParquetSink
from tidb_lightning_release_4_0_spark.sources.schema_reader import (
    parse_create_table,
)

TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".tmp",
    "concurrent_engines",
)


def _dump(name: str, db: str, table: str, ddl: str, parts: dict) -> str:
    d = os.path.join(TMP, name, "dump")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    files = {
        f"{db}-schema-create.sql": f"CREATE DATABASE {db};",
        f"{db}.{table}-schema.sql": ddl,
        **parts,
    }
    for fname, text in files.items():
        with open(os.path.join(d, fname), "w") as f:
            f.write(text)
    return d


def _sql_dump() -> str:
    # 6 parts of 40 rows: int PK, a secondary index, NULLs
    parts = {}
    for p in range(6):
        vals = ",".join(
            f"({p * 40 + k},'v{p}-{k}',"
            f"{'NULL' if k % 7 == 0 else (p * 40 + k) % 11})"
            for k in range(1, 41)
        )
        parts[f"ce.s.{p:05d}.sql"] = f"INSERT INTO s VALUES {vals};"
    return _dump(
        "sql", "ce", "s",
        "CREATE TABLE s (id INT PRIMARY KEY, v VARCHAR(20), n INT,"
        " KEY idx_n (n));",
        parts,
    )


def _csv_dump() -> str:
    # 5 PK-less parts of uneven sizes: row ids come from the table's
    # byte-estimate chain, whichever engine finishes first
    parts = {
        f"ce.p.{p:05d}.csv": "".join(
            f"{p * 1000 + k},name-{k}-{'x' * (k % 5)}\n"
            for k in range(1, 30 + 20 * p)
        )
        for p in range(5)
    }
    return _dump(
        "csv", "ce", "p", "CREATE TABLE p (a INT, b VARCHAR(40));", parts
    )


def _block_dump() -> str:
    # one PK-less strict-format file, split into byte-range blocks
    rows = "".join(
        f"{i},row-{i}-{'p' * (i % 23)},{i * 0.5}\n" for i in range(1, 3001)
    )
    return _dump(
        "block", "ce", "b",
        "CREATE TABLE b (id INT, v VARCHAR(40), x DOUBLE);",
        {"ce.b.0001.csv": rows},
    )


class _RecordingStore(CheckpointStore):
    """Keeps every engine record, which a clean run's checkpoint
    cleanup would otherwise delete."""

    def __init__(self, path: str):
        super().__init__(path)
        self.records: dict[int, dict] = {}

    def set_engine_state(self, table, engine_id, rec):
        self.records[engine_id] = rec
        super().set_engine_state(table, engine_id, rec)


def _restore(spark, d: str, name: str, conc: int, strict: bool):
    root = os.path.join(TMP, name, f"c{conc}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    tgt = os.path.join(root, "sink")
    cfg = Config(
        mydumper=MydumperConfig(
            source_dir=d,
            csv=CSVConfig(strict_format=strict),
            # one file per engine; ~8 KiB of blocks per block engine
            batch_size=8 * 1024 if strict else 1,
        ),
        backend="parquet",
        target_dir=tgt,
        on_duplicate="error",
        checkpoint_path=os.path.join(root, "cp.json"),
        checksum_algo="kv_crc64",
        table_concurrency=conc,
        tidb=TiDBConfig(sql_mode=""),
    )
    cp = _RecordingStore(cfg.checkpoint_path)
    summary = RestoreController(spark, cfg, checkpoints=cp).run()
    assert summary.ok, summary.report()
    return summary, cp.records, tgt


@pytest.mark.parametrize(
    "name, table, make, strict",
    [
        ("sql", "ce.s", _sql_dump, False),
        ("csv", "ce.p", _csv_dump, False),
        ("block", "ce.b", _block_dump, True),
    ],
)
def test_concurrent_engines_match_serial_delivery(
    spark, name, table, make, strict
):
    d = make()
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    if strict:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024))
    try:
        runs = {
            conc: _restore(spark, d, name, conc, strict) for conc in (1, 4)
        }
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    seen = {}
    for conc, (summary, records, tgt) in runs.items():
        res = summary.tables[table]
        assert len(records) >= 3, records  # an engine grain, many engines
        df = spark.read.option("recursiveFileLookup", "true").parquet(
            os.path.join(tgt, table)
        )
        cols = sorted(df.columns)
        digest = df.agg(
            F.count(F.lit(1)), F.bit_xor(F.xxhash64(*cols))
        ).first()
        rowids = (
            sorted(r[0] for r in df.select(ROWID_COL).collect())
            if ROWID_COL in df.columns
            else None
        )
        seen[conc] = (
            res.rows,
            tuple(digest),
            (res.checksum.crc_xor, res.checksum.total_bytes,
             res.checksum.total_kvs),
            res.alloc_base,
            rowids,
            records,
        )
    assert seen[1] == seen[4]
    rows, (count, _), _, _, rowids, records = seen[4]
    assert rows == count
    if name != "sql":
        # PK-less: every hidden row id is unique
        assert len(set(rowids)) == count
    if strict:
        assert any(off > 0 for r in records.values() for _, off in r["chunks"])


def test_concurrent_engines_keep_the_job_group(spark):
    """Jobs started in engine pool threads carry the restore's job
    group (inherited Spark local properties), so a task server's
    cancelJobGroup stops them; none runs outside the group."""
    d = _sql_dump()
    root = os.path.join(TMP, "job_group")
    shutil.rmtree(root, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d, batch_size=1),
        backend="parquet",
        target_dir=os.path.join(root, "sink"),
        on_duplicate="error",
        checkpoint_path=os.path.join(root, "cp.json"),
        table_concurrency=4,
        tidb=TiDBConfig(sql_mode=""),
    )
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    grouped = set(tracker.getJobIdsForGroup("g"))
    out = {}

    def restore():
        out["summary"] = RestoreController(spark, cfg, job_group="g").run()

    # a fresh thread: its JVM thread starts with no local properties,
    # like a task server's worker
    t = threading.Thread(target=restore)
    t.start()
    t.join(timeout=600)
    assert not t.is_alive()
    assert out["summary"].ok, out["summary"].report()
    new_grouped = set(tracker.getJobIdsForGroup("g")) - grouped
    assert len(new_grouped) >= 6  # one write job per engine at least
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_sidecar_drop_tolerates_an_absent_file(tmp_path, monkeypatch):
    sink = ParquetSink(str(tmp_path))
    os.makedirs(sink._path("db.t"))
    sc = os.path.join(sink._path("db.t"), sink._SIDECAR)
    sink.record_checksum("db.t", ("kv_crc64", 2), Checksum(1, 2, 3))
    assert os.path.exists(sc)
    for _ in range(3):  # the first drop removes it, the rest find none
        sink.record_checksum("db.t", None, None)
    assert not os.path.exists(sc)
    # a sibling engine that removes the sidecar after this engine saw
    # it must not fail this one
    monkeypatch.setattr(os.path, "exists", lambda p: True)
    sink.record_checksum("db.t", None, None)


def test_memory_sink_keeps_every_concurrent_engine(spark):
    sink = MemorySink(on_duplicate="error")
    frames = [spark.range(i * 10, i * 10 + 10) for i in range(8)]
    threads = [
        threading.Thread(target=sink.write_engine, args=(df, "db.t", i))
        for i, df in enumerate(frames)
    ]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    back = sink.read_back(spark, "db.t")
    assert sorted(r[0] for r in back.collect()) == list(range(80))


def _kv_pair_builds(monkeypatch):
    from tidb_lightning_release_4_0_spark.functions import kv_codec

    calls = []
    orig = kv_codec.kv_hash_columns

    def counting(*args, **kwargs):
        calls.append(args[1])
        return orig(*args, **kwargs)

    monkeypatch.setattr(kv_codec, "kv_hash_columns", counting)
    return calls


def _kv_triple(ctl, df, schema):
    cols = [c.name for c in schema.columns]
    h = ctl._with_row_hash(df, cols, schema)
    r = h.agg(
        F.bit_xor("_h"), F.sum("_len"), F.count(F.lit(1))
    ).first()
    return tuple(r)


def test_kv_pair_column_is_built_once_per_table_shape(
    spark, monkeypatch, tmp_path
):
    cache = session_plan_cache(spark)
    for k in [k for k in cache if k[0] == "kv_pair"]:
        del cache[k]
    builds = _kv_pair_builds(monkeypatch)
    ctl = RestoreController(
        spark,
        Config(
            mydumper=MydumperConfig(source_dir=str(tmp_path)),
            checksum_algo="kv_crc64",
            checkpoint_enable=False,
            backend="memory",
        ),
    )
    schema = parse_create_table(
        "CREATE TABLE m (id INT PRIMARY KEY, c INT, KEY ic (c))"
    )
    rows = [(i, None if i % 3 == 0 else i * 7) for i in range(1, 50)]
    df = spark.createDataFrame(rows, "id int, c int")

    first = _kv_triple(ctl, df, schema)
    assert len(builds) == 1
    # a memo hit, on another frame of the same shape, hashes the same
    again = _kv_triple(ctl, spark.createDataFrame(rows, "id int, c int"),
                       schema)
    assert len(builds) == 1
    assert again == first

    # a DDL default changes the CanSkip rule for c's NULLs: a miss
    dflt = parse_create_table(
        "CREATE TABLE m (id INT PRIMARY KEY, c INT DEFAULT 5, KEY ic (c))"
    )
    changed = _kv_triple(ctl, df, dflt)
    assert len(builds) == 2
    assert changed != first
    # so does a source dtype, though it encodes the same datums
    widened = _kv_triple(
        ctl, df.withColumn("c", F.col("c").cast("long")), schema
    )
    assert len(builds) == 3
    assert widened == first
