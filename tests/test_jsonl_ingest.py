"""Batch JSONL ingest through the full pipeline: .jsonl parts are a
beyond-reference dump format — named string fields through the same
MySQL cast ladder as CSV, capacity-lane row ids, UTF-8 text intact,
missing keys defaulted, mixed-format dumps unioning cleanly."""

from __future__ import annotations

import gzip
import os
import shutil

import pytest

from tidb_lightning_release_4_0_spark.config import Config, MydumperConfig
from tidb_lightning_release_4_0_spark.plans.pipeline import RestoreController

TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "jsonl_ingest"
)

DDL = """
CREATE TABLE `t` (
  `id` INT NOT NULL PRIMARY KEY,
  `name` VARCHAR(32) NOT NULL,
  `v` DOUBLE NOT NULL DEFAULT '7.5'
)
"""


def _dump(name: str, files: dict[str, str]) -> tuple[str, str]:
    root = os.path.join(TMP, name)
    shutil.rmtree(root, ignore_errors=True)
    dump = os.path.join(root, "dump")
    os.makedirs(dump)
    with open(os.path.join(dump, "db-schema-create.sql"), "w") as f:
        f.write("CREATE DATABASE IF NOT EXISTS `db`;\n")
    with open(os.path.join(dump, "db.t-schema.sql"), "w") as f:
        f.write(DDL.rstrip() + ";\n")
    for fname, text in files.items():
        opener = gzip.open if fname.endswith(".gz") else open
        with opener(os.path.join(dump, fname), "wt", encoding="utf-8") as f:
            f.write(text)
    return dump, os.path.join(root, "sink")


def _run(spark, dump: str, sink: str):
    cfg = Config(
        mydumper=MydumperConfig(source_dir=dump),
        backend="parquet",
        target_dir=sink,
        checkpoint_enable=False,
        on_duplicate="physical",
    )
    s = RestoreController(spark, cfg).run()
    assert s.ok, s.report()
    return spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(sink, "db.t")
    )


def test_jsonl_parts_ingest_typed_and_unicode(spark):
    dump, sink = _dump(
        "basic",
        {
            "db.t.0001.jsonl": (
                '{"id": 1, "name": "café 中", "v": 1.5}\n'
                '{"id": 2, "name": "plain", "v": 2.5}\n'
            ),
            "db.t.0002.jsonl": '{"id": 3, "name": "third"}\n',
        },
    )
    t = _run(spark, dump, sink)
    got = {r["id"]: (r["name"], r["v"]) for r in t.collect()}
    # missing key "v" takes the column DEFAULT like an absent CSV field
    assert got == {
        1: ("café 中", 1.5),
        2: ("plain", 2.5),
        3: ("third", 7.5),
    }


def test_jsonl_mixed_with_csv_parts(spark):
    """A dump mixing CSV and JSONL parts for ONE table unions into a
    single delivered table with disjoint row-id lanes."""
    dump, sink = _dump(
        "mixed",
        {
            "db.t.0001.csv": "1,from_csv,1.0\n",
            "db.t.0002.jsonl": '{"id": 2, "name": "from_jsonl", "v": 2.0}\n',
        },
    )
    t = _run(spark, dump, sink)
    got = {r["id"]: (r["name"], r["v"]) for r in t.collect()}
    assert got == {1: ("from_csv", 1.0), 2: ("from_jsonl", 2.0)}


def test_jsonl_extra_keys_ignored(spark):
    dump, sink = _dump(
        "extra",
        {
            "db.t.0001.jsonl": (
                '{"id": 1, "name": "a", "v": 3.0,'
                ' "unknown_key": "dropped"}\n'
            ),
        },
    )
    t = _run(spark, dump, sink)
    assert [tuple(r) for r in t.select("id", "name", "v").collect()] == [
        (1, "a", 3.0)
    ]


def test_jsonl_case_insensitive_keys(spark):
    """JSON keys matching the DDL case-insensitively must load (the
    parquet/CSV-header paths are case-insensitive; Spark's JSON
    parser alone is not — the first-line probe fixes the casing)."""
    dump, sink = _dump(
        "case",
        {
            "db.t.0001.jsonl": (
                '{"ID": 1, "Name": "x", "V": 4.0}\n'
                '{"ID": 2, "Name": "y", "V": 5.0}\n'
            ),
        },
    )
    t = _run(spark, dump, sink)
    got = {r["id"]: (r["name"], r["v"]) for r in t.collect()}
    assert got == {1: ("x", 4.0), 2: ("y", 5.0)}


@pytest.mark.parametrize("ext", [".jsonl", ".jsonl.gz"])
def test_jsonl_key_casing_per_line(spark, ext):
    """One part spells each key in two casings, one per line. Every
    line must restore its own values, never read as all-NULL and
    filled with the NOT NULL defaults (id 0, '' and 7.5)."""
    dump, sink = _dump(
        "case_per_line" + ext.replace(".", "_"),
        {
            "db.t.0001" + ext: (
                '{"ID":1,"Name":"a","V":1.5}\n'
                '{"id":2,"name":"b","v":2.5}\n'
            ),
        },
    )
    t = _run(spark, dump, sink)
    got = sorted(tuple(r) for r in t.select("id", "name", "v").collect())
    assert got == [(1, "a", 1.5), (2, "b", 2.5)]


def test_jsonl_gz_part_keeps_unicode(spark):
    """A gzipped part decodes as UTF-8: non-ASCII text survives."""
    dump, sink = _dump(
        "gz_unicode",
        {"db.t.0001.jsonl.gz": '{"id": 1, "name": "café 中", "v": 1.5}\n'},
    )
    t = _run(spark, dump, sink)
    got = {r["id"]: (r["name"], r["v"]) for r in t.collect()}
    assert got == {1: ("café 中", 1.5)}


def test_jsonl_malformed_line_fails_loudly(spark):
    """A corrupt line must ERROR the table restore (surfacing in the
    O12 summary), never fabricate a default-filled row."""
    root = os.path.join(TMP, "badline")
    shutil.rmtree(root, ignore_errors=True)
    dump = os.path.join(root, "dump")
    os.makedirs(dump)
    with open(os.path.join(dump, "db-schema-create.sql"), "w") as f:
        f.write("CREATE DATABASE IF NOT EXISTS `db`;\n")
    with open(os.path.join(dump, "db.t-schema.sql"), "w") as f:
        f.write(DDL.rstrip() + ";\n")
    with open(os.path.join(dump, "db.t.0001.jsonl"), "w") as f:
        f.write('{"id": 1, "name": "ok", "v": 1.0}\n')
        f.write("THIS IS NOT JSON\n")
    cfg = Config(
        mydumper=MydumperConfig(source_dir=dump),
        backend="parquet",
        target_dir=os.path.join(root, "sink"),
        checkpoint_enable=False,
        on_duplicate="physical",
    )
    s = RestoreController(spark, cfg).run()
    assert not s.ok, "malformed JSONL must fail the table"
    assert s.tables["db.t"].status == "failed"


@pytest.mark.parametrize("grain", ["table", "strict_table", "block"])
def test_jsonl_unmatched_line_after_matched_ones_raises(spark, grain):
    """A line whose keys match no column fails the restore wherever it
    sits in its part, on the table, strict-format table and block
    lanes: it would read as all-NULL and the NOT NULL ladder would
    fabricate (0, '', 7.5) out of the defaults."""
    from tidb_lightning_release_4_0_spark.config import CSVConfig
    from tidb_lightning_release_4_0_spark.plans.checkpoints import (
        CheckpointStore,
    )

    good = "".join(
        '{"id": %d, "name": "n%d", "v": 1.5}\n' % (i, i)
        for i in range(1, 301)
    )
    dump, sink = _dump(
        "unmatched_" + grain,
        {"db.t.0001.jsonl": good + '{"wrong": 2, "keys": "x"}\n'},
    )
    cp_path = os.path.join(os.path.dirname(dump), "cp.json")
    block = grain == "block"
    cfg = Config(
        mydumper=MydumperConfig(
            source_dir=dump,
            csv=CSVConfig(strict_format=grain != "table"),
            batch_size=2048,
        ),
        backend="parquet",
        target_dir=sink,
        checkpoint_enable=block,
        checkpoint_path=cp_path if block else "",
        on_duplicate="error",
    )
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try:
        s = RestoreController(spark, cfg).run()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert not s.ok
    assert "refusing to ingest" in s.report()
    if block:
        # the engines before the bad line's block were delivered
        assert CheckpointStore(cp_path).engine_state("db.t", 0) is not None
