"""ParquetSink's directory contract: the error-mode table write
publishes through the same crash-safe swap as the incremental merge
(path -> .old, .merged -> path, drop .old), and the delivered-table
checksum lives behind `delivered_checksum` / `record_checksum`."""

from __future__ import annotations

import json
import os

import pytest

from tidb_lightning_release_4_0_spark.functions.checksum import Checksum
from tidb_lightning_release_4_0_spark.sinks.parquet_sink import ParquetSink

TABLE = "db.t"
TAG = ("kv_crc64", 2)
SIBLINGS = (".staging", ".merged", ".old")


def _sink(root: str, incremental: bool = False) -> ParquetSink:
    return ParquetSink(
        root,
        on_duplicate="error",
        key_columns={TABLE: ["pk"]},
        incremental=incremental,
    )


def _fresh(tmp_path) -> tuple[str, str]:
    root = str(tmp_path / "sink")
    return root, os.path.join(root, TABLE)


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "pk int, d string")


def _read(spark, path):
    return {
        r["pk"]: r["d"]
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(path)
        .collect()
    }


def _siblings(path):
    return [s for s in SIBLINGS if os.path.exists(path + s)]


def test_error_write_publishes_without_siblings(spark, tmp_path):
    root, path = _fresh(tmp_path)
    sink = _sink(root)
    sink.write(_rows(spark, [(1, "a"), (2, "b")]), TABLE)
    assert _siblings(path) == []
    assert _read(spark, path) == {1: "a", 2: "b"}
    # a second table-grain delivery replaces the table, sidecar and all
    sink.record_checksum(TABLE, TAG, Checksum(1, 2, 3))
    sink.write(_rows(spark, [(3, "c")]), TABLE)
    assert _siblings(path) == []
    assert _read(spark, path) == {3: "c"}
    assert sink.delivered_checksum(TABLE, TAG) is None


def test_error_write_crash_before_promote_is_recovered(spark, tmp_path):
    """Rewound to mid-swap — `.merged` present, `path` absent — the
    published rows are promoted by the next write (here an incremental
    error-mode merge, which must see them as delivered)."""
    root, path = _fresh(tmp_path)
    _sink(root).write(_rows(spark, [(1, "a")]), TABLE)
    os.replace(path, path + ".merged")
    _sink(root, incremental=True).write(_rows(spark, [(2, "b")]), TABLE)
    assert _read(spark, path) == {1: "a", 2: "b"}
    assert _siblings(path) == []


def test_delivered_checksum_recovers_before_reading(spark, tmp_path):
    """The pipeline reads the prior checksum before the write runs: a
    stranded `.merged` must count as delivered data, not as an empty
    table with the identity checksum."""
    root, path = _fresh(tmp_path)
    sink = _sink(root)
    sink.write(_rows(spark, [(1, "a")]), TABLE)
    sink.record_checksum(TABLE, TAG, Checksum(11, 22, 33))
    os.replace(path, path + ".merged")
    assert sink.delivered_checksum(TABLE, TAG) == Checksum(11, 22, 33)
    assert _siblings(path) == []


def test_rejected_error_write_keeps_table_and_checksum(spark, tmp_path):
    root, path = _fresh(tmp_path)
    sink = _sink(root)
    sink.write(_rows(spark, [(1, "a")]), TABLE)
    sink.record_checksum(TABLE, TAG, Checksum(5, 6, 7))
    with pytest.raises(ValueError, match="Duplicate entry for key"):
        sink.write(_rows(spark, [(2, "b"), (2, "c")]), TABLE)
    assert _read(spark, path) == {1: "a"}
    assert sink.delivered_checksum(TABLE, TAG) == Checksum(5, 6, 7)
    assert _siblings(path) == []


def test_checksum_record_layout_and_tags(spark, tmp_path):
    root, path = _fresh(tmp_path)
    sink = _sink(root)
    # nothing delivered: the monoid identity
    assert sink.delivered_checksum(TABLE, TAG) == Checksum(0, 0, 0)
    sink.write(_rows(spark, [(1, "a")]), TABLE)
    # delivered without a record: unknown
    assert sink.delivered_checksum(TABLE, TAG) is None
    # a record in the established on-disk format reads back, and a
    # new record writes the same bytes
    sc = os.path.join(path, "_checksum.json")
    old = {
        "algo": "kv_crc64",
        "codec_version": 2,
        "crc_xor": -9121394228454143013,
        "total_bytes": 4096,
        "total_kvs": 64,
    }
    with open(sc, "w") as f:
        json.dump(old, f)
    want = Checksum(-9121394228454143013, 4096, 64)
    assert sink.delivered_checksum(TABLE, TAG) == want
    before = open(sc).read()
    sink.record_checksum(TABLE, TAG, want)
    assert open(sc).read() == before
    # another algo, or another codec version of the same algo: unknown
    assert sink.delivered_checksum(TABLE, ("kv_crc64_v2", 2)) is None
    assert sink.delivered_checksum(TABLE, ("kv_crc64", 1)) is None
    # None forgets the record; so does any engine delivery
    sink.record_checksum(TABLE, TAG, None)
    assert not os.path.exists(sc)
    sink.record_checksum(TABLE, TAG, want)
    sink.write_engine(_rows(spark, [(9, "z")]), TABLE, 0)
    assert sink.delivered_checksum(TABLE, TAG) is None
