"""Strict-format chunk-split CSV (S6/S7): the reference splits any
file into byte-range chunks when strict-format guarantees no unquoted
newlines (mydump/region.go SplitLargeFile, parser.go:502-535). Here
that maps to multiLine=false (Spark's splittable CSV path) plus
byte-offset row-id bases with a per-block straddle cushion.

Covers: multi-task reads of ONE file, row-id uniqueness/monotonicity
under adversarial (tiny) split sizes, value round-trip vs the
whole-file path, TOML wiring, and the e2e restore.
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
)
from tidb_lightning_release_4_0_spark.operators.rowid import (
    assign_rowid_by_file_split,
    file_row_bases_split,
    split_bytes_lower_bound,
)
from tidb_lightning_release_4_0_spark.sources.csv_source import read_csv
from tidb_lightning_release_4_0_spark.sources.csv_strict import read_header

C3 = ["_c0", "_c1", "_c2"]

TMP = "/root/repo/.tmp/split_csv_tests"


@pytest.fixture
def small_splits(spark):
    """Run the body under a tiny maxPartitionBytes so even KB files
    split into many byte-range blocks."""
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")

    def setter(nbytes: int) -> int:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(nbytes))
        return split_bytes_lower_bound(spark)

    yield setter
    spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def _write_csv(path: str, rows: list[tuple]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        for r in rows:
            f.write(",".join(str(x) for x in r) + "\n")


def test_single_file_fans_out_and_preserves_order(spark, small_splits):
    """One 3-column file under 512-byte splits: many tasks, ids
    unique + monotonic in file order, values intact."""
    rows = [(i, i * 7, f"val{i}") for i in range(2000)]
    path = os.path.join(TMP, "fanout", "t.csv")
    _write_csv(path, rows)
    sb = small_splits(512)
    cfg = CSVConfig(strict_format=True)
    df = read_csv(spark, path, cfg, column_names=C3)
    nparts = df.rdd.getNumPartitions()
    assert nparts > 10, f"expected many byte-range tasks, got {nparts}"
    bases = file_row_bases_split([(path, os.path.getsize(path))], 3, sb)
    out = assign_rowid_by_file_split(df, bases, 3, sb)
    got = [
        (int(r["_c0"]), int(r["_row_id"]))
        for r in out.select("_c0", "_row_id").collect()
    ]
    assert len(got) == len(rows)
    ids = [i for _, i in got]
    assert len(set(ids)) == len(ids), "row ids must be unique"
    by_file_order = [i for _, i in sorted(got)]
    assert by_file_order == sorted(ids), (
        "row ids must be monotonic in file order"
    )


def test_straddling_lines_stay_unique(spark, small_splits):
    """Adversarial: minimum-width rows + splits so small nearly every
    block absorbs a boundary-straddling line — the case the per-block
    cushion exists for."""
    rows = [(i % 10, (i * 3) % 10, i % 10) for i in range(1500)]
    path = os.path.join(TMP, "straddle", "t.csv")
    _write_csv(path, rows)
    sb = small_splits(64)
    cfg = CSVConfig(strict_format=True)
    df = read_csv(spark, path, cfg, column_names=C3)
    bases = file_row_bases_split([(path, os.path.getsize(path))], 3, sb)
    out = assign_rowid_by_file_split(df, bases, 3, sb)
    ids = [r["_row_id"] for r in out.select("_row_id").collect()]
    assert len(ids) == len(rows)
    assert len(set(ids)) == len(ids), "straddling lines collided"


def test_multi_file_bases_disjoint(spark, small_splits):
    """Two split files share one read: per-file id ranges must not
    overlap, and each file's ids stay monotonic in its own order."""
    p1 = os.path.join(TMP, "multi", "a.csv")
    p2 = os.path.join(TMP, "multi", "b.csv")
    _write_csv(p1, [(i, "a") for i in range(800)])
    _write_csv(p2, [(i, "b") for i in range(800)])
    sb = small_splits(256)
    cfg = CSVConfig(strict_format=True)
    files = [(p1, os.path.getsize(p1)), (p2, os.path.getsize(p2))]
    bases = file_row_bases_split(files, 2, sb)
    df = read_csv(spark, [p1, p2], cfg, column_names=["_c0", "_c1"])
    out = assign_rowid_by_file_split(df, bases, 2, sb)
    got = [
        (r["_c1"], int(r["_c0"]), int(r["_row_id"]))
        for r in out.collect()
    ]
    assert len(got) == 1600
    ids = [i for _, _, i in got]
    assert len(set(ids)) == len(ids)
    a_ids = {i for t, _, i in got if t == "a"}
    b_ids = {i for t, _, i in got if t == "b"}
    assert max(a_ids) < min(b_ids), "file id ranges must be disjoint"


def test_matches_whole_file_read_values(spark, small_splits):
    """Split and whole-file reads of the same file yield identical
    value multisets (quotes still honored within a line)."""
    rows = [(i, f'"quoted,{i}"', i * 2) for i in range(500)]
    path = os.path.join(TMP, "parity", "t.csv")
    _write_csv(path, rows)
    small_splits(128)
    split_df = read_csv(
        spark, path, CSVConfig(strict_format=True), column_names=C3
    )
    whole_df = read_csv(spark, path, CSVConfig(), column_names=C3)
    assert sorted(map(tuple, split_df.collect())) == sorted(
        map(tuple, whole_df.collect())
    )


def test_toml_wires_strict_format(tmp_path):
    p = tmp_path / "task.toml"
    p.write_text(
        """
[mydumper]
data-source-dir = "/x"
strict-format = true
"""
    )
    from tidb_lightning_release_4_0_spark.config_toml import load_toml

    cfg = load_toml(str(p))
    assert cfg.mydumper.csv.strict_format is True
    assert (
        CSVConfig(strict_format=True).spark_options()["multiLine"]
        == "false"
    )
    assert CSVConfig().spark_options()["multiLine"] == "true"


DDL = """
CREATE TABLE `t` (
  `pk` INT NOT NULL PRIMARY KEY,
  `v` BIGINT NOT NULL,
  `s` VARCHAR(16) NOT NULL
)
"""


def test_e2e_restore_split_single_file(spark, small_splits):
    """Full pipeline over ONE strict-format CSV under small splits:
    delivered rows equal the source, no dup/loss at block seams."""
    from tidb_lightning_release_4_0_spark.plans.pipeline import (
        RestoreController,
    )

    dump = os.path.join(TMP, "e2e", "dump")
    tgt = os.path.join(TMP, "e2e", "sink")
    shutil.rmtree(dump, ignore_errors=True)
    shutil.rmtree(tgt, ignore_errors=True)
    os.makedirs(dump)
    rows = [(i, i * 1000003, f"s{i}") for i in range(3000)]
    _write_csv(os.path.join(dump, "db.t.csv"), rows)
    with open(os.path.join(dump, "db-schema-create.sql"), "w") as f:
        f.write("CREATE DATABASE IF NOT EXISTS `db`;\n")
    with open(os.path.join(dump, "db.t-schema.sql"), "w") as f:
        f.write(DDL.rstrip() + ";\n")
    small_splits(2048)
    cfg = Config(
        mydumper=MydumperConfig(
            source_dir=dump, csv=CSVConfig(strict_format=True)
        ),
        backend="parquet",
        target_dir=tgt,
        checkpoint_enable=False,
        on_duplicate="physical",
    )
    s = RestoreController(spark, cfg).run()
    assert s.ok, s.report()
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "db.t")
    )
    got = sorted((r["pk"], r["v"], r["s"]) for r in t.collect())
    assert got == rows
    assert s.tables["db.t"].rows == len(rows)


def test_header_file_under_splits(spark, small_splits):
    """header=true with strict-format: the header row must be skipped
    exactly once (offset-0 split) even when the file fans out across
    many byte-range tasks."""
    path = os.path.join(TMP, "header", "t.csv")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        f.write("pk,val\n")
        for i in range(1200):
            f.write(f"{i},v{i}\n")
    small_splits(512)
    cfg = CSVConfig(strict_format=True, header=True)
    df = read_csv(spark, path, cfg, column_names=read_header(path, cfg))
    assert df.rdd.getNumPartitions() > 5
    rows = df.collect()
    assert len(rows) == 1200
    assert df.columns == ["pk", "val"]
    assert sorted(int(r["pk"]) for r in rows) == list(range(1200))


def test_gz_mixed_with_strict_format_stays_mono_lane(spark):
    """A gz part present alongside strict-format plain CSVs: the
    pipeline must fall back to the capacity-scheme id lane for the
    whole table (compressed sizes cannot bound row counts), not the
    byte-offset scheme."""
    import gzip

    from tidb_lightning_release_4_0_spark.plans.pipeline import (
        RestoreController,
    )

    dump = os.path.join(TMP, "gzmix", "dump")
    tgt = os.path.join(TMP, "gzmix", "sink")
    shutil.rmtree(dump, ignore_errors=True)
    shutil.rmtree(tgt, ignore_errors=True)
    os.makedirs(dump)
    _write_csv(
        os.path.join(dump, "db.t.0.csv"),
        [(i, i * 3, f"a{i}") for i in range(500)],
    )
    with gzip.open(os.path.join(dump, "db.t.1.csv.gz"), "wt") as f:
        for i in range(500, 800):
            f.write(f"{i},{i * 3},a{i}\n")
    with open(os.path.join(dump, "db-schema-create.sql"), "w") as f:
        f.write("CREATE DATABASE IF NOT EXISTS `db`;\n")
    with open(os.path.join(dump, "db.t-schema.sql"), "w") as f:
        f.write(DDL.rstrip() + ";\n")
    cfg = Config(
        mydumper=MydumperConfig(
            source_dir=dump, csv=CSVConfig(strict_format=True)
        ),
        backend="parquet",
        target_dir=tgt,
        checkpoint_enable=False,
        on_duplicate="physical",
    )
    s = RestoreController(spark, cfg).run()
    assert s.ok, s.report()
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "db.t")
    )
    got = sorted(r["pk"] for r in t.collect())
    assert got == list(range(800))
