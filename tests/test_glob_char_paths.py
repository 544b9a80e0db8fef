"""A dump directory whose name holds Hadoop glob characters restores
like any other. ``spark.read`` globs each path string it is given, so
a source dir named ``d[1]{a}`` used to match nothing and fail the read
with PATH_NOT_FOUND; the readers now escape the glob characters
(``sources.literal_paths``)."""

from __future__ import annotations

import json

import pandas as pd

from tidb_lightning_release_4_0_spark.config import Config, MydumperConfig
from tidb_lightning_release_4_0_spark.plans.pipeline import RestoreController
from tidb_lightning_release_4_0_spark.sources import literal_paths

GLOB_DIR = "d[1]{a}"


def _restore(spark, tmp_path, fmt: str, ddl: str, parts: dict[int, list]):
    d = tmp_path / GLOB_DIR
    d.mkdir()
    (d / "db-schema-create.sql").write_text("CREATE DATABASE db;")
    (d / "db.t-schema.sql").write_text(ddl)
    for part, rows in parts.items():
        path = d / f"db.t.{part:04d}.{fmt}"
        if fmt == "csv":
            path.write_text("".join(f"{v},{s}\n" for v, s in rows))
        elif fmt == "jsonl":
            path.write_text(
                "".join(json.dumps({"v": v, "s": s}) + "\n" for v, s in rows)
            )
        else:
            pd.DataFrame(rows, columns=["v", "s"]).to_parquet(path)
    tgt = str(tmp_path / "sink")
    run = RestoreController(
        spark,
        Config(
            mydumper=MydumperConfig(source_dir=str(d)),
            backend="parquet",
            target_dir=tgt,
            checkpoint_enable=False,
        ),
    ).run()
    assert run.ok, run.report()
    return spark.read.parquet(tgt + "/db.t")


def _parts(n_parts: int = 3, rows: int = 5) -> dict[int, list]:
    return {
        p: [(p * rows + i, f"s{p * rows + i}") for i in range(rows)]
        for p in range(n_parts)
    }


def test_literal_paths_escapes_only_glob_characters():
    assert literal_paths("/x/d[1]{a}/f*?.csv") == r"/x/d\[1\]\{a\}/f\*\?.csv"
    assert literal_paths(["/x/sp ace%25#q/f.csv"]) == ["/x/sp ace%25#q/f.csv"]


def test_csv_dump_in_glob_named_dir(spark, tmp_path):
    # PK-less: the row-id bases are keyed by each file's read path too
    got = _restore(
        spark, tmp_path, "csv", "CREATE TABLE t (v INT, s VARCHAR(8))", _parts()
    )
    assert sorted(r.v for r in got.collect()) == list(range(15))
    assert got.select("_tidb_rowid").distinct().count() == 15


def test_jsonl_dump_in_glob_named_dir(spark, tmp_path):
    got = _restore(
        spark,
        tmp_path,
        "jsonl",
        "CREATE TABLE t (v INT PRIMARY KEY, s VARCHAR(8))",
        _parts(),
    )
    assert sorted((r.v, r.s) for r in got.collect()) == [
        (i, f"s{i}") for i in range(15)
    ]


def test_parquet_dump_in_glob_named_dir(spark, tmp_path):
    got = _restore(
        spark,
        tmp_path,
        "parquet",
        "CREATE TABLE t (v INT PRIMARY KEY, s VARCHAR(8))",
        _parts(),
    )
    assert sorted(r.v for r in got.collect()) == list(range(15))
