"""TOML task-file loader parity:

- unused_config_keys: unknown sections/keys fail the load, each named
  (reference tests/unused_config_keys/run.sh: typo-1, typo-2, typo-3
  all reported; typo-4 — absent from the file — is not).
- reference-layout mapping: a realistic task.toml round-trips into
  Config.
- cmdline_override: explicit CLI flags beat bogus file values
  (reference tests/cmdline_override/run.sh).
"""

from __future__ import annotations

import os
import shutil

import pytest

from tidb_lightning_release_4_0_spark.config_toml import load_toml

TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".tmp",
    "toml",
)


def _write(tmp_path, text: str) -> str:
    p = tmp_path / "task.toml"
    p.write_text(text)
    return str(p)


def test_unused_config_keys_listed(tmp_path):
    p = _write(
        tmp_path,
        """
[typo-1]

[lightning]
typo-2 = "unused test"

[[typo-3]]
""",
    )
    with pytest.raises(ValueError) as e:
        load_toml(p)
    msg = str(e.value)
    assert "typo-1" in msg and "lightning.typo-2" in msg and "typo-3" in msg
    assert "typo-4" not in msg


def test_load_toml_maps_reference_layout(tmp_path):
    p = _write(
        tmp_path,
        """
[lightning]
table-concurrency = 2
check-requirements = false

[tikv-importer]
backend = "importer"
addr = "127.0.0.1:8287"
on-duplicate = "ignore"

[mydumper]
data-source-dir = "/data/dump"
no-schema = false
character-set = "gb18030"

[mydumper.csv]
separator = "|"
header = true
trim-last-separator = true

[tidb]
host = "10.0.0.1"
port = 4000
user = "root"
sql-mode = ""

[checkpoint]
enable = true
driver = "file"
dsn = "/tmp/cp.json"

[post-restore]
checksum = true
compact = false
analyze = false

[black-white-list]
do-dbs = ["tpch"]

[[routes]]
schema-pattern = "shard_*"
table-pattern = "t_*"
target-schema = "merged"
target-table = "t"
""",
    )
    cfg = load_toml(p)
    assert cfg.mydumper.source_dir == "/data/dump"
    assert cfg.mydumper.character_set == "gb18030"
    assert cfg.mydumper.csv.separator == "|"
    assert cfg.mydumper.csv.header and cfg.mydumper.csv.trim_last_sep
    assert cfg.backend == "parquet" and cfg.on_duplicate == "ignore"
    assert cfg.tidb.host == "10.0.0.1" and cfg.tidb.sql_mode == ""
    assert cfg.checkpoint_enable and cfg.checkpoint_path == "/tmp/cp.json"
    assert cfg.analyze is False and cfg.checksum is True
    assert cfg.bw_list.do_dbs == ["tpch"]
    assert cfg.routes[0].schema_pattern == "shard_*"
    assert cfg.routes[0].target_schema == "merged"
    assert cfg.table_concurrency == 2


@pytest.mark.parametrize("algo", ["hash60", "crc64", "xxhash64", "kv-crc64"])
def test_checksum_algo_typo_rejected(tmp_path, algo):
    """A checksum-algo outside xxdirect / kv_crc64 / kv_crc64_v2 fails
    the preflight adjust() instead of silently running another
    checksum."""
    p = _write(
        tmp_path,
        f"""
[mydumper]
data-source-dir = "/data/dump"

[post-restore]
checksum-algo = "{algo}"
""",
    )
    cfg = load_toml(p)
    cfg.target_dir = "/data/out"
    with pytest.raises(ValueError, match="checksum-algo") as ei:
        cfg.adjust()
    assert "xxdirect, kv_crc64, kv_crc64_v2" in str(ei.value)


def test_physical_only_keys_accepted(tmp_path):
    """TiKV-physical knobs load without error (they configure the
    backend this engine maps to Spark)."""
    p = _write(
        tmp_path,
        """
[lightning]
check-requirements = false
file = "/tmp/x.log"
level = "info"

[tikv-importer]
addr = "xyzxyzxyz"

[mydumper]
data-source-dir = "/data"

[tidb]
host = "h"
port = 1
user = "u"
status-port = 2
pd-addr = "p:2379"
""",
    )
    cfg = load_toml(p)
    assert cfg.mydumper.source_dir == "/data"


def test_cmdline_override(spark, tmp_path):
    """Reference tests/cmdline_override: every bogus file value is
    overridden by an explicit CLI flag and the restore succeeds."""
    from tidb_lightning_release_4_0_spark.__main__ import main

    d = os.path.join(TMP, "ovr_dump")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for name, content in {
        "ovr-schema-create.sql": "create database ovr;",
        "ovr.t-schema.sql": "create table t (i bigint primary key);",
        "ovr.t.sql": "INSERT INTO t VALUES (1), (2);",
    }.items():
        with open(os.path.join(d, name), "w") as f:
            f.write(content)
    tgt = os.path.join(TMP, "ovr_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    toml = _write(
        tmp_path,
        """
[lightning]
check-requirements = false

[mydumper]
data-source-dir = "xyzxyzxyz"

[tidb]
host = "xyzxyzxyz"
port = 12345678
user = "xyzxyzxyz"
""",
    )
    rc = main(
        [
            "--config", toml,
            "--source-dir", d,
            "--target-dir", tgt,
            "--sql-mode", "",
            "--no-checksum",
        ]
    )
    assert rc == 0
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "ovr.t")
    )
    assert sorted(r["i"] for r in t.collect()) == [1, 2]


def test_bw_table_rules_reference_tags(tmp_path):
    """do-tables entries use the tidb-tools db-name/tbl-name tags."""
    p = _write(
        tmp_path,
        """
[mydumper]
data-source-dir = "/d"

[black-white-list]
do-dbs = ["a"]

[[black-white-list.do-tables]]
db-name = "tpch"
tbl-name = "orders"
""",
    )
    cfg = load_toml(p)
    assert cfg.bw_list.do_tables == [("tpch", "orders")]


def test_bw_table_rules_unknown_tag_listed(tmp_path):
    p = _write(
        tmp_path,
        """
[black-white-list]
[[black-white-list.do-tables]]
db = "tpch"
tbl-name = "orders"
""",
    )
    with pytest.raises(ValueError, match=r"do-tables\[0\].db"):
        load_toml(p)


def test_routes_table_instead_of_array(tmp_path):
    p = _write(tmp_path, '[routes]\nschema-pattern = "s"\n')
    with pytest.raises(ValueError, match="expected \\[\\[routes\\]\\]"):
        load_toml(p)


def test_checkpoint_mysql_driver_fails_loud(tmp_path):
    p = _write(
        tmp_path,
        """
[mydumper]
data-source-dir = "/d"

[checkpoint]
enable = true
driver = "mysql"
dsn = "root@tcp(1.2.3.4:4000)/"
""",
    )
    with pytest.raises(ValueError, match="SQLCheckpointStore"):
        load_toml(p)


def test_cmdline_override_accepts_abbreviations(spark, tmp_path):
    """argparse prefix abbreviations must still count as explicitly
    provided (detection is a suppressed re-parse, not token match)."""
    from tidb_lightning_release_4_0_spark.__main__ import main

    d = os.path.join(TMP, "abbr_dump")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for name, content in {
        "ab-schema-create.sql": "create database ab;",
        "ab.t-schema.sql": "create table t (i bigint primary key);",
        "ab.t.sql": "INSERT INTO t VALUES (5);",
    }.items():
        with open(os.path.join(d, name), "w") as f:
            f.write(content)
    tgt = os.path.join(TMP, "abbr_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    toml = _write(
        tmp_path, '[mydumper]\ndata-source-dir = "bogus"\n'
    )
    rc = main(
        [
            "--config", toml,
            "--source", d,          # abbreviation of --source-dir
            "--target-dir", tgt,
            "--sql-mode", "",
            "--no-checksum",
        ]
    )
    assert rc == 0
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "ab.t")
    )
    assert [r["i"] for r in t.collect()] == [5]
