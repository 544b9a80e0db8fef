"""Unit tests: DDL -> StructType translation, config validation,
filter + router (twins of lightning's loader/config/restore tests)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from tidb_lightning_release_4_0_spark.config import (
    Config,
    CSVConfig,
    FilterRule,
    MydumperConfig,
    RouteRule,
    strict_sql_mode,
)
from tidb_lightning_release_4_0_spark.sources.mydump_loader import (
    TableFilter,
    TableRouter,
    _classify,
)
from tidb_lightning_release_4_0_spark.sources.schema_reader import (
    parse_create_table,
)


# -- DDL parser --------------------------------------------------------------


def test_ddl_all_types():
    sch = parse_create_table(
        """
        CREATE TABLE IF NOT EXISTS `db`.`every_type` (
          `ti` TINYINT, `si` SMALLINT UNSIGNED, `mi` MEDIUMINT,
          `i` INT NOT NULL, `bi` BIGINT, `ubi` BIGINT UNSIGNED,
          `f` FLOAT, `d` DOUBLE, `dec` DECIMAL(21,4),
          `c` CHAR(36), `vc` VARCHAR(100) DEFAULT 'x,y',
          `txt` LONGTEXT, `bin` BINARY(16), `vb` VARBINARY(10),
          `bl` BLOB, `bit` BIT(8), `dt` DATE,
          `dtm` DATETIME(6) DEFAULT CURRENT_TIMESTAMP,
          `ts` TIMESTAMP(3), `tm` TIME, `yr` YEAR,
          `en` ENUM('a','b''c','d,e'), `st` SET('x','y'),
          `js` JSON,
          PRIMARY KEY (`i`),
          UNIQUE KEY `uk` (`c`),
          KEY `k2` (`si`, `mi`(10))
        ) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;
        """
    )
    by = {c.name: c for c in sch.columns}
    assert isinstance(by["ti"].spark_type, T.ByteType)
    assert isinstance(by["si"].spark_type, T.IntegerType)  # unsigned up
    assert isinstance(by["ubi"].spark_type, T.DecimalType)
    assert by["ubi"].spark_type == T.DecimalType(20, 0)
    assert by["dec"].spark_type == T.DecimalType(21, 4)
    assert isinstance(by["bin"].spark_type, T.BinaryType)
    assert isinstance(by["bit"].spark_type, T.LongType)
    assert isinstance(by["dtm"].spark_type, T.TimestampType)
    assert by["dtm"].default_current_ts
    assert by["vc"].default == "x,y"
    assert by["en"].enum_members == ["a", "b'c", "d,e"]
    assert by["st"].enum_members == ["x", "y"]
    assert sch.primary_key == ["i"]
    assert sch.has_int_pk
    assert [ix.name for ix in sch.indexes] == ["PRIMARY", "uk", "k2"]
    assert sch.indexes[2].columns == ["si", "mi"]


def test_ddl_inline_pk_and_autoinc():
    sch = parse_create_table(
        "create table t (id int unsigned primary key auto_increment, "
        "v varchar(5) not null);"
    )
    assert sch.primary_key == ["id"]
    assert sch.auto_increment_column == "id"
    assert sch.has_int_pk
    assert not sch.column("v").nullable


def test_ddl_partitioned():
    sch = parse_create_table(
        "create table p (a int) partition by hash(a) partitions 4;"
    )
    assert sch.partitioned


def test_ddl_no_int_pk():
    assert not parse_create_table(
        "create table t (pk varchar(5) primary key)"
    ).has_int_pk
    assert not parse_create_table(
        "create table t (a int, b int, primary key (a, b))"
    ).has_int_pk
    # bigint unsigned pk is not an int handle (maps to decimal)
    assert not parse_create_table(
        "create table t (a bigint unsigned primary key)"
    ).has_int_pk


# -- config ------------------------------------------------------------------


def test_csv_config_validation():
    with pytest.raises(ValueError):
        CSVConfig(separator="||").validate()
    with pytest.raises(ValueError):
        CSVConfig(separator='"', delimiter='"').validate()
    CSVConfig().validate()


def test_config_adjust():
    with pytest.raises(ValueError, match="source-dir"):
        Config().adjust()
    with pytest.raises(ValueError, match="target-dir"):
        Config(mydumper=MydumperConfig(source_dir="/x")).adjust()
    with pytest.raises(ValueError, match="character-set"):
        Config(
            mydumper=MydumperConfig(source_dir="/x", character_set="klingon"),
            backend="memory",
        ).adjust()


@pytest.mark.parametrize("algo", ["hash60", "crc64", "xxhash64", "kv-crc64"])
def test_config_adjust_rejects_unknown_checksum_algo(algo):
    cfg = Config(
        mydumper=MydumperConfig(source_dir="/x"),
        backend="memory",
        checksum_algo=algo,
    )
    with pytest.raises(ValueError, match="checksum-algo") as ei:
        cfg.adjust()
    for ok in ("xxdirect", "kv_crc64", "kv_crc64_v2"):
        assert ok in str(ei.value)
    for ok in ("xxdirect", "kv_crc64", "kv_crc64_v2"):
        cfg.checksum_algo = ok
        cfg.adjust()


def test_strict_sql_mode():
    assert strict_sql_mode("STRICT_TRANS_TABLES,NO_ENGINE_SUBSTITUTION")
    assert strict_sql_mode("strict_all_tables")
    assert not strict_sql_mode("")
    assert not strict_sql_mode("NO_ENGINE_SUBSTITUTION")


# -- file classification (loader.go:249-270) ---------------------------------


def test_classify():
    assert _classify("db-schema-create.sql") == ("db-schema", "db.")
    assert _classify("db.tbl-schema.sql") == ("table-schema", "db.tbl")
    assert _classify("db.tbl.sql") == ("data", "db.tbl")
    assert _classify("db.tbl.0001.sql") == ("data", "db.tbl.0001")
    assert _classify("db.tbl.CSV") == ("data", "db.tbl")
    assert _classify("db.tbl-schema-view.sql") is None
    assert _classify("db.tbl-schema-trigger.sql") is None
    assert _classify("README.md") is None


# -- filter (F1) -------------------------------------------------------------


def test_filter_system_dbs_always_ignored():
    f = TableFilter(FilterRule())
    for db in ("mysql", "INFORMATION_SCHEMA", "performance_schema", "sys"):
        assert not f.accept(db, "any")
    assert f.accept("mydb", "t")


def test_filter_wildcards():
    f = TableFilter(FilterRule(do_dbs=["first*"], ignore_tables=[("first*", "second")]))
    assert f.accept("firstdb", "first")
    assert not f.accept("firstdb", "second")
    assert not f.accept("seconddb", "third")


def test_filter_case_sensitivity():
    f = TableFilter(FilterRule(do_dbs=["MyDB"]), case_sensitive=False)
    assert f.accept("mydb", "t")
    fs = TableFilter(FilterRule(do_dbs=["MyDB"]), case_sensitive=True)
    assert not fs.accept("mydb", "t")
    assert fs.accept("MyDB", "t")


# -- router (F2) -------------------------------------------------------------


def test_router_first_match_wins():
    r = TableRouter(
        [
            RouteRule("shard_*", "t_*", "merged", "t"),
            RouteRule("shard_*", "*", "other", "rest"),
        ]
    )
    assert r.route("shard_0", "t_user") == ("merged", "t")
    assert r.route("shard_0", "audit") == ("other", "rest")
    assert r.route("plaindb", "t_user") == ("plaindb", "t_user")


def test_router_keeps_table_name_when_target_empty():
    r = TableRouter([RouteRule("a*", "x*", "b", "")])
    assert r.route("a1", "x9") == ("b", "x9")
