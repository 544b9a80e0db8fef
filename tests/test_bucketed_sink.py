"""Bucketed delivery (Config.bucket_buckets): the co-located-join
property. Two tables restored bucketed on the same key with the same
bucket count must join in the session catalog WITHOUT any exchange —
the Spark analog of the reference's range-sharded, key-sorted regions
(backend/sql2kv.go KV ordering; importer.go SST ingest)."""

from __future__ import annotations

import io
import os
import shutil
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from tidb_lightning_release_4_0_spark.config import Config, MydumperConfig
from tidb_lightning_release_4_0_spark.plans.pipeline import RestoreController
from tidb_lightning_release_4_0_spark.sources.dump_writer import (
    write_dump_table,
)

TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "bucketed"
)

ORDERS_DDL = """
CREATE TABLE `orders` (
  `o_orderkey` BIGINT NOT NULL PRIMARY KEY,
  `o_custkey` BIGINT NOT NULL,
  `o_totalprice` DOUBLE NOT NULL
)
"""

FACT_DDL = """
CREATE TABLE `ofact` (
  `o_orderkey` BIGINT NOT NULL PRIMARY KEY,
  `note` VARCHAR(32) NOT NULL
)
"""


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def bucketed_target(spark, tables):
    dump = os.path.join(TMP, "dump")
    tgt = os.path.join(TMP, "sink")
    shutil.rmtree(TMP, ignore_errors=True)
    od = tables["orders"].toPandas()[
        ["o_orderkey", "o_custkey", "o_totalprice"]
    ]
    write_dump_table(dump, "b", "orders", od, ORDERS_DDL, fmt="csv", parts=3)
    fact = od[["o_orderkey"]].copy()
    fact["note"] = "n" + fact["o_orderkey"].astype(str)
    write_dump_table(dump, "b", "ofact", fact, FACT_DDL, fmt="csv", parts=2)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=dump),
        backend="parquet",
        target_dir=tgt,
        checkpoint_enable=False,
        bucket_buckets=4,
    )
    summary = RestoreController(spark, cfg).run()
    assert summary.ok, summary.report()
    return tgt


def test_bucketed_tables_registered_with_bucket_spec(
    spark, tables, bucketed_target
):
    rows = spark.table("tlr4s_b.orders").count()
    assert rows == tables["orders"].count()
    ddl = spark.sql("SHOW CREATE TABLE tlr4s_b.orders").first()[0]
    assert "CLUSTERED BY" in ddl and "4 BUCKETS" in ddl, ddl


def test_bucketed_join_has_no_exchange(spark, bucketed_target):
    """The point of bucketing: same key + same bucket count on both
    sides -> the join plan contains NO shuffle at all (broadcast
    disabled to force the bucketed sort-merge path)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.sql(
            "SELECT o.o_orderkey, o.o_totalprice, f.note "
            "FROM tlr4s_b.orders o JOIN tlr4s_b.ofact f "
            "ON o.o_orderkey = f.o_orderkey"
        )
        plan = _plan(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert j.count() == spark.table("tlr4s_b.orders").count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_groupby_has_no_exchange(spark, bucketed_target):
    """Aggregation on the bucket key also rides the delivered
    distribution — no exchange before the final aggregate."""
    g = spark.sql(
        "SELECT o_orderkey, sum(o_totalprice) AS s "
        "FROM tlr4s_b.orders GROUP BY o_orderkey"
    )
    plan = _plan(g)
    assert "Exchange" not in plan, plan


def test_bucketed_error_mode_validates_before_publish(spark, tables):
    """`error` dup mode with bucketing: the duplicate is caught on the
    staging copy and the previously delivered table is untouched."""
    dump = os.path.join(TMP, "dump_err")
    tgt = os.path.join(TMP, "sink_err")
    shutil.rmtree(dump, ignore_errors=True)
    shutil.rmtree(tgt, ignore_errors=True)
    od = tables["orders"].toPandas()[
        ["o_orderkey", "o_custkey", "o_totalprice"]
    ].head(100)
    write_dump_table(dump, "e", "orders", od, ORDERS_DDL, fmt="csv")
    cfg = Config(
        mydumper=MydumperConfig(source_dir=dump),
        backend="parquet",
        target_dir=tgt,
        checkpoint_enable=False,
        on_duplicate="error",
        bucket_buckets=2,
    )
    s1 = RestoreController(spark, cfg).run()
    assert s1.ok, s1.report()
    assert spark.table("tlr4s_e.orders").count() == 100

    # second load with a duplicated key must fail on staging and keep
    # the delivered table intact
    import pandas as pd

    dup = pd.concat([od, od.head(1)], ignore_index=True)
    shutil.rmtree(dump, ignore_errors=True)
    write_dump_table(dump, "e", "orders", dup, ORDERS_DDL, fmt="csv")
    s2 = RestoreController(spark, cfg).run()
    assert not s2.ok
    assert "Duplicate entry" in (s2.tables["e.orders"].error or "")
    assert spark.table("tlr4s_e.orders").count() == 100


def test_bucket_buckets_config_validation():
    with pytest.raises(ValueError):
        Config(
            mydumper=MydumperConfig(source_dir="/x"),
            backend="memory",
            bucket_buckets=4,
        ).adjust()


def test_global_sorted_delivery_disjoint_file_ranges(spark, tables):
    """sorted_output='global': delivered files cover disjoint,
    ascending PK ranges (the range-sharded sorted-SST analog) — a
    key-range scan touches only the files whose zone maps intersect."""
    dump = os.path.join(TMP, "dump_gs")
    tgt = os.path.join(TMP, "sink_gs")
    shutil.rmtree(dump, ignore_errors=True)
    shutil.rmtree(tgt, ignore_errors=True)
    od = tables["orders"].toPandas()[
        ["o_orderkey", "o_custkey", "o_totalprice"]
    ]
    write_dump_table(dump, "g", "orders", od, ORDERS_DDL, fmt="csv", parts=4)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=dump),
        backend="parquet",
        target_dir=tgt,
        checkpoint_enable=False,
        sorted_output="global",
    )
    # tiny corpus: stop AQE from coalescing the range exchange to one
    # partition so the disjointness property is actually exercised
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        s = RestoreController(spark, cfg).run()
    finally:
        spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    assert s.ok, s.report()
    tdir = os.path.join(tgt, "g.orders")
    files = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(tdir)
        for f in fs
        if f.endswith(".parquet")
    )
    assert len(files) > 1, files  # range exchange produced >1 file
    ranges = []
    total = 0
    for f in files:
        d = spark.read.parquet(f)
        r = d.agg(
            F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
        ).first()
        ranges.append((r["lo"], r["hi"]))
        total += d.count()
    assert total == len(od)
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, ranges  # disjoint ascending ranges


def test_zorder_delivery_prunes_both_columns(spark, tables):
    """Z-order clustering: per-file min/max ranges are narrow on
    BOTH z-columns (a plain PK sort only narrows its leading
    column), so a predicate on either column prunes files."""
    dump = os.path.join(TMP, "dump_z")
    tgt = os.path.join(TMP, "sink_z")
    shutil.rmtree(dump, ignore_errors=True)
    shutil.rmtree(tgt, ignore_errors=True)
    od = tables["orders"].toPandas()[
        ["o_orderkey", "o_custkey", "o_totalprice"]
    ]
    write_dump_table(dump, "z", "orders", od, ORDERS_DDL, fmt="csv", parts=4)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=dump),
        backend="parquet",
        target_dir=tgt,
        checkpoint_enable=False,
        zorder_columns=["o_orderkey", "o_custkey"],
    )
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        s = RestoreController(spark, cfg).run()
    finally:
        spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    assert s.ok, s.report()
    tdir = os.path.join(tgt, "z.orders")
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(tdir)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert len(files) >= 4, files
    total = 0
    spans = {"o_orderkey": [], "o_custkey": []}
    for fp in files:
        d = spark.read.parquet(fp)
        total += d.count()
        r = d.agg(
            F.min("o_orderkey").alias("k0"), F.max("o_orderkey").alias("k1"),
            F.min("o_custkey").alias("c0"), F.max("o_custkey").alias("c1"),
        ).first()
        spans["o_orderkey"].append(r["k1"] - r["k0"])
        spans["o_custkey"].append(r["c1"] - r["c0"])
    assert total == len(od)
    for col in ("o_orderkey", "o_custkey"):
        glob_span = float(od[col].max() - od[col].min())
        avg_span = sum(spans[col]) / len(spans[col])
        # each file covers a hyper-rectangle: both dims well under
        # the global span (an unsorted/PK-sorted layout leaves the
        # second column's per-file span ~= the global span)
        assert avg_span < 0.75 * glob_span, (col, avg_span, glob_span)


def test_zorder_skips_tables_missing_a_column(spark, tables):
    """The z-order contract: a table missing ANY configured column
    keeps its normal (PK-sorted) delivery — the layout and its
    sampling pass are never imposed on a partial match."""
    dump = os.path.join(TMP, "dump_zskip")
    tgt = os.path.join(TMP, "sink_zskip")
    shutil.rmtree(dump, ignore_errors=True)
    shutil.rmtree(tgt, ignore_errors=True)
    od = tables["orders"].toPandas()[
        ["o_orderkey", "o_custkey", "o_totalprice"]
    ].head(200)
    write_dump_table(dump, "zs", "orders", od, ORDERS_DDL, fmt="csv")
    cfg = Config(
        mydumper=MydumperConfig(source_dir=dump),
        backend="parquet",
        target_dir=tgt,
        checkpoint_enable=False,
        # o_shippriority does not exist in this table
        zorder_columns=["o_orderkey", "o_shippriority"],
    )
    s = RestoreController(spark, cfg).run()
    assert s.ok, s.report()
    t = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(tgt, "zs.orders")
    )
    assert t.count() == 200  # delivered normally, no z-order crash
