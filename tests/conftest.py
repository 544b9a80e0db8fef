"""Shared fixtures: one SparkSession per test session + testdata paths."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tidb_lightning_release_4_0_spark.session import get_spark  # noqa: E402
from tidb_lightning_release_4_0_spark.sources.testdata import load_tables  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    return load_tables(spark, sf_dir)


@pytest.fixture
def small_splits(spark):
    """Run the body under a tiny maxPartitionBytes so even KB files
    split into many byte-range blocks; returns the split size the
    row-id plan sees."""
    from tidb_lightning_release_4_0_spark.operators.rowid import (
        split_bytes_lower_bound,
    )

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")

    def setter(nbytes: int) -> int:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(nbytes))
        return split_bytes_lower_bound(spark)

    yield setter
    spark.conf.set("spark.sql.files.maxPartitionBytes", old)
