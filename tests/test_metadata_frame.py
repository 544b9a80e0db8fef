"""Metadata frames and dense row ids are built without a Python task.

``rowid.metadata_df(slices=n)`` lays out the one-task-per-chunk read
plan of the ``.sql``, strict-CSV and block readers. Its frame must come
from the JVM alone: a PythonRDD in its lineage starts one more Python
runner in every task of the read. The rows keep their exact values,
one per partition and in order, and a wrong-typed value raises before
any job starts.

``rowid.assign_rowid_dense`` numbers rows inside each range partition
with the low bits of ``monotonically_increasing_id``, not a pandas
mapper, and keeps the ids it gave before: dense 1..N in key order,
ties in input order.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tidb_lightning_release_4_0_spark.operators.rowid import (
    ROWID,
    assign_rowid_dense,
    metadata_df,
)

PLAN_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("base", T.LongType(), True),
    ]
)


def test_read_plan_frame_has_no_python_rdd(spark):
    rows = [(f"/dump/t.{i:04d}.sql", i * 1000) for i in range(5)]
    df = metadata_df(spark, rows, PLAN_SCHEMA, slices=len(rows))
    lineage = df._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD[" not in lineage, lineage


def test_read_plan_frame_is_one_row_per_partition_in_order(spark):
    rows = [(f"/dump/t.{i:04d}.sql", i * 1000) for i in range(6)]
    df = metadata_df(spark, rows, PLAN_SCHEMA, slices=len(rows))
    assert df.rdd.getNumPartitions() == len(rows)
    got = df.withColumn("pid", F.spark_partition_id()).collect()
    assert [(r["path"], r["base"]) for r in got] == rows
    assert [r["pid"] for r in got] == list(range(len(rows)))


@pytest.mark.parametrize("slices", ["one", "per_row"])
def test_int64_above_2_53_next_to_null_stays_exact(spark, slices):
    rows = [("a", 2**53 + 1), ("b", None), ("c", -(2**63))]
    n = 1 if slices == "one" else len(rows)
    got = metadata_df(spark, rows, PLAN_SCHEMA, slices=n).collect()
    assert [(r["path"], r["base"]) for r in got] == rows


@pytest.mark.parametrize("slices", ["one", "per_row"])
def test_wrong_typed_value_raises_before_any_job(spark, slices):
    rows = [("a", 1), ("b", "notalong")]
    n = 1 if slices == "one" else len(rows)
    sc = spark.sparkContext
    group = f"metadata_df_verify_{slices}"
    sc.setJobGroup(group, "metadata_df type check")
    try:
        with pytest.raises(TypeError, match="notalong"):
            metadata_df(spark, rows, PLAN_SCHEMA, slices=n)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_dense_ids_follow_key_then_input_order(spark):
    """40 rows over 3 input partitions, six distinct keys: the ids are
    1..N in key order with ties in input order, as the pandas
    numbering gave them, and the plan runs no Python."""
    df = spark.range(0, 40, 1, 3).select(
        F.col("id").alias("tag"), (F.col("id") % 6).alias("k")
    )
    out = assign_rowid_dense(df, ["k"], num_partitions=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "Python" not in plan, plan
    got = {r["tag"]: r[ROWID] for r in out.collect()}
    want = sorted(range(40), key=lambda t: (t % 6, t))
    assert got == {t: i for i, t in enumerate(want, 1)}
