"""The session plan memo: one store, keyed on every input that shapes a plan.

``apply_permutation`` memoizes each finished projection per Spark
session; ``rowid._file_base_rowids`` keeps its per-file bases frames,
and the restore's row hash its kv_crc64 pair Columns, in the same
store. Two tasks in one session that restore the same CSV dump must
still get their own plans when their job timestamp or sql_mode
differ: those inputs are in the projection key.

Also pins the driver-row frames (``rowid.metadata_df`` and
``curation._labels_frame``) to the exact values of the list path when an
int64 column above 2^53 is mixed with NULLs.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil

import pytest
from pyspark.sql import Column
from pyspark.sql import types as T

from tidb_lightning_release_4_0_spark.config import (
    Config,
    CSVConfig,
    MydumperConfig,
    TiDBConfig,
)
from tidb_lightning_release_4_0_spark.operators.curation import _labels_frame
from tidb_lightning_release_4_0_spark.operators.permutation import (
    session_plan_cache,
)
from tidb_lightning_release_4_0_spark.operators.rowid import metadata_df
from tidb_lightning_release_4_0_spark.plans.checkpoints import CheckpointStore
from tidb_lightning_release_4_0_spark.plans.pipeline import RestoreController
from tidb_lightning_release_4_0_spark.sinks.memory_sink import MemorySink

TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".tmp",
    "session_plan_memo",
)


def _dump(name: str, ddl: str, csv: str) -> str:
    d = os.path.join(TMP, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    files = {
        "memo-schema-create.sql": "CREATE DATABASE memo;",
        "memo.t-schema.sql": ddl,
        "memo.t.csv": csv,
    }
    for fname, text in files.items():
        with open(os.path.join(d, fname), "w") as f:
            f.write(text)
    return d


def _restore(spark, source_dir, header, sql_mode, job_timestamp=None):
    """One task: its own controller, checkpoint store and sink."""
    cp = CheckpointStore(None, enabled=True)
    if job_timestamp is not None:
        cp.set_task_meta("job_timestamp", job_timestamp.isoformat())
    cfg = Config(
        mydumper=MydumperConfig(
            source_dir=source_dir, csv=CSVConfig(header=header)
        ),
        tidb=TiDBConfig(sql_mode=sql_mode),
        backend="memory",
        checkpoint_enable=True,
    )
    sink = MemorySink("error")
    summary = RestoreController(spark, cfg, sink=sink, checkpoints=cp).run()
    return summary, sink


def test_two_tasks_keep_their_own_job_timestamp(spark):
    """An omitted DEFAULT CURRENT_TIMESTAMP column fills each task's
    frozen timestamp, even when the second task restores the same
    files in the same session. The CSV header names the file columns,
    so ``id`` and ``v`` keep their values."""
    d = _dump(
        "ts",
        "CREATE TABLE t (id INT PRIMARY KEY, v INT, "
        "ts DATETIME DEFAULT CURRENT_TIMESTAMP);",
        "id,v\n1,10\n2,20\n",
    )
    for stamp in (
        _dt.datetime(2001, 2, 3, 4, 5, 6),
        _dt.datetime(2011, 12, 13, 14, 15, 16),
    ):
        summary, sink = _restore(spark, d, True, "", job_timestamp=stamp)
        assert summary.ok, summary.report()
        rows = sink.tables["memo.t"].orderBy("id").collect()
        assert [(r["id"], r["v"], r["ts"]) for r in rows] == [
            (1, 10, stamp),
            (2, 20, stamp),
        ]
    # the one store holds plan fragments, no whole plans: projections,
    # bases frames and kv_crc64 pair Columns
    cache = session_plan_cache(spark)
    assert cache and {k[0] for k in cache} <= {
        "projection", "bases", "kv_pair"
    }
    assert all(
        isinstance(v, Column) for k, v in cache.items() if k[0] == "kv_pair"
    )


@pytest.mark.parametrize("header", [True, False], ids=["string", "native"])
def test_two_tasks_keep_their_own_sql_mode(spark, header):
    """A bad INT token restores as 0 under a lenient sql_mode and
    fails the table under a strict one, in either order of the two
    tasks, on the string-typed and the natively-typed CSV lane."""
    d = _dump(
        f"sqlmode_{'header' if header else 'plain'}",
        "CREATE TABLE t (id INT PRIMARY KEY, v INT);",
        ("id,v\n" if header else "") + "1,abc\n2,7\n",
    )
    for _ in range(2):
        summary, sink = _restore(spark, d, header, "")
        assert summary.ok, summary.report()
        rows = sink.tables["memo.t"].orderBy("id").collect()
        assert [(r["id"], r["v"]) for r in rows] == [(1, 0), (2, 7)]

        summary, _ = _restore(spark, d, header, "STRICT_TRANS_TABLES")
        assert not summary.ok
        err = summary.tables["memo.t"].error.lower()
        assert "strict" in err or "bad value" in err, err


def test_driver_rows_keep_int64_above_2_53_next_to_nulls(spark):
    """pandas would hold an int column with a None as float64 and round
    2^53+1 to 2^53: both driver-row helpers must return exactly what
    the list path returns."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("cluster_id", T.LongType()),
        ]
    )
    rows = [(2**53 + 1, 2**53 + 1), (None, 2)]
    want = spark.createDataFrame(rows, schema).collect()
    assert want[0]["id"] == 2**53 + 1
    assert metadata_df(spark, rows, schema).collect() == want
    assert _labels_frame(spark, rows, schema).collect() == want
