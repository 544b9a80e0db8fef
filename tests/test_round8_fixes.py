"""Row ids on sessions that do not pin one block per task.

`split_csv_rowids` once errored on a session with Spark's stock
file-split confs (openCost 4 MiB < maxPartitionBytes 128 MiB), because
the row-id stamp raised when its one-block-per-task precondition did
not hold. rowid.assign_rowid_by_range self-heals instead: on a session
that packs blocks it computes the in-block index EXACTLY via a window
over (file, block_start) rather than the zero-shuffle mono-id trick.

These tests pin: (a) the registry query is green under a session with
stock file-split confs, (b) the fallback produces exact, unique,
file-order-monotonic ids when Spark genuinely PACKS byte-range blocks
or whole files into few FilePartitions, and (c) a whole-file CSV
restore on such a session assigns the ids a one-file-per-task session
does, on both CSV lanes.
"""

from __future__ import annotations

import contextlib
import os
import shutil

import pytest

from tidb_lightning_release_4_0_spark.config import (
    Config,
    CSVConfig,
    MydumperConfig,
    TiDBConfig,
)
from tidb_lightning_release_4_0_spark.operators.permutation import ROWID_COL
from tidb_lightning_release_4_0_spark.operators.rowid import (
    assign_rowid_by_range,
    plan_row_ids,
    split_bytes_lower_bound,
)
from tidb_lightning_release_4_0_spark.plans.pipeline import RestoreController
from tidb_lightning_release_4_0_spark.sinks.memory_sink import MemorySink
from tidb_lightning_release_4_0_spark.sources.csv_source import read_csv

TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "round8_tests"
)


def _driver_default_session(spark):
    """A sibling session with the DRIVER's file-split confs (Spark
    stock defaults), sharing the SparkContext with the repo session."""
    ns = spark.newSession()
    ns.conf.set("spark.sql.files.openCostInBytes", "4194304")
    ns.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
    ns.conf.set("spark.sql.session.timeZone", "UTC")
    return ns


def test_split_csv_rowids_green_under_driver_default_session(spark, sf_dir):
    """The exact driver-gate scenario that ERRORED in r7: run the
    registry's split_csv_rowids query on a session with stock Spark
    file-split confs and verify the full result against the orders
    table (the oracle is row_number() over o_orderkey order)."""
    from tidb_lightning_release_4_0_spark.registry import build_queries

    ns = _driver_default_session(spark)
    out = build_queries()["split_csv_rowids"](ns, sf_dir).collect()
    exp = (
        ns.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .select("o_orderkey", "o_custkey", "o_orderpriority")
        .orderBy("o_orderkey")
        .collect()
    )
    assert len(out) == len(exp) and len(out) > 0
    got = sorted(
        (r["rn"], r["o_orderkey"], r["o_custkey"], r["o_orderpriority"])
        for r in out
    )
    want = [
        (i + 1, r["o_orderkey"], r["o_custkey"], r["o_orderpriority"])
        for i, r in enumerate(exp)
    ]
    assert got == want


def test_rotation_prefix_entries_under_driver_default_session(spark):
    """EVERY entry of the 50-slot driver CORRECTNESS prefix runs
    green on a session with STOCK Spark file-split confs — the exact
    session-portability gap that turned split_csv_rowids red in r7
    (the repo session pins openCostInBytes to 1 TiB; the driver's
    doesn't). Rows are checked against the same DuckDB oracles the
    driver uses, AT THE DRIVER'S SCALE (sf0.01 — generated twins
    like pca_embeddings bake their basis from that corpus, so the
    replica must compare on the same one), so no prefix entry can
    reach the driver gate having only ever run under the repo's
    tuned confs."""
    from tests.oracle import compare
    from tests.test_registry_oracle import DRIVER_SF_DIR
    from tidb_lightning_release_4_0_spark.registry import (
        _R11_PREFIX,
        build_oracle_sql,
        build_queries,
    )

    ns = _driver_default_session(spark)
    qs, osql = build_queries(), build_oracle_sql()
    failures = []
    for name in _R11_PREFIX:
        try:
            compare(qs[name](ns, DRIVER_SF_DIR), osql[name], DRIVER_SF_DIR)
        except Exception as e:  # noqa: BLE001 - collect all reds
            failures.append(f"{name}: {e}")
    assert not failures, failures


@contextlib.contextmanager
def _packed_session(spark):
    """Zero open cost + minPartitionNum=1 => maxSplitBytes = total
    bytes, so small files (and byte-range blocks) bin-pack into one or
    two tasks. The confs are restored on exit."""
    keys = (
        "spark.sql.files.openCostInBytes",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.minPartitionNum",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k, v in zip(keys, ("0", "134217728", "1")):
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_split_rowid_fallback_exact_when_blocks_are_packed(spark):
    """Strict-format byte-range blocks packed into few tasks."""
    _check_packed_rowids(spark, split=True)


def test_whole_file_rowid_fallback_exact_when_files_are_packed(spark):
    """Whole files (multiLine) packed into few tasks."""
    _check_packed_rowids(spark, split=False)


def _check_packed_rowids(spark, split: bool) -> None:
    """Force genuine packing: with zero open cost several small files
    land in ONE FilePartition, so a single task reads multiple blocks
    (strict-format byte ranges) or whole files (multiLine) back-to-back
    — the exact scenario where the mono-id fast path would let file
    B's local indexes continue from file A's count and overrun B's
    reservation. Verify the windowed fallback yields unique ids,
    monotonic in (file, in-file) order, for every row, below the
    chain's end."""
    files = []
    n_per = 1500
    for fi in range(4):
        path = os.path.join(TMP, "packed", f"t{fi}.csv")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", newline="") as f:
            for i in range(n_per):
                gid = fi * n_per + i
                f.write(f"{gid},{gid * 7},val{gid}\n")
        files.append((path, os.path.getsize(path)))

    with _packed_session(spark):
        sb = split_bytes_lower_bound(spark) if split else None
        cfg = CSVConfig(strict_format=split)
        df = read_csv(
            spark, [p for p, _ in files], cfg, column_names=["_c0", "_c1", "_c2"]
        )
        plan = plan_row_ids(
            [(p, sz, "csv") for p, sz in files], {"csv": 3}, sb
        )
        out = assign_rowid_by_range(df, plan.bases, plan.divisor["csv"], sb)
        res = out.select("_c0", "_row_id").collect()
        nparts = df.rdd.getNumPartitions()
        assert nparts < len(files), (
            f"packing must occur for this test to bite: "
            f"{nparts} tasks vs {len(files)} files"
        )
    ids = [int(r["_row_id"]) for r in res]
    assert len(set(ids)) == 4 * n_per == len(ids)
    assert max(ids) < plan.end
    # _c0 is the global write order (file 0 rows, then file 1, …)
    # so ids sorted by _c0 must be ascending: unique + monotonic
    # across the per-file reservations
    by_file_order = [
        i for _, i in sorted((int(r["_c0"]), int(r["_row_id"])) for r in res)
    ]
    assert by_file_order == sorted(ids), (
        "ids must be monotonic in file order under packing"
    )


_PACKED_PARTS = (1000, 3000, 500, 2000)


def _packed_dump(name: str) -> tuple[str, list[str]]:
    """A fresh PK-less dump of four headerless parts, one row per
    global key. MemorySink caches each delivered frame and Spark's
    cache matches equal plans, so each restore compared below reads
    its own directory: a second restore of the same files could
    otherwise be served the first one's rows."""
    d = os.path.join(TMP, "packed_restore", name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    with open(os.path.join(d, "pk-schema-create.sql"), "w") as f:
        f.write("CREATE DATABASE pk;")
    with open(os.path.join(d, "pk.t-schema.sql"), "w") as f:
        f.write("CREATE TABLE t (a INT, b VARCHAR(16));")
    paths, key = [], 0
    for part, n in enumerate(_PACKED_PARTS, 1):
        path = os.path.join(d, f"pk.t.{part:04d}.csv")
        with open(path, "w", newline="") as f:
            for _ in range(n):
                f.write(f"{key},x\n")
                key += 1
        paths.append(path)
    return d, paths


def _restore_rowids(spark, d: str, csv: CSVConfig) -> dict[int, int]:
    sink = MemorySink("error")
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d, csv=csv),
        tidb=TiDBConfig(sql_mode=""),
        backend="memory",
        checkpoint_enable=False,
    )
    s = RestoreController(spark, cfg, sink=sink).run()
    assert s.ok, s.report()
    return {r["a"]: r[ROWID_COL] for r in sink.tables["pk.t"].collect()}


@pytest.mark.parametrize(
    "csv", [CSVConfig(), CSVConfig(null="")], ids=["native", "string"]
)
def test_packed_session_restore_keeps_rowids_exact(spark, csv):
    """A whole-file CSV restore on a session that packs its files: the
    native lane and the null="" string lane must give every row of a
    PK-less table a distinct _tidb_rowid below the chain's end — the
    ids a one-file-per-task session assigns."""
    lane = "native" if csv.null else "string"
    d, paths = _packed_dump(f"{lane}_packed")
    with _packed_session(spark):
        assert spark.read.text(paths).rdd.getNumPartitions() < len(paths)
        packed = _restore_rowids(spark, d, csv)
    d, paths = _packed_dump(f"{lane}_one_per_task")
    per_task = _restore_rowids(spark, d, csv)
    end = plan_row_ids(
        [(p, os.path.getsize(p), "csv") for p in paths], {"csv": 2}
    ).end
    assert len(packed) == sum(_PACKED_PARTS)
    assert len(set(packed.values())) == len(packed)
    assert max(packed.values()) < end
    assert packed == per_task
