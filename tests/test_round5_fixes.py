"""Round-5 ADVICE regressions.

1. Batch JSONL matches EVERY part's keys case-insensitively (not
   just part 0's casing) and refuses a part with no matching keys.
2. assign_rowid_by_range plans on a session whose openCostInBytes
   packs several blocks into one task (it self-heals, not raises).
"""

from __future__ import annotations

import os
import shutil

TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "round5_fixes"
)


def test_batch_jsonl_probes_every_part(spark):
    """Part 2's keys differ in case from part 0 — both must ingest
    with real values (pre-fix: part 2 read all-NULL and silently
    default-filled)."""
    from tests.test_jsonl_ingest import _dump, _run

    dump, sink = _dump(
        "r5_multi_case",
        {
            "db.t.0001.jsonl": '{"id": 1, "name": "a", "v": 1.0}\n',
            "db.t.0002.jsonl": '{"ID": 2, "NAME": "b", "V": 2.0}\n',
        },
    )
    out = _run(spark, dump, sink)
    got = {r["id"]: (r["name"], r["v"]) for r in out.collect()}
    assert got == {1: ("a", 1.0), 2: ("b", 2.0)}


def test_batch_jsonl_unmatched_part_raises(spark):
    from tests.test_jsonl_ingest import _dump
    from tidb_lightning_release_4_0_spark.config import (
        Config,
        MydumperConfig,
    )
    from tidb_lightning_release_4_0_spark.plans.pipeline import (
        RestoreController,
    )

    dump, sink = _dump(
        "r5_unmatched",
        {"db.t.0001.jsonl": '{"wrong": 1, "keys": "x"}\n'},
    )
    cfg = Config(
        mydumper=MydumperConfig(source_dir=dump),
        backend="parquet",
        target_dir=sink,
        checkpoint_enable=False,
        on_duplicate="physical",
    )
    s = RestoreController(spark, cfg).run()
    assert not s.ok
    assert "refusing to ingest" in s.report()


def test_split_rowid_self_heals_open_cost_precondition(spark):
    """A user session with a small openCostInBytes packs several
    byte-range blocks into one FilePartition: the plan SELF-HEALS
    (window-exact per-block index) instead of raising, which would
    turn a precondition into a session failure. Planning must
    succeed; the exact-index fallback is correctness-tested in
    test_round8_fixes.py."""
    from pyspark.sql import functions as F

    from tidb_lightning_release_4_0_spark.operators.rowid import (
        assign_rowid_by_range,
    )

    df = spark.range(3).select(F.col("id").cast("string").alias("x"))
    old = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.openCostInBytes", "4194304")
        out = assign_rowid_by_range(df, {"f": 0}, divisor=3, split_bytes=1 << 21)
        assert "_row_id" in out.columns
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", old)


def test_np_corpus_encode_matches_expression_path(spark, sf_dir):
    """The Arrow/BLAS encode (bench/scale path) must produce the SAME
    cells and PQ codes as the oracle-exact expression encode on real
    data — the documented divergence is last-ulp summation order,
    which only matters on exact distance ties (absent here)."""
    import tidb_lightning_release_4_0_spark.operators.similarity as S
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = S._collect_centroids(emb, 8, "vec_id", "embedding")
    sql_side = emb.select(
        F.col("vec_id").alias("c_id"),
        S._cell_sims(cents, "embedding").alias("_sims"),
        *[
            a.alias(f"_pqd{m}")
            for m, a in enumerate(S._pq_dist_arrays("embedding"))
        ],
    ).select(
        "c_id",
        S._cell_from_sims("_sims").alias("_cell"),
        *[
            S._pq_code_from(f"_pqd{m}").alias(f"_code{m}")
            for m in range(S._PQ_M)
        ],
    )
    np_side = S._np_corpus_encode(emb, "embedding", "vec_id", cents=cents)
    a = {r["c_id"]: tuple(r)[1:] for r in sql_side.collect()}
    b = {r["c_id"]: tuple(r)[1:] for r in np_side.collect()}
    assert a == b


def test_ann_pq_numpy_encode_same_topk(spark, sf_dir):
    """encode='numpy' must return the same top-k as encode='sql'."""
    import tidb_lightning_release_4_0_spark.operators.similarity as S
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    a = sorted(
        tuple(r) for r in S.ann_topk_pq(q, emb, k=5).collect()
    )
    b = sorted(
        tuple(r)
        for r in S.ann_topk_pq(q, emb, k=5, encode="numpy").collect()
    )
    assert a == b
    a = sorted(
        tuple(r)
        for r in S.ann_topk_ivfpq(
            q, emb, k=5, n_cells=8, n_probe=2
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in S.ann_topk_ivfpq(
            q, emb, k=5, n_cells=8, n_probe=2, encode="numpy"
        ).collect()
    )
    assert a == b


# ---------------------------------------------------------------------------
# analyze_mode="auto": C5 statistics without a third data pass
# ---------------------------------------------------------------------------


def _ana_dump(name: str, n: int) -> str:
    d = os.path.join(TMP, f"dump_{name}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    rows = ",".join(f"({i})" for i in range(1, n + 1))
    files = {
        f"{name}-schema-create.sql": f"CREATE DATABASE {name};",
        f"{name}.t-schema.sql": "create table t (i bigint primary key);",
        f"{name}.t.sql": f"INSERT INTO t VALUES {rows};",
    }
    for fn, content in files.items():
        with open(os.path.join(d, fn), "w") as f:
            f.write(content)
    return d


def test_analyze_auto_skips_count_scan(spark):
    """Default analyze_mode='auto': the table is registered with
    size statistics (NOSCAN) — no rowCount in the catalog because no
    re-count scan ran; the pipeline's own row count (from the write
    observe / checksum read-back) is still exact in the result."""
    from tidb_lightning_release_4_0_spark.plans.checkpoints import (
        CheckpointStore,
        Status,
    )
    from tidb_lightning_release_4_0_spark.config import (
        Config,
        MydumperConfig,
        TiDBConfig,
    )
    from tidb_lightning_release_4_0_spark.plans.pipeline import (
        RestoreController,
    )

    d = _ana_dump("anauto", 7)
    tgt = os.path.join(TMP, "anauto_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="parquet",
        target_dir=tgt,
        tidb=TiDBConfig(sql_mode=""),
    )
    assert cfg.analyze_mode == "auto"
    cp = CheckpointStore(None, enabled=True)
    ctrl = RestoreController(spark, cfg, checkpoints=cp)
    (name, (meta, schema)), = ctrl.load_schemas().items()
    res = ctrl.restore_table(name, meta, schema)
    assert res.status == "restored"
    assert res.rows == 7  # exact count came from the pipeline itself
    # NOSCAN still counts as computed statistics -> ANALYZED
    assert cp.table_status(name) == Status.ANALYZED
    desc = spark.sql("DESCRIBE TABLE EXTENDED tlr4s_anauto.t").collect()
    stats = [r for r in desc if r["col_name"] == "Statistics"]
    assert stats and "bytes" in stats[0]["data_type"], desc
    # no row-count scan ran, so the catalog carries size-only stats:
    # rowCount is genuinely None (DESCRIBE renders that as "0 rows",
    # a display artifact — assert against the catalog object)
    jvm = spark._jvm
    ident = jvm.org.apache.spark.sql.catalyst.TableIdentifier(
        "t", jvm.scala.Some("tlr4s_anauto")
    )
    meta = spark._jsparkSession.sessionState().catalog().getTableMetadata(
        ident
    )
    assert meta.stats().isDefined()
    assert meta.stats().get().sizeInBytes() > 0
    assert not meta.stats().get().rowCount().isDefined()


def test_analyze_full_mode_still_counts(spark):
    """analyze_mode='full' keeps the reference-shaped full ANALYZE:
    catalog statistics include the row count."""
    from tidb_lightning_release_4_0_spark.plans.checkpoints import (
        CheckpointStore,
        Status,
    )
    from tidb_lightning_release_4_0_spark.config import (
        Config,
        MydumperConfig,
        TiDBConfig,
    )
    from tidb_lightning_release_4_0_spark.plans.pipeline import (
        RestoreController,
    )

    d = _ana_dump("anfull", 5)
    tgt = os.path.join(TMP, "anfull_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="parquet",
        target_dir=tgt,
        tidb=TiDBConfig(sql_mode=""),
        analyze_mode="full",
    )
    cp = CheckpointStore(None, enabled=True)
    ctrl = RestoreController(spark, cfg, checkpoints=cp)
    (name, (meta, schema)), = ctrl.load_schemas().items()
    res = ctrl.restore_table(name, meta, schema)
    assert res.status == "restored"
    assert cp.table_status(name) == Status.ANALYZED
    desc = spark.sql("DESCRIBE TABLE EXTENDED tlr4s_anfull.t").collect()
    stats = [r for r in desc if r["col_name"] == "Statistics"]
    assert stats and "rows" in stats[0]["data_type"], desc


def test_analyze_mode_toml_roundtrip(tmp_path):
    from tidb_lightning_release_4_0_spark.config_toml import load_toml

    p = tmp_path / "cfg.toml"
    p.write_text("""
[mydumper]
data-source-dir = "/nonexistent"
[post-restore]
analyze = true
analyze-mode = "full"
""")
    cfg = load_toml(str(p))
    assert cfg.analyze is True
    assert cfg.analyze_mode == "full"
