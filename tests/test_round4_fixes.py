"""Round-4 ADVICE regressions:

1. parquet_sink incremental merge publish must never leave the target
   path absent (the old rmtree+replace window silently dropped all
   previously delivered rows on crash+rerun), and a crash in either
   swap window must be recovered on the next write.
2. histogram_quantiles must exclude NULLs from the bins the same way
   count(c) excludes them from n (and match the DuckDB oracle on a
   nullable column).
3. cms_estimate_terms_oracle_sql must escape probe terms as SQL
   literals — quotes and backslashes in a probe must hash to the same
   bucket the Spark side computes.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.oracle import normalize
from tidb_lightning_release_4_0_spark.sinks.parquet_sink import ParquetSink

TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "round4_fixes"
)


def _sink(root: str) -> ParquetSink:
    return ParquetSink(
        root,
        on_duplicate="replace",
        key_columns={"db.t": ["pk"]},
        incremental=True,
    )


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "pk int, d string")


def _read(spark, path):
    return {
        r["pk"]: r["d"]
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(path)
        .collect()
    }


def test_merge_publish_swap_cleans_up(spark):
    """Happy path: after an incremental merge neither the .old nor the
    .merged sibling survives, and the merge result is correct."""
    root = os.path.join(TMP, "swap")
    shutil.rmtree(root, ignore_errors=True)
    sink = _sink(root)
    sink.write(_rows(spark, [(1, "old"), (2, "old")]), "db.t")
    sink.write(_rows(spark, [(2, "new"), (3, "new")]), "db.t")
    path = os.path.join(root, "db.t")
    assert not os.path.exists(path + ".old")
    assert not os.path.exists(path + ".merged")
    assert _read(spark, path) == {1: "old", 2: "new", 3: "new"}


def test_merge_crash_before_promote_recovers_merged(spark):
    """Crash window 1: path was renamed to .old but .merged was never
    promoted — the next write must promote it first, so the rows of
    BOTH generations survive (previously this state lost generation 1:
    _has_data()==False made the rerun write the new batch alone and
    the dead checksum sidecar let verification pass)."""
    root = os.path.join(TMP, "crash1")
    shutil.rmtree(root, ignore_errors=True)
    sink = _sink(root)
    sink.write(_rows(spark, [(1, "old")]), "db.t")
    sink.write(_rows(spark, [(2, "new")]), "db.t")
    path = os.path.join(root, "db.t")
    # rewind the publish to mid-swap: merged output exists, path absent
    os.replace(path, path + ".merged")
    assert not os.path.isdir(path)
    # rerun delivers a third batch — must merge with the recovered data
    sink.write(_rows(spark, [(3, "n3")]), "db.t")
    assert _read(spark, path) == {1: "old", 2: "new", 3: "n3"}
    assert not os.path.exists(path + ".merged")
    assert not os.path.exists(path + ".old")


def test_merge_crash_after_promote_drops_stale_old(spark):
    """Crash window 2: promotion succeeded but the .old cleanup was
    lost — next write garbage-collects it and merges normally."""
    root = os.path.join(TMP, "crash2")
    shutil.rmtree(root, ignore_errors=True)
    sink = _sink(root)
    sink.write(_rows(spark, [(1, "old")]), "db.t")
    path = os.path.join(root, "db.t")
    shutil.copytree(path, path + ".old")
    sink.write(_rows(spark, [(2, "new")]), "db.t")
    assert not os.path.exists(path + ".old")
    assert _read(spark, path) == {1: "old", 2: "new"}


@pytest.mark.parametrize("with_nulls", [False, True])
def test_histogram_quantiles_nulls_match_oracle(spark, with_nulls):
    """NULL rows must be excluded from bins AND n on both engines."""
    from tidb_lightning_release_4_0_spark.operators.sketches import (
        histogram_quantiles,
        histogram_quantiles_oracle_sql,
    )

    vals = [(float(i),) for i in range(200)]
    if with_nulls:
        vals += [(None,)] * 37
    df = spark.createDataFrame(vals, "v double")
    p = os.path.join(TMP, f"hq_{with_nulls}")
    shutil.rmtree(p, ignore_errors=True)
    df.write.parquet(p)
    probs = [0.1, 0.5, 0.9, 0.99]
    sp = histogram_quantiles(spark.read.parquet(p), "v", probs).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW t AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )
    du = con.execute(
        histogram_quantiles_oracle_sql("t", "v", probs)
    ).fetchdf()
    assert normalize(sp) == normalize(du)


def test_cms_probe_quote_escaping(spark):
    """Probes containing quotes/backslashes must round-trip through
    the oracle SQL as literals that hash identically to the Spark
    side (repr()-embedding broke the SQL or the hash)."""
    from tidb_lightning_release_4_0_spark.operators.sketches import (
        cms_estimate_terms,
        cms_estimate_terms_oracle_sql,
    )

    terms = ["o'brien", "a\\b", "plain", "o'brien", "a\\b", "o'brien"]
    probes = ["o'brien", "a\\b", "plain", "it's"]
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    p = os.path.join(TMP, "cms_quotes")
    shutil.rmtree(p, ignore_errors=True)
    df.write.parquet(p)
    sp = cms_estimate_terms(
        spark.read.parquet(p), "term", probes
    ).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW t AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )
    du = con.execute(
        cms_estimate_terms_oracle_sql("t", "term", probes)
    ).fetchdf()
    assert normalize(sp) == normalize(du)
    got = {r["term"]: r["est_count"] for _, r in sp.iterrows()}
    assert got["o'brien"] >= 3 and got["a\\b"] >= 2 and got["it's"] == 0


# ---------------------------------------------------------------------------
# large-star/small-star connected-components fallback
# ---------------------------------------------------------------------------


def _cc(spark, edges, **kw):
    from tidb_lightning_release_4_0_spark.operators.curation import (
        connected_components,
    )

    df = spark.createDataFrame(
        edges, "left_id bigint, right_id bigint"
    )
    out = connected_components(df, **kw)
    return {r["doc_id"]: r["cluster_id"] for r in out.collect()}


def test_star_matches_union_find_ground_truth(spark):
    import random

    from tidb_lightning_release_4_0_spark.operators.curation import (
        union_find_min,
    )

    rng = random.Random(42)
    edges = [
        (rng.randrange(120), rng.randrange(120)) for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    want = dict(union_find_min(edges))
    got = _cc(spark, edges, algorithm="star")
    assert got == want


def test_long_chain_falls_back_to_star(spark):
    """Path graph of diameter 60: the label loop cannot converge in 5
    rounds; auto must switch to the star algorithm and still produce
    one un-split component (the old code raised here)."""
    chain = [(i, i + 1) for i in range(60)]
    got = _cc(
        spark, chain,
        max_iter=5, small_graph_threshold=0, algorithm="auto",
    )
    assert got == {i: 0 for i in range(61)}, "component was split"


def test_label_mode_still_raises_on_long_chain(spark):
    chain = [(i, i + 1) for i in range(60)]
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc(
            spark, chain,
            max_iter=5, small_graph_threshold=0, algorithm="label",
        )


def test_star_handles_multiple_components_and_chains(spark):
    edges = (
        [(i, i + 1) for i in range(100, 140)]      # chain A
        + [(200, 201), (201, 202), (200, 202)]     # triangle
        + [(7, 9)]                                 # pair
    )
    got = _cc(
        spark, edges, small_graph_threshold=0, algorithm="star"
    )
    assert {got[i] for i in range(100, 141)} == {100}
    assert got[200] == got[201] == got[202] == 200
    assert got[7] == got[9] == 7


def test_star_keeps_self_pair_only_nodes(spark):
    """A node appearing only as a self-pair must still appear in the
    output as its own cluster (the label/union-find paths do this;
    the star path dropped it with the self-loops)."""
    edges = [(5, 5), (1, 2)]
    got = _cc(spark, edges, small_graph_threshold=0, algorithm="star")
    assert got == {5: 5, 1: 1, 2: 1}


# ---------------------------------------------------------------------------
# JSONL source corrupt-line contract
# ---------------------------------------------------------------------------


def test_jsonl_corrupt_line_fails_fast_by_default(spark):
    from tidb_lightning_release_4_0_spark.sources.jsonl_source import (
        read_jsonl,
    )

    p = os.path.join(TMP, "jsonl_bad")
    shutil.rmtree(p, ignore_errors=True)
    os.makedirs(p)
    with open(os.path.join(p, "part-0.json"), "w") as f:
        f.write('{"doc_id": 1, "text": "ok"}\n')
        f.write("not json at all\n")
    with pytest.raises(Exception):
        read_jsonl(spark, p, "doc_id bigint, text string").collect()


def test_jsonl_keep_corrupt_captures_raw_line(spark):
    from tidb_lightning_release_4_0_spark.sources.jsonl_source import (
        CORRUPT_COL,
        read_jsonl,
    )

    p = os.path.join(TMP, "jsonl_cap")
    shutil.rmtree(p, ignore_errors=True)
    os.makedirs(p)
    with open(os.path.join(p, "part-0.json"), "w") as f:
        f.write('{"doc_id": 1, "text": "ok"}\n')
        f.write("not json at all\n")
    rows = read_jsonl(
        spark, p, "doc_id bigint, text string", keep_corrupt=True
    ).collect()
    good = [r for r in rows if r[CORRUPT_COL] is None]
    bad = [r for r in rows if r[CORRUPT_COL] is not None]
    assert len(good) == 1 and good[0]["doc_id"] == 1
    assert len(bad) == 1 and bad[0][CORRUPT_COL] == "not json at all"
