"""Physical-plan assertions: the 100 TB properties SURVEY §4 demands.

These tests read `.explain()` output — the same discipline as
"after each operator works, explain the plan and iterate":
filters/pruning reach the parquet scan, small sides broadcast, the
ingest hot path stays JVM-side.
"""

from __future__ import annotations

import io
import os
import shutil
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from tidb_lightning_release_4_0_spark.config import (
    Config,
    CSVConfig,
    MydumperConfig,
)
from tidb_lightning_release_4_0_spark.plans.pipeline import RestoreController
from tidb_lightning_release_4_0_spark.registry import (
    q_ann_topk_lsh,
    q_filtered_revenue,
    q_multimodal_features,
    q_top_orders_by_revenue,
    q_topk_parts,
    build_queries,
)
from tidb_lightning_release_4_0_spark.sources.mydump_loader import (
    FileInfo,
    MDTableMeta,
)
from tidb_lightning_release_4_0_spark.sources.schema_reader import (
    parse_create_table,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(q_filtered_revenue(spark, sf_dir))
    assert "PushedFilters:" in plan
    # the quantity/discount predicates must appear as pushed filters
    pushed = [l for l in plan.splitlines() if "PushedFilters:" in l]
    assert any("l_discount" in l or "l_quantity" in l for l in pushed), pushed


def test_column_pruning(spark, sf_dir):
    plan = _plan(q_topk_parts(spark, sf_dir))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read, plan
    # only the 3 selected columns are read, not p_brand/p_type/p_size
    assert "p_brand" not in read[0] and "p_size" not in read[0], read[0]


def test_broadcast_join_for_small_dim(spark, sf_dir):
    plan = _plan(q_top_orders_by_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


_NATION_DDL = (
    "CREATE TABLE nation (n_nationkey INT PRIMARY KEY, "
    "n_name VARCHAR(32), n_regionkey INT)"
)


def test_ingest_plan_stays_jvm(spark, tables):
    """The restore's table-grain read (RestoreController.read_table)
    must contain no Python evaluation (BatchEvalPython/ArrowEvalPython/
    MapInPandas) on the native-CSV lane and on the strict-format JSONL
    lane: parse, cast and row ids are all built-ins."""
    pdf = tables["nation"].select(
        "n_nationkey", "n_name", "n_regionkey"
    ).toPandas()
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp", "planq",
    )
    for fmt, csv in (
        ("csv", CSVConfig()), ("jsonl", CSVConfig(strict_format=True))
    ):
        d = os.path.join(root, fmt)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        files = []
        for i, part in enumerate((pdf[:12], pdf[12:])):
            path = os.path.join(d, f"db.nation.{i:04d}.{fmt}")
            if fmt == "csv":
                part.to_csv(path, header=False, index=False)
            else:
                part.to_json(path, orient="records", lines=True)
            files.append(
                FileInfo("db", "nation", path, os.path.getsize(path))
            )
        meta = MDTableMeta(
            "db", "nation", None, files, sum(f.size for f in files)
        )
        ctl = RestoreController(
            spark,
            Config(
                mydumper=MydumperConfig(source_dir=d, csv=csv),
                backend="memory",
                checkpoint_enable=False,
            ),
        )
        plan = _plan(ctl.read_table(meta, parse_create_table(_NATION_DDL)))
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan, f"{marker} in the {fmt} ingest plan"


def test_lsh_reduces_comparisons(spark, sf_dir):
    """ANN-LSH probes strictly fewer pairs than brute force and still
    returns k results per query."""
    lsh = q_ann_topk_lsh(spark, sf_dir)
    rows = lsh.collect()
    assert rows  # buckets non-empty
    per_q = {}
    for r in rows:
        per_q.setdefault(r["q_id"], []).append(r)
    assert all(len(v) <= 5 for v in per_q.values())


def test_rows_only_queries_run(spark, sf_dir):
    out = q_multimodal_features(spark, sf_dir)
    assert out.count() > 0
    assert len(out.schema.fields) == 6


def test_all_queries_return_dataframes(spark, sf_dir):
    """Every registry entry must build a plan without error (cheap
    analysis-only check; full execution is the oracle suite)."""
    for name, fn in build_queries().items():
        df = fn(spark, sf_dir)
        assert df.columns, name


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """The benchmark gram set must broadcast (eval sets are tiny);
    corpus scan stays pruned to (doc_id, text)."""
    from tidb_lightning_release_4_0_spark.registry import q_decontaminate

    plan = _plan(q_decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert all("lang" not in l and "n_chars" not in l for l in read), read


def test_pack_sequences_single_shuffle(spark, sf_dir):
    """Packing parallelizes across shards: exactly one exchange (by
    shard) feeds the running-sum window."""
    from tidb_lightning_release_4_0_spark.registry import q_pack_sequences

    plan = _plan(q_pack_sequences(spark, sf_dir))
    # formatted explain prints each node twice (tree + details) —
    # count tree nodes only
    assert plan.count("- Exchange") == 1, plan


def test_stratified_sample_partial_topn(spark, sf_dir):
    """Spark's WindowGroupLimit must apply the per-stratum top-n on
    the map side (Partial) before the shuffle — the property that
    keeps exact stratified sampling viable on large strata."""
    from tidb_lightning_release_4_0_spark.registry import q_sample_stratified

    plan = _plan(q_sample_stratified(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_chunk_documents_no_shuffle(spark, sf_dir):
    """Chunking is explode over a per-row sequence — a narrow
    projection with zero exchanges and no Python evaluation."""
    from tidb_lightning_release_4_0_spark.registry import q_chunk_documents

    plan = _plan(q_chunk_documents(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan and "InPandas" not in plan, plan


def test_pii_scrub_stays_jvm(spark, sf_dir):
    """Regex redaction runs JVM-side (codegen), one scan, no shuffle."""
    from tidb_lightning_release_4_0_spark.registry import q_pii_scrub

    plan = _plan(q_pii_scrub(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan and "InPandas" not in plan, plan
    assert "codegen id" in plan, plan  # whole-stage codegen spans


def test_provenance_filter_narrow(spark, sf_dir):
    """Blocklist/allowlist are literal predicates on a narrow scan —
    reads only the three referenced columns, no shuffle."""
    from tidb_lightning_release_4_0_spark.registry import (
        q_provenance_filter,
    )

    plan = _plan(q_provenance_filter(spark, sf_dir))
    assert "Exchange" not in plan, plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and "text" not in read[0], read


def test_lm_score_broadcasts_counts(spark, sf_dir):
    """The vocab-sized unigram table must broadcast; corpus text
    shuffles only as exploded (doc_id, term) pairs."""
    from tidb_lightning_release_4_0_spark.registry import q_lm_score

    plan = _plan(q_lm_score(spark, sf_dir))
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, plan


def test_large_orders_aggregates_before_join(spark, sf_dir):
    """Q18 shape: the HAVING pre-aggregation must run BEFORE the
    orders/customer joins so only qualifying orderkeys reach them —
    the aggregate appears below the join in the plan."""
    from tidb_lightning_release_4_0_spark.registry import q_large_orders

    plan = _plan(q_large_orders(spark, sf_dir))
    lines = plan.splitlines()
    first_join = next(
        i for i, l in enumerate(lines) if "Join" in l
    )
    agg_below = any(
        "HashAggregate" in l for l in lines[first_join:]
    )
    assert agg_below, plan


def test_new_tpch_patterns_no_cartesian(spark, sf_dir):
    """The round-3 TPC-H patterns (Q5/Q7/Q8/Q9/Q10/Q11/Q12/Q17/Q19/
    Q21) must never plan a CartesianProduct, and a nested-loop join
    may appear only where the build side is a single-row scalar
    subquery (important_parts' global total)."""
    from tidb_lightning_release_4_0_spark import registry as R

    scalar_ok = {"q_important_parts"}
    for q in [
        R.q_local_supplier_volume,
        R.q_volume_shipping,
        R.q_market_share,
        R.q_profit_by_nation,
        R.q_returned_items,
        R.q_important_parts,
        R.q_priority_lines,
        R.q_small_qty_revenue,
        R.q_bracket_revenue,
        R.q_waiting_suppliers,
    ]:
        plan = _plan(q(spark, sf_dir))
        assert "CartesianProduct" not in plan, (q.__name__, plan)
        if q.__name__ not in scalar_ok:
            assert "BroadcastNestedLoop" not in plan, (q.__name__, plan)


def test_q5_dims_broadcast(spark, sf_dir):
    """Q5 shape: region/nation dims broadcast; the same-nation
    residual rides the supplier hash join (no extra join for it)."""
    from tidb_lightning_release_4_0_spark.registry import (
        q_local_supplier_volume,
    )

    plan = _plan(q_local_supplier_volume(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_sketches_stay_jvm_and_small(spark, sf_dir):
    """HLL/CMS sketches: no Python evaluation anywhere; CMS probes
    ride a broadcast of the (<=4096-row) sketch."""
    from tidb_lightning_release_4_0_spark import registry as R

    hll = _plan(R.q_hll_distinct_parts(spark, sf_dir))
    assert "EvalPython" not in hll and "InPandas" not in hll, hll
    cms = _plan(R.q_cms_term_counts(spark, sf_dir))
    assert "EvalPython" not in cms and "InPandas" not in cms, cms
    assert "BroadcastExchange" in cms or "BroadcastHashJoin" in cms, cms


def test_pq_ann_no_cartesian_and_broadcast(spark, sf_dir):
    """PQ-ADC: the query side broadcasts (non-equi self-pairing is a
    broadcast nested loop over 3 query rows, never a cartesian
    shuffle product); scoring stays JVM-side."""
    from tidb_lightning_release_4_0_spark import registry as R

    plan = _plan(R.q_ann_topk_pq(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan or "Broadcast" in plan, plan
    assert "EvalPython" not in plan and "InPandas" not in plan, plan


def test_gopher_repetition_no_shuffle(spark, sf_dir):
    """Both per-document repetition queries (Gopher line/bigram
    fractions AND the sentence-ratio repetition_stats) must stay
    narrow per-row projections — no Exchange anywhere."""
    import tidb_lightning_release_4_0_spark.registry as R

    for q in (R.q_gopher_repetition, R.q_repetition_stats):
        plan = q(spark, sf_dir)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan, q.__name__


def test_ivfpq_broadcasts_and_prunes(spark, sf_dir):
    """IVF-PQ: query tables broadcast; the candidate join carries the
    cell-equality key (no cartesian full-corpus ADC scan — the
    round-3 weakness this operator exists to fix)."""
    import tidb_lightning_release_4_0_spark.registry as R

    plan = R.q_ann_topk_ivfpq(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "_cell" in plan  # equality key reached the join


def test_ivfpq_prunes_candidate_pairs(spark, sf_dir):
    """The IVF-PQ pruning claim, asserted on CANDIDATE COUNTS (wall
    clock at test scale is fixed-cost-bound and proves nothing): the
    cell-pruned ADC join must score a small fraction of the full
    (query x corpus) pair set — expected ~n_probe/n_cells = 1/4."""
    from pyspark.sql import functions as F

    import tidb_lightning_release_4_0_spark.operators.similarity as S
    from tidb_lightning_release_4_0_spark.sources.testdata import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n_corpus = emb.count()
    q = emb.filter(F.col("vec_id") < 8)
    n_q = q.count()  # ids need not be contiguous in custom testdata
    full_pairs = n_q * (n_corpus - 1)

    # count scored pairs = rows entering the top-k window (k huge so
    # nothing is cut): exact for ivfpq since each (q, c) appears once
    pruned = S.ann_topk_ivfpq(
        q, emb, k=10**9, n_cells=8, n_probe=2
    ).count()
    assert pruned < 0.5 * full_pairs, (pruned, full_pairs)
    assert pruned > 0.05 * full_pairs  # sanity: cells are populated


def test_bm25_prunes_and_broadcasts(spark, sf_dir):
    """BM25's tf stream must be pruned by the literal IN before the
    (doc,term) aggregate, and every stats join must broadcast — the
    corpus never reaches a sort-merge join."""
    from tidb_lightning_release_4_0_spark.registry import q_bm25_topdocs

    plan = _plan(q_bm25_topdocs(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    # the corpus-sized doc-length frame must NOT be the broadcast
    # side: every keyed broadcast subtree must carry the query-term
    # IN prune (the tf x dfreq side); the only unkeyed broadcast is
    # the 1-row stats scalar (IdentityBroadcastMode cross join)
    import re

    # positional/subtree checks read the executedPlan tree string,
    # where operators print inline ("Exchange hashpartitioning(...)"),
    # not explain("formatted")'s numbered-details layout
    tree = (
        q_bm25_topdocs(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for m in re.finditer(r"BroadcastExchange HashedRelation", tree):
        subtree = tree[m.start():m.start() + 4000]
        assert "IN (hash,join,vector)" in subtree, subtree[:600]
    assert "TakeOrderedAndProject" in tree, "top-k must not be a " \
        "single-partition global window"
    # the literal IN prunes the exploded term stream in a Filter below
    # the partial (doc,term) aggregate — i.e. before the tf SHUFFLE
    # (anchor on the shuffle operator, not the Exchange substring
    # inside BroadcastExchange)
    prune = tree.index("IN (hash,join,vector)")
    first_shuffle = tree.index("Exchange hashpartitioning")
    assert prune > first_shuffle, "plans print top-down: the prune " \
        "filter must sit BELOW (after) the shuffles that consume it"


def test_winnow_single_exchange_and_pruned_scan(spark, sf_dir):
    """Winnowing must stay one CORPUS exchange (the per-doc window
    shuffle): the rightmost-min dedupe rides the same window pass via
    lag, not a second .distinct() exchange — and only (doc_id, text)
    is read. The small-input spread (active at this test's single-file
    scale, a no-op on a real multi-split corpus) is the one permitted
    extra exchange, and it must be the round-robin spread, not a
    second hash dedupe."""
    from tidb_lightning_release_4_0_spark.registry import (
        q_winnow_fingerprints,
    )

    df = q_winnow_fingerprints(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 2, plan
    if n_exchanges == 2:
        assert "roundrobin" in plan.lower(), plan
    assert plan.lower().count("hashpartitioning") <= 1, plan
    read = [l for l in _plan(df).splitlines() if "ReadSchema" in l]
    assert read and "lang" not in read[0] and "source" not in read[0], read


def test_jaccard_join_pruned_scan_no_cartesian(spark, sf_dir):
    """Prefix-join candidates come from an equi-join on prefix tokens
    — never a cartesian — and the scans read only doc_id/text."""
    from tidb_lightning_release_4_0_spark.registry import (
        q_jaccard_join_docs,
    )

    df = q_jaccard_join_docs(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    for l in [l for l in plan.splitlines() if "ReadSchema" in l]:
        assert "lang" not in l and "n_chars" not in l, l


def test_sliding_window_single_shuffle_pruned_scan(spark, sf_dir):
    """events_sliding_window: the hopping-window expand multiplies
    rows into the aggregate but must NOT add shuffles — exactly one
    Exchange (the partial->final hash aggregate), an Expand node for
    the window/slide overlap, only (ts, event_type, value) read from
    the scan, and no Python evaluation."""
    from tidb_lightning_release_4_0_spark.registry import (
        q_events_sliding_window,
    )

    plan = _plan(q_events_sliding_window(spark, sf_dir))
    assert plan.count("Exchange") <= 2, plan  # AQE may show 1 reused
    assert "Expand" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and "props" not in read[0] and "user_id" not in read[0], read


def test_media_pipelines_no_shuffle(spark, sf_dir):
    """The media codec pipelines (synthesize -> decode -> features /
    resize / frame-sample) are chains of Arrow-batched mapInPandas
    kernels: ZERO exchanges — at 100 TB the parallelism is the input
    partitioning, and nothing re-shuffles payload bytes."""
    from tidb_lightning_release_4_0_spark.registry import (
        q_media_decode_jpeg,
        q_media_decode_png,
        q_media_frame_sample_avi,
        q_media_resize_jpeg,
        q_media_resize_png,
    )

    for q in (q_media_decode_png, q_media_resize_png,
              q_media_frame_sample_avi, q_media_decode_jpeg,
              q_media_resize_jpeg):
        plan = _plan(q(spark, sf_dir))
        assert "Exchange" not in plan, (q.__name__, plan)
        assert "ArrowEvalPython" in plan or "InPandas" in plan, (
            q.__name__, plan,
        )


def test_simhash_candidate_shuffle_sizes_with_data(spark, sf_dir):
    """The simhash candidate stage must size its ONE shuffle to the
    banded-row volume (docs/SCALE.md finding 3 promoted to an engine
    default): an explicit ``candidate_partitions`` lands as the
    hashpartitioning width of the (band, val) exchange, and the
    derived-partitions rule grows with the estimated volume instead
    of inheriting the session's static shuffle_partitions."""
    from tidb_lightning_release_4_0_spark.operators import dedup as D
    from tidb_lightning_release_4_0_spark.session import (
        derived_shuffle_partitions,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    df = D.simhash_dup_pairs(
        docs, max_hamming=1, n_bands=2, candidate_partitions=57
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(band" in plan and ", 57)" in plan, plan
    # every data exchange is the requested (band, val) partitioning
    # at the requested width (at this toy scale Catalyst broadcasts
    # one join side, so the subtree may appear twice; at scale the
    # SMJ reuses ONE exchange) — and nothing shuffles candidates
    import re

    widths = re.findall(r"Exchange hashpartitioning\(band[^)]*, (\d+)\)", plan)
    assert widths and set(widths) == {"57"}, plan
    assert "hashpartitioning(left_id" not in plan, plan
    # the sizing rule itself: partitions grow linearly past the
    # session floor and respect the cap
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert derived_shuffle_partitions(1_000) == sess  # floor
    big = derived_shuffle_partitions(5_100_000 * 20, row_bytes=40)
    assert big > sess  # the r10 1024x cell now requests > the floor
    assert derived_shuffle_partitions(10**12) == 4096  # cap
    assert derived_shuffle_partitions(
        2 * 5_100_000 * 20, row_bytes=40
    ) >= 2 * big - 2  # ~linear in volume


def test_simhash_no_second_distinct_exchange(spark, sf_dir):
    """r11 rework: pair dedup is the minimal-agreeing-combo LUT
    filter (one array index over the XOR's zero-block bitmap), NOT a
    second candidate-volume shuffle — the r10 curve measured that
    distinct spilling at 1024x. Every hash exchange in the plan must
    be the (band, val) bucket shuffle; none on (left_id, right_id)."""
    import re

    import tidb_lightning_release_4_0_spark.registry as R

    df = R.q_simhash_pairs(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    hashes = re.findall(r"Exchange hashpartitioning\((\w+)#", plan)
    assert hashes and set(hashes) == {"band"}, plan
    # the old plan shuffled candidates for distinct: a second
    # hashpartitioning exchange on (left_id, right_id)
    assert "hashpartitioning(left_id" not in plan, plan


def test_minhash_candidate_shuffle_sizes_with_data(spark, sf_dir):
    """r11: minhash_lsh_pairs gets the same derived-partitions rule
    as simhash — an explicit candidate_partitions lands as the
    (band, bkey) exchange width, and nothing shuffles candidates."""
    from tidb_lightning_release_4_0_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    df = D.minhash_lsh_pairs(docs, threshold=0.2, candidate_partitions=43)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(band" in plan and ", 43)" in plan, plan
    # (unlike simhash, minhash keeps its final pair-distinct — its
    # candidate volume is ~1e-7 of brute force, measured at 1024x)


def test_minhash_sizing_count_is_metadata_job(spark, sf_dir, monkeypatch):
    """r11 opt pinned (r12 directive #6): the derived-partitions
    sizing ``count()`` runs on the RAW parquet scan BEFORE ``_spread``
    — a metadata-answerable single job — instead of executing the
    round-robin exchange (+ sort-before-repartition) just to learn a
    row count. Pinned on the plan of every frame minhash_lsh_pairs
    counts while it builds the pairs: none holds a round-robin
    exchange."""
    from tidb_lightning_release_4_0_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    plans = []
    frame_class = type(docs)
    real_count = frame_class.count

    def recording_count(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real_count(self)

    monkeypatch.setattr(frame_class, "count", recording_count)
    D.minhash_lsh_pairs(docs, threshold=0.2)
    assert plans, "minhash pairs ran no sizing count"
    for plan in plans:
        assert "RoundRobinPartitioning" not in plan, plan


def test_cc_label_frame_is_one_arrow_batch(spark):
    """r12 directive #3 pin: connected_components' driver label
    frames must ride ONE Arrow batch (LocalTableScan), not the
    row-pickling createDataFrame(list) path (Scan ExistingRDD over an
    applySchemaToPythonRDD MapPartitionsRDD — profiled at 0.4-0.6 s
    of dedup_cluster's ~2 s for a few thousand tuples). Also pins
    value parity between the Arrow route and the list fallback."""
    from tidb_lightning_release_4_0_spark.operators.curation import (
        _labels_frame,
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)],
        "left_id long, right_id long",
    )
    cc = connected_components(pairs)
    plan = _plan(cc)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan

    # value parity: Arrow route vs the list fallback, same schema
    rows = [(1, 1), (2, 1), (3, 1), (22, 20)]
    schema = cc.schema
    arrow_df = _labels_frame(spark, rows, schema)
    list_df = spark.createDataFrame(rows, schema=schema)
    assert arrow_df.schema == list_df.schema
    assert arrow_df.collect() == list_df.collect()
    # empty input keeps the list path's empty-frame contract
    assert _labels_frame(spark, [], schema).count() == 0
