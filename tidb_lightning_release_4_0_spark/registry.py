"""Query/oracle registry — the driver-facing surface.

One entry per implemented operator from SURVEY.md §2 (+ the
beyond-reference M7 operators). Each entry is a (spark, sf_dir) ->
DataFrame callable plus, where SQL-expressible, an ANSI-SQL oracle
string DuckDB runs over the same parquet tables.

Engine-portability rules used throughout (so value hashes match):
- aggregates over money-ish doubles go through DECIMAL casts
  (exact arithmetic, identical in both engines)
- raw doubles are only emitted when NO arithmetic was applied
  (identical bit patterns from the same parquet)
- computed similarity scores are rounded + DECIMAL-cast
- every computed column is aliased identically in Spark and SQL
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions import kv_codec_duckdb as KVD
from .functions.checksum import checksum_df, checksum_oracle_sql
from .operators import curation as CU
from .operators import dedup as D
from .operators import sketches as SK
from .operators import similarity as S
from .operators import temporal as TP
from .operators import text as X
from .operators.cast import mysql_cast
from .operators.rowid import assign_rowid_dense
from .sources.schema_reader import ColumnSpec
from pyspark.sql import types as T
from .sources.testdata import load_table

# round-trip fixtures: under the .tmp of the checkout holding the package
_SCRATCH = os.path.abspath(os.path.join(__file__, "..", "..", ".tmp"))

# DuckDB-side column types for checksum canonicalization
LINEITEM_TYPES = [
    ("l_orderkey", "BIGINT"), ("l_partkey", "BIGINT"),
    ("l_suppkey", "BIGINT"), ("l_linenumber", "INTEGER"),
    ("l_quantity", "DOUBLE"), ("l_extendedprice", "DOUBLE"),
    ("l_discount", "DOUBLE"), ("l_tax", "DOUBLE"),
    ("l_returnflag", "VARCHAR"), ("l_linestatus", "VARCHAR"),
    ("l_shipdate", "TIMESTAMP"),
]
ORDERS_TYPES = [
    ("o_orderkey", "BIGINT"), ("o_custkey", "BIGINT"),
    ("o_orderstatus", "VARCHAR"), ("o_totalprice", "DOUBLE"),
    ("o_orderdate", "TIMESTAMP"), ("o_orderpriority", "VARCHAR"),
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# ingest-pipeline operators (SURVEY §2)
# ---------------------------------------------------------------------------


def q_checksum_lineitem(spark, sf_dir):
    """C1: XOR-combined checksum aggregate (checksum.go:25-93)."""
    return checksum_df(_t(spark, sf_dir, "lineitem"))


def q_checksum_orders(spark, sf_dir):
    return checksum_df(_t(spark, sf_dir, "orders"))


def q_index_checksum_orders(spark, sf_dir):
    """T8/C1: separate checksum class for an index projection — the
    analog of the reference's data-vs-index KV split with per-class
    checksums (sql2kv.go:218-239, restore.go:61-63). The 'index KV'
    here is the (key columns -> handle) projection."""
    o = _t(spark, sf_dir, "orders")
    return checksum_df(o.select("o_custkey", "o_orderkey"))


def q_rowid_dense_orders(spark, sf_dir):
    """F4/T5: deterministic dense row-id assignment (region.go:146-170)."""
    df = assign_rowid_dense(
        _t(spark, sf_dir, "orders").select("o_orderkey"), ["o_orderkey"]
    )
    return df.select("o_orderkey", F.col("_row_id").alias("row_id"))


def q_alloc_base_orders(spark, sf_dir):
    """C4: AllocBase = max(handle)+1 (allocator.go:40-52)."""
    return _t(spark, sf_dir, "orders").agg(
        (F.max("o_orderkey") + 1).cast("long").alias("alloc_base")
    )


def q_mysql_cast_tinyint(spark, sf_dir):
    """T3 lenient cast: numeric-prefix parse + round + clamp to
    TINYINT range (sql2kv.go:165-186 semantics)."""
    spec = ColumnSpec("v", "tinyint", T.ByteType())
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        mysql_cast(F.col("l_extendedprice").cast("string"), spec)
        .cast("int")
        .alias("clamped"),
    )


def q_enum_cast_events(spark, sf_dir):
    """T3 ENUM semantics: member validation (case-insensitive) +
    numeric-ordinal acceptance + lenient invalid -> '' (ordinal 0)."""
    spec = ColumnSpec(
        "e", "enum", T.StringType(),
        enum_members=["click", "view", "error", "purchase"],
    )
    ev = _t(spark, sf_dir, "events")
    # mix of valid members (event_type), ordinals, and garbage
    raw = (
        F.when(F.col("event_id") % 5 == 0, (F.col("event_id") % 4 + 1).cast("string"))
        .when(F.col("event_id") % 7 == 0, F.lit("INVALID"))
        .otherwise(F.upper(F.col("event_type")))
    )
    return ev.select(
        "event_id", mysql_cast(raw, spec).alias("enum_val")
    )


def q_default_fill_customer(spark, sf_dir):
    """F3/T4: missing columns filled from DDL defaults
    (restore.go:1356-1406, sql2kv.go:177)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        "c_name",
        F.lit(123).cast("int").alias("y_default"),
        F.lit("pending").alias("status_default"),
    )


def q_router_merge_orders(spark, sf_dir):
    """F2: shard-merge routing == unionByName of shard frames
    (loader.go:303-372)."""
    o = _t(spark, sf_dir, "orders")
    shard0 = o.filter(F.col("o_orderkey") % 2 == 0)
    shard1 = o.filter(F.col("o_orderkey") % 2 == 1)
    return shard0.unionByName(shard1)


def q_dup_replace_events(spark, sf_dir):
    """K3 on-duplicate=replace: last arrival per key wins
    (tidb.go:54-62); arrival order = (ts, event_id)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


def q_dup_ignore_events(spark, sf_dir):
    """K3 on-duplicate=ignore: first arrival per key kept."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        e.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


def q_json_extract_events(spark, sf_dir):
    """KindMysqlJSON handling: opaque JSON string + path extraction
    (tidb.go:168-173 -> get_json_object)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k_val"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k_val").cast("long").alias("k_sum"),
        )
    )


# ---------------------------------------------------------------------------
# relational layer ("free" Spark operators the reference lacks, §2.7)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style pricing summary (group agg, decimal-exact)."""
    li = _t(spark, sf_dir, "lineitem")
    d = li.select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        F.col("l_discount").cast("decimal(18,4)").alias("disc"),
    )
    g = d.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("qty").cast("double").alias("sum_qty"),
        F.sum("price").cast("double").alias("sum_price"),
        F.sum("disc").cast("double").alias("sum_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return g.orderBy("l_returnflag", "l_linestatus")


def q_top_orders_by_revenue(spark, sf_dir):
    """TPC-H Q3-style 3-way join + top-k with deterministic tiebreak."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = (
        li.select(
            "l_orderkey",
            (
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
            ).alias("r"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("r").alias("revenue"))
    )
    j = (
        o.join(c.filter(F.col("c_mktsegment") == "BUILDING"),
               o["o_custkey"] == c["c_custkey"])
        .join(rev, o["o_orderkey"] == rev["l_orderkey"])
        .select(
            "o_orderkey",
            "c_name",
            F.col("revenue").cast("double").alias("revenue"),
        )
    )
    return j.orderBy(F.col("revenue").desc(), F.col("o_orderkey")).limit(10)


def q_filtered_revenue(spark, sf_dir):
    """TPC-H Q6-style selective filter + single agg; the filters
    push into the parquet scan (PushedFilters)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .select(
            (
                F.col("l_extendedprice").cast("decimal(18,2)")
                * F.col("l_discount").cast("decimal(18,4)")
            ).alias("r")
        )
        .agg(F.sum("r").cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_rows"))
    )


def q_topk_parts(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return (
        p.select("p_partkey", "p_name", "p_retailprice")
        .orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
        .limit(10)
    )


def q_window_running_total(spark, sf_dir):
    """Running per-user total (window agg, decimal-exact)."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("running_value"),
    )


def q_window_rank_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.row_number().over(w).cast("int").alias("bal_rank"),
    )


def q_events_tumbling_window(spark, sf_dir):
    """Tumbling 1-hour window aggregate — the batch twin of the
    Structured Streaming path (streaming/events.py)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def q_events_sliding_window(spark, sf_dir):
    """Sliding (hopping) 1-hour/30-minute window aggregate — the
    batch twin of streaming/events.py::sliding_counts (equivalence
    asserted in the streaming suite). Each event belongs to exactly
    window/slide = 2 windows; the DuckDB oracle reproduces that by
    unioning the two covering bucket starts per event. Scale shape:
    one shuffle on (window_start, event_type); the overlap factor
    multiplies rows into the aggregate, never the raw-event width."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def q_rollup_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


def q_anti_join_customers(spark, sf_dir):
    """Customers without orders (anti join)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o, c["c_custkey"] == o["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


def q_semi_join_suppliers(spark, sf_dir):
    """Suppliers referenced by any lineitem (semi join)."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    return s.join(
        li, s["s_suppkey"] == li["l_suppkey"], "left_semi"
    ).select("s_suppkey", "s_name")


# ---------------------------------------------------------------------------
# beyond-reference: dedup / text / similarity (M7)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    return D.exact_dedup_groups(_t(spark, sf_dir, "documents"))


def q_dedup_apply_exact(spark, sf_dir):
    """Apply exact dedup: keep one survivor per distinct content
    (smallest doc_id), returning the cleaned corpus ids."""
    d = _t(spark, sf_dir, "documents")
    keep = D.exact_dedup_groups(d).select("keep_id")
    return (
        d.join(keep, d["doc_id"] == keep["keep_id"], "left_semi")
        .select("doc_id", "lang", "source")
    )


def q_dedup_apply_minhash(spark, sf_dir):
    """Apply near-dedup: drop the higher-id side of every candidate
    pair (greedy survivor policy), return surviving doc ids."""
    d = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(d, threshold=0.2)
    losers = pairs.select(F.col("right_id").alias("doc_id")).distinct()
    return d.join(losers, "doc_id", "left_anti").select("doc_id")


def q_dedup_minhash(spark, sf_dir):
    return D.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.2
    )


def q_dedup_minhash_xx(spark, sf_dir):
    """MinHash-LSH with the PRODUCTION hash (xxhash64: one JVM
    intrinsic per shingle, zero md5 in the plan — docs/SCALE.md's
    recommended default). Hash-checked since round 7: the oracle
    reproduces Spark's xxhash64 bit-for-bit as a pure DuckDB SQL
    expression (hashing.xxhash64_duckdb), so the candidate set and
    signatures are verified under the production hash family, not
    just the md5-portable hash60 twin."""
    return D.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.2,
        hash_fn="xxhash64",
    )


def q_asof_join_orders(spark, sf_dir):
    """As-of join (M7): each event matched to the customer's latest
    order at-or-before the event time. Union + running-last window —
    ONE shuffle, no candidate explosion (operators/temporal.py)."""
    from .operators.temporal import asof_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    od = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("order_ts"),
        )
        .agg(F.max("o_orderkey").alias("matched_order"))
    )
    out = asof_join(
        e, od, on=["user_id"], left_ts="ts", right_ts="order_ts",
        payload=["matched_order"],
    )
    return out.select("event_id", "user_id", "matched_order")


def q_range_join_events(spark, sf_dir):
    """Range join (M7): events within 7 days after the customer's
    order. Equi-key hash join + interval residual — linear, never a
    cross-product (operators/temporal.py)."""
    from .operators.temporal import range_join

    e = _t(spark, sf_dir, "events")
    o = _t(spark, sf_dir, "orders")
    j = range_join(
        o, e, on=[("o_custkey", "user_id")],
        range_pred=(e["ts"] >= o["o_orderdate"])
        & (e["ts"] < o["o_orderdate"] + F.expr("INTERVAL 7 DAYS")),
    )
    return (
        j.groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("value_sum"),
        )
    )


def q_click_purchase_attribution(spark, sf_dir):
    """Batch twin of the stream-stream interval join
    (streaming/events.py::click_purchase_join): purchases attributed
    to the same user's clicks in the preceding hour. In streaming
    both sides are watermarked and the two-sided time bound keeps
    join state finite; the batch plan is the identical equi-key hash
    join + interval residual."""
    from .streaming.events import click_purchase_join

    e = _t(spark, sf_dir, "events")
    j = click_purchase_join(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "purchase"),
    )
    return (
        j.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_attributed"),
            F.count_distinct("purchase_id").alias("n_purchases"),
        )
        .orderBy("user_id")
    )


def q_hll_distinct_parts(spark, sf_dir):
    """Deterministic HyperLogLog (M7 sketch): approximate distinct
    l_partkey via 256 explicit registers over the portable md5-prefix
    hash — the SAME registers in DuckDB, so the approximation itself
    is oracle-verified (engine-native sketches never are). One
    256-group agg instead of a full-key distinct shuffle."""
    from .operators.sketches import approx_distinct_hll

    return approx_distinct_hll(
        _t(spark, sf_dir, "lineitem"), "l_partkey"
    )


def q_hll_users_by_event(spark, sf_dir):
    """Grouped deterministic HLL: approximate distinct users per
    event type — (groups x 256) register rows instead of the full
    (type, user) distinct shuffle. Oracle-verified registers AND
    estimates (operators/sketches.py)."""
    from .operators.sketches import approx_distinct_hll_grouped

    return approx_distinct_hll_grouped(
        _t(spark, sf_dir, "events"), "event_type", "user_id"
    )


_CMS_PROBES = ["join", "hash", "batch", "scan", "zzznotaterm"]


def q_cms_term_counts(spark, sf_dir):
    """Deterministic Count-Min sketch (M7 sketch family): frequency
    estimates for a probe list read off a 4x1024 counter matrix —
    built with map-side-combined 1024-group aggs, no full-term
    shuffle; est >= true with bounded overestimate, and because the
    counters come from the portable seeded md5 hash the DuckDB
    oracle verifies every estimate exactly."""
    from .operators.sketches import cms_estimate_terms

    d = _t(spark, sf_dir, "documents")
    terms = d.select(
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term")
    ).filter(F.length("term") > 3)
    return cms_estimate_terms(terms, "term", _CMS_PROBES)


def q_hll_union_keys(spark, sf_dir):
    """Sketch MERGEABILITY (the distributable property): cardinality
    of the union of lineitem partkeys and order keys from their two
    independent 256-register tables, combined by per-bucket max —
    neither corpus is re-read or jointly distinct-ed."""
    from .operators.sketches import approx_distinct_hll_union

    return approx_distinct_hll_union(
        _t(spark, sf_dir, "lineitem"), "l_partkey",
        _t(spark, sf_dir, "orders"), "o_orderkey",
    )


def q_hll_overlap_partkeys(spark, sf_dir):
    """Corpus-overlap estimate from three HLL register tables (A, B,
    register-merged union): intersection by inclusion-exclusion
    (clamped to [0, min(a,b)]) and Jaccard = inter/union — how much
    two crawl snapshots share, without joining them. The two sides
    are PARTIALLY overlapping key sets (customer keys vs the much
    smaller supplier-key range), so the inclusion-exclusion
    subtraction is actually exercised — Jaccard lands well inside
    (0, 1). All four estimates oracle-verified."""
    from .operators.sketches import approx_overlap_hll

    return approx_overlap_hll(
        _t(spark, sf_dir, "orders"), "o_custkey",
        _t(spark, sf_dir, "lineitem"), "l_suppkey",
    )


def q_url_canonicalize(spark, sf_dir):
    """URL canonicalization (M7 curation): deterministic messy URLs
    derived in-query (uppercase schemes/hosts, default ports,
    tracking params, fragments — the pii_scrub injection pattern)
    collapse to one canonical form per document, the prerequisite
    for exact URL dedup on a crawl."""
    from .operators.curation import canonicalize_url

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 2 == 0, F.lit("HTTP")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(did % 3 == 0, F.upper(F.col("source"))).otherwise(
            F.col("source")
        ),
        F.lit(".example.com"),
        F.when(did % 4 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/docs/"),
        did.cast("string"),
        F.when(did % 2 == 0, F.lit("?utm_source=feed&b=2&a=1")).otherwise(
            F.lit("?a=1&b=2")
        ),
        F.when(did % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return d.select(
        "doc_id", canonicalize_url(url).alias("canonical_url")
    )


def q_strip_html(spark, sf_dir):
    """HTML boilerplate stripping (M7 curation): deterministic markup
    wrapped around each document in-query (tags, a script block,
    entities) is removed and the entities decode — the first
    cleaning step of a crawl pipeline, one narrow regex projection."""
    from .operators.curation import strip_html

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    wrapped = F.concat(
        F.lit("<html><body><p class=\"x\">"),
        F.substring(F.col("text"), 1, 60),
        F.lit("</p><script>var a=1;</script>&amp;lt; &nbsp;tail"),
        F.lit("</body></html>"),
    )
    return d.select(
        "doc_id", strip_html(wrapped).alias("clean_text")
    )


def q_hist_quantiles_price(spark, sf_dir):
    """Histogram quantile sketch (M7 sketch family): p50/p95/p99 of
    l_extendedprice off a 256-bin equi-width histogram — the shuffle
    carries at most 256 counter rows where exact percentiles move
    the full column; deterministic interpolation makes the estimates
    oracle-verified (engine-native approx_percentile is neither
    portable nor reproducible)."""
    from .operators.sketches import histogram_quantiles

    return histogram_quantiles(
        _t(spark, sf_dir, "lineitem"), "l_extendedprice",
        [0.5, 0.95, 0.99],
    )


def q_top_terms(spark, sf_dir):
    """Corpus top-k terms: tokenize -> explode -> count (the
    wordcount shape every text pipeline needs; shuffle only carries
    (term, partial count) after map-side combine)."""
    d = _t(spark, sf_dir, "documents")
    terms = d.select(
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term")
    ).filter(F.length("term") > 3)
    return (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term"))
        .limit(20)
    )


def q_percentiles_lineitem(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile`
    == DuckDB `quantile_cont`, both type-7 linear interpolation)."""
    li = _t(spark, sf_dir, "lineitem")

    def p(q, alias):
        return (
            F.expr(f"percentile(l_quantity, {q})")
            .cast("decimal(18,6)")
            .cast("double")
            .alias(alias)
        )

    return (
        li.groupBy("l_returnflag")
        .agg(p(0.25, "p25"), p(0.5, "p50"), p(0.75, "p75"), p(0.95, "p95"))
        .orderBy("l_returnflag")
    )


def q_simhash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", D.simhash(F.col("text")).alias("simhash"))


def q_ngram_jaccard(spark, sf_dir):
    return D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        block_cols=["lang", "source"],
        threshold=0.15,
    )


def q_text_stats(spark, sf_dir):
    return X.text_stats(_t(spark, sf_dir, "documents"))


def q_embedding_dups(spark, sf_dir):
    return S.cosine_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.93
    )


def q_ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return S.topk_cosine(emb.filter(F.col("vec_id") < 3), emb, k=5)


def q_ann_topk_lsh(spark, sf_dir):
    """Approximate variant: hyperplane-LSH bucketed (the scale path).
    Oracle-checked: the deterministic hyperplanes are emitted as
    literal arrays in the DuckDB twin (ann_topk_lsh_oracle_sql)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ann_topk_lsh(
        emb.filter(F.col("vec_id") < 3), emb, k=5, num_planes=4
    )


def q_ann_topk_pq(spark, sf_dir):
    """Approximate top-k via product quantization + ADC (the
    memory-compression scale path: the corpus becomes 4 codes per
    vector; scoring reads 4 lookup-table entries per pair instead of
    full-vector math). Literal codebooks keep the whole pipeline —
    encoding, ADC sums, ranking — oracle-verified."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ann_topk_pq(emb.filter(F.col("vec_id") < 3), emb, k=5)


def q_random_project(spark, sf_dir):
    """JL random projection (M7): 64-dim embeddings compressed to 8
    doubles with a literal hash-derived matrix — the shuffle/storage
    compression step before clustering at corpus scale. Narrow
    no-shuffle projection, every value oracle-checked."""
    return S.random_project(
        _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    )


def q_ann_recall_lsh(spark, sf_dir):
    """ANN quality metric: per-query recall of the LSH bucketed
    top-k against the exact brute-force top-k — the measurement a
    pipeline needs before trusting the approximate path at scale.
    (On the synthetic i.i.d.-random embeddings recall is near zero —
    random vectors have no cluster structure for 4 single-probe
    hyperplanes to exploit; that is the finding, not a bug: the
    metric is what tells an operator to add planes/multi-probe.)"""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    exact = S.topk_cosine(q, emb, k=5).select("q_id", "c_id")

    def rec(approx, out_col):
        a = approx.select(
            F.col("q_id").alias("aq"), F.col("c_id").alias("ac")
        )
        j = exact.join(
            a,
            (exact["q_id"] == a["aq"]) & (exact["c_id"] == a["ac"]),
            "left",
        )
        return j.groupBy("q_id").agg(
            F.round(F.count("ac") / F.lit(5.0), 4).alias(out_col)
        )

    single = rec(S.ann_topk_lsh(q, emb, k=5, num_planes=4), "recall")
    multi = rec(
        S.ann_topk_lsh(q, emb, k=5, num_planes=4, multiprobe=True),
        "recall_mp",
    )
    return single.join(multi, "q_id")


def q_ann_topk_ivf(spark, sf_dir):
    """IVF coarse-quantized ANN (scale path; oracle-checked — the
    deterministic lowest-id centroids are reproduced in SQL)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_topk(emb.filter(F.col("vec_id") < 3), emb, k=5)


def q_ann_topk_pq_q64(spark, sf_dir):
    """ann_topk_pq at a 64-query batch — the unpruned path scores
    every (query, code) pair. Paired with ann_topk_ivfpq_q64; the
    pruning evidence is the CANDIDATE-COUNT reduction (mechanically
    asserted by test_ivfpq_prunes_candidate_pairs: ~n_cells/n_probe
    fewer scored pairs), not wall-clock at this corpus size — at
    2000 vectors even the full 64x2000 ADC scan is trivial on 32
    cores, so per-call fixed costs dominate both entries; the
    wall-clock win appears when the corpus, not the overhead, is the
    cost (the 100 TB regime the pruning exists for)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ann_topk_pq(emb.filter(F.col("vec_id") < 64), emb, k=5)


def q_ann_topk_ivfpq_q64(spark, sf_dir):
    """ann_topk_ivfpq at the same 64-query batch: identical ADC
    scoring over the coarse-cell-pruned candidate set (see
    ann_topk_pq_q64's docstring for what this pair does and does not
    measure)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ann_topk_ivfpq(
        emb.filter(F.col("vec_id") < 64), emb, k=5, n_cells=8, n_probe=2
    )


# shared by q_duplicate_spans and BOTH span oracles — one definition
# so the Spark input and the DuckDB twin cannot drift apart
_SPAN_BOILER = (
    " subscribe to our newsletter for updates and exclusive"
    " offers every single week of the year"
)
_SPAN_DOCS_SQL = (
    "(SELECT doc_id, substring(text, 1, 100)"
    f" || CASE WHEN doc_id % 4 = 0 THEN '{_SPAN_BOILER}' ELSE '' END"
    f" || CASE WHEN doc_id % 8 = 0 THEN '{_SPAN_BOILER}' ELSE '' END"
    " AS text FROM documents) wrapped"
)


def q_duplicate_spans(spark, sf_dir):
    """Cross-document duplicated k-gram spans (the exact-substring
    dedup signal, Lee et al. 2022): per-doc fraction of 8-gram
    positions whose gram occurs in >= 2 documents. Shared boilerplate
    sentences are appended in-query to a deterministic doc subset so
    cross-doc spans genuinely exist; docs keep their own text too, so
    the zero/partial/full coverage branches all fire. Oracle-exact
    (same tokenization + hash60 gram hashes in DuckDB)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    wrapped = F.concat(
        F.substring(F.col("text"), 1, 100),
        F.when(did % 4 == 0, F.lit(_SPAN_BOILER)).otherwise(F.lit("")),
        F.when(did % 8 == 0, F.lit(_SPAN_BOILER)).otherwise(F.lit("")),
    )
    return D.duplicate_spans(
        d.select("doc_id", wrapped.alias("text")), k=8
    )


def _stale_vs_parquet(cached: str, src: str) -> bool:
    """True when a derived artifact predates the (driver-regenerated)
    source parquet — stale caches must rebuild or the oracle reading
    fresh parquet hash-mismatches them. Shared by every registry
    query that materializes testdata-derived files."""
    import os

    if not (os.path.exists(cached) and os.path.exists(src)):
        return False
    if os.path.isdir(src):
        src_m = max(
            (
                os.path.getmtime(os.path.join(dp, f))
                for dp, _, fs in os.walk(src)
                for f in fs
            ),
            default=os.path.getmtime(src),
        )
    else:
        src_m = os.path.getmtime(src)
    return src_m > os.path.getmtime(cached)


def q_jsonl_roundtrip(spark, sf_dir):
    """JSONL export -> re-ingest round-trip (the training-data
    handoff format both ways): documents written as uncompressed
    splittable JSONL shards (curation.export_jsonl) and read back
    with an explicit schema (sources.jsonl_source.read_jsonl — no
    inference pass, byte-range splits). The oracle is the ORIGINAL
    parquet table, so the comparison proves the round-trip is
    lossless row-for-row, value-for-value."""
    import os

    from .operators.curation import export_jsonl
    from .sources.jsonl_source import read_jsonl

    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(_SCRATCH, f"jsonl_rt/{tag}/documents")
    src = os.path.join(sf_dir, "documents.parquet")
    marker = os.path.join(path, "_SUCCESS")
    if _stale_vs_parquet(marker, src) or not os.path.exists(marker):
        export_jsonl(
            _t(spark, sf_dir, "documents"), path,
            shards=4, compression=None,
        )
    return read_jsonl(
        spark,
        path,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )


def q_orc_roundtrip(spark, sf_dir):
    """ORC export -> read-back round-trip (the columnar interchange
    format besides parquet a warehouse handoff may require; Spark's
    ORC writer/reader is built in). Orders written once as ORC under
    the scratch dir, read back and projected; the oracle is the
    ORIGINAL parquet table, so the comparison proves the format hop
    is lossless for longs, doubles, strings and timestamps (the
    timestamp column exercises ORC's UTC semantics against the
    session's pinned zone)."""
    import os

    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(_SCRATCH, f"orc_rt/{tag}/orders")
    src = os.path.join(sf_dir, "orders.parquet")
    marker = os.path.join(path, "_SUCCESS")
    if _stale_vs_parquet(marker, src) or not os.path.exists(marker):
        _t(spark, sf_dir, "orders").write.mode("overwrite").orc(path)
    out = spark.read.orc(path)
    return out.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )


def q_dedup_apply_spans(spark, sf_dir):
    """Apply-policy for duplicated spans: drop documents whose
    cross-document duplicated-gram coverage is >= 0.5 (mostly
    boilerplate), keep the rest — the document-level application of
    the exact-substring-dedup signal. Returns surviving doc ids."""
    stats = q_duplicate_spans(spark, sf_dir)
    return stats.filter(F.col("dup_frac") < 0.5).select("doc_id")


def q_ann_recall_ivf(spark, sf_dir):
    """ANN quality metric for the coarse-quantized paths: per-query
    recall of IVF and IVF-PQ top-k against the exact brute-force
    top-k — the measurement that tells an operator how much the cell
    pruning (and additionally the PQ code compression) costs in
    accuracy before trusting either at scale. Unlike the LSH recall
    probe, every branch here is oracle-exact, so the recall numbers
    themselves are DuckDB-verified."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    exact = S.topk_cosine(q, emb, k=5).select("q_id", "c_id")

    def rec(approx, out_col):
        a = approx.select(
            F.col("q_id").alias("aq"), F.col("c_id").alias("ac")
        )
        j = exact.join(
            a,
            (exact["q_id"] == a["aq"]) & (exact["c_id"] == a["ac"]),
            "left",
        )
        return j.groupBy("q_id").agg(
            F.round(F.count("ac") / F.lit(5.0), 4).alias(out_col)
        )

    ivf = rec(S.ivf_topk(q, emb, k=5), "recall_ivf")
    ivfpq = rec(
        S.ann_topk_ivfpq(q, emb, k=5, n_cells=8, n_probe=2),
        "recall_ivfpq",
    )
    return ivf.join(ivfpq, "q_id")


def q_gopher_repetition(spark, sf_dir):
    """Gopher-style repetition filters (M7 curation; Rae et al. 2021
    A1.1): duplicate-line fraction, duplicate-line character
    fraction, top-bigram fraction — the signals that drop
    boilerplate/spam documents before training. Deterministic
    repeated lines/bigrams are injected in-query (the strip_html
    pattern) so every branch — dup lines, unique tails, repeated
    bigram runs — is actually exercised; one narrow zero-shuffle
    projection, fully oracle-verified."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    wrapped = F.concat(
        F.substring(F.col("text"), 1, 120),
        F.lit("\nrepeat line one\nrepeat line one\n"),
        F.when(did % 3 == 0, F.lit("repeat line one\n")).otherwise(
            F.lit("unique tail line\n")
        ),
        F.when(did % 2 == 0, F.lit("the cat the cat the cat")).otherwise(
            F.lit("plain ending words here")
        ),
    )
    return X.repetition_stats(
        d.select("doc_id", wrapped.alias("text"))
    )


def q_split_csv_rowids(spark, sf_dir):
    """Strict-format chunk-split CSV ingest (S6/S7: the reference
    splits any file into byte-range chunks when the user guarantees
    no unquoted newlines — mydump/region.go SplitLargeFile). One
    single-file CSV of orders is read with multiLine=false (Spark's
    splittable path) and per-block row-id bases
    (offset/divisor + per-block cushion); the returned rank over
    _row_id must reproduce the file's write order exactly — proving
    split reads lose, duplicate, and reorder nothing. The oracle is
    the same rows ranked in their original order."""
    import os

    from .config import CSVConfig
    from .operators.rowid import (
        assign_rowid_by_range,
        plan_row_ids,
        split_bytes_lower_bound,
    )
    from .sources.csv_source import read_csv

    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(_SCRATCH, f"split_csv/{tag}/orders.csv")
    src = os.path.join(sf_dir, "orders.parquet")
    if _stale_vs_parquet(path, src):
        os.remove(path)
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pdf = (
            _t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_orderpriority")
            .orderBy("o_orderkey")
            .toPandas()
        )
        tmp = path + ".tmp"
        pdf.to_csv(tmp, header=False, index=False)
        os.replace(tmp, path)
    cfg = CSVConfig(strict_format=True)
    # plan with 64 KiB splits so even the sf0.01 file fans out over
    # multiple blocks; the conf is restored immediately (the row-id
    # scheme is split-size-agnostic: a LOWER-bound split assumption
    # only overcounts the per-block cushion, so executing under the
    # session's default split size stays correct)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
    try:
        sb = split_bytes_lower_bound(spark)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    ids = plan_row_ids([(path, os.path.getsize(path), "csv")], {"csv": 3}, sb)
    df = read_csv(spark, path, cfg, ["_c0", "_c1", "_c2"])
    df = assign_rowid_by_range(df, ids.bases, ids.divisor["csv"], sb)
    w = Window.orderBy("_row_id")
    return df.select(
        F.row_number().over(w).alias("rn"),
        F.col("_c0").cast("bigint").alias("o_orderkey"),
        F.col("_c1").cast("bigint").alias("o_custkey"),
        F.col("_c2").alias("o_orderpriority"),
    )


def q_resume_split_csv(spark, sf_dir):
    """Block-grain MID-FILE checkpoint resume (O5 at the reference's
    (path, offset) chunk-key grain, checkpoints.go:92-130,
    restore.go:1265-1266): one strict-format CSV of orders restores
    through byte-range block engines with an injected crash after the
    first engine; the second run resumes from the recorded block
    offsets (never re-reading delivered ranges) and must land EXACT
    totals — the oracle is the same rows straight from the orders
    table, so any lost, duplicated, or reordered-block row
    hash-mismatches."""
    import os
    import shutil

    from .config import Config, CSVConfig, MydumperConfig, TiDBConfig
    from .plans.pipeline import RestoreController
    from .sinks.parquet_sink import ParquetSink

    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    fix = os.path.join(_SCRATCH, f"split_csv/{tag}/orders.csv")
    src = os.path.join(sf_dir, "orders.parquet")
    if _stale_vs_parquet(fix, src):
        os.remove(fix)
    if not os.path.exists(fix):
        os.makedirs(os.path.dirname(fix), exist_ok=True)
        pdf = (
            _t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_orderpriority")
            .orderBy("o_orderkey")
            .toPandas()
        )
        tmp = fix + ".tmp"
        pdf.to_csv(tmp, header=False, index=False)
        os.replace(tmp, fix)
    root = os.path.join(_SCRATCH, f"resume_csv/{tag}")
    shutil.rmtree(root, ignore_errors=True)
    d = os.path.join(root, "dump")
    os.makedirs(d)
    with open(os.path.join(d, "rs-schema-create.sql"), "w") as f:
        f.write("CREATE DATABASE rs;")
    with open(os.path.join(d, "rs.o-schema.sql"), "w") as f:
        f.write(
            "CREATE TABLE o (o_orderkey BIGINT PRIMARY KEY, "
            "o_custkey BIGINT, o_orderpriority VARCHAR(20))"
        )
    shutil.copyfile(fix, os.path.join(d, "rs.o.0001.csv"))
    tgt = os.path.join(root, "sink")
    cp_path = os.path.join(root, "cp.json")

    class _FailFirst(ParquetSink):
        def __init__(self, r, fail_at):
            super().__init__(r, on_duplicate="error")
            self.fail_at = fail_at
            self.delivered = 0

        def write_engine(self, df, table, engine_id):
            if self.fail_at is not None and self.delivered >= self.fail_at:
                raise RuntimeError("injected mid-file crash")
            res = super().write_engine(df, table, engine_id)
            self.delivered += 1
            return res

    # size the engines from the fixture so the crash geometry holds at
    # EVERY sf: >=3 engines (the crash fires at the 2nd), each split
    # into ~2 byte-range blocks (the resume is block-grain)
    batch = max(4 * 1024, os.path.getsize(fix) // 4)

    def cfg():
        return Config(
            mydumper=MydumperConfig(
                source_dir=d,
                csv=CSVConfig(strict_format=True),
                batch_size=batch,
            ),
            backend="parquet",
            target_dir=tgt,
            on_duplicate="error",
            checkpoint_path=cp_path,
            table_concurrency=1,
            tidb=TiDBConfig(sql_mode=""),
        )

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(max(2048, batch // 2)))
    try:
        crash = RestoreController(
            spark, cfg(), sink=_FailFirst(tgt, 1)
        ).run()
        assert not crash.ok, "the injected crash must fire"
        from .plans.checkpoints import CheckpointStore

        cp = CheckpointStore(cp_path)
        cp.ignore_error("all")
        done = RestoreController(
            spark, cfg(), sink=_FailFirst(tgt, None), checkpoints=cp
        ).run()
        assert done.ok, done.report()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(os.path.join(tgt, "rs.o"))
        .select("o_orderkey", "o_custkey", "o_orderpriority")
    )


def q_ann_topk_ivfpq(spark, sf_dir):
    """IVF-PQ (IVFADC): the composed scale path — coarse cells prune
    the candidate set ~n_cells/n_probe-fold AND candidates are scored
    from 4 PQ codes via ADC lookup tables, never raw vectors. Fixes
    ann_topk_pq's unpruned full-corpus ADC scan; fully oracle-checked
    (deterministic lowest-id centroids + literal codebooks)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ann_topk_ivfpq(
        emb.filter(F.col("vec_id") < 3), emb, k=5, n_cells=8, n_probe=2
    )


def q_corpus_diff_docs(spark, sf_dir):
    """Dataset-version diff (curation.py::corpus_diff): documents vs
    a deterministically perturbed next version (drop doc_id%17==3,
    append ' v2' to doc_id%13==2, add doc_id%29==5 under shifted
    ids) -> per-doc added/removed/changed/unchanged. One (id, hash)
    shuffle; text never moves."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 17 != 3).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 2,
            F.concat(F.col("text"), F.lit(" v2")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # added docs live OUTSIDE the id domain (negative mirror): a
    # fixed positive offset would collide with real doc_ids once the
    # corpus reaches the offset, silently fanning out the diff join
    added = docs.filter(F.col("doc_id") % 29 == 5).select(
        (-F.col("doc_id") - 1).alias("doc_id"), "text"
    )
    return CU.corpus_diff(docs, new.unionByName(added))


_CORPUS_DIFF_NEW_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 13 = 2 THEN text || ' v2' ELSE text END AS text
FROM documents WHERE doc_id % 17 <> 3
UNION ALL
SELECT -doc_id - 1 AS doc_id, text FROM documents
WHERE doc_id % 29 = 5
"""


def q_kv_crc64_orders(spark, sf_dir):
    """TRUE KV-byte parity, independently attested: the kv_crc64
    checksum triple (record KV + 3 index KVs per row: non-unique,
    unique, composite-with-handle) over orders' int/string/datetime
    columns, computed by the vectorized Python codec
    (functions/kv_codec_np) — while the oracle re-derives the SAME
    BYTES with a second, shared-nothing encoder written in pure
    DuckDB SQL (functions/kv_codec_duckdb: hex-text varints, packed
    datetimes, EncodeBytes groups, CanSkip, both index value
    layouts, CRC-64/XZ fold). A codec bug on either side flips the
    crc — this closes the 'both e2e sides use the same Python codec'
    observation from the round-6 ADVICE."""
    from .functions.kv_codec import kv_hash_columns

    o = _t(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_orderdate"]
    pair = kv_hash_columns(
        o,
        cols,
        "o_orderkey",
        col_ids=[2, 3, 5],
        table_id=11,
        # o_orderstatus carries a DEFAULT in this scenario -> its
        # NULLs would encode explicitly; the int/date columns follow
        # the common no-DEFAULT CanSkip rule
        default_null_ids=frozenset({2, 5}),
        indexes=[
            (1, ["o_custkey"], False),
            (2, ["o_orderstatus"], True),
            (3, ["o_orderdate", "o_orderkey"], False),
        ],
    )
    return (
        o.withColumn("_p", pair)
        .agg(
            F.bit_xor(F.col("_p.h")).alias("crc_xor"),
            F.sum(F.col("_p.n")).cast("long").alias("total_bytes"),
            (F.count(F.lit(1)) * 4).cast("long").alias("total_kvs"),
        )
    )


def q_kv_crc64_orders_v2(spark, sf_dir):
    """Row-format-v2 + DOUBLE KV-byte parity, independently attested
    (round-8 directive #4: 'both v2 attesters are Python'). Same
    shape as kv_crc64_orders but the record value uses the v2
    sectioned layout (version/flag, u16 counts, ascending
    not-null/null ids, end offsets, cells) and the column set adds
    o_totalprice DOUBLE — in the value AND in an index key — so the
    oracle's pure-SQL IEEE-754 bits path (kv_codec_duckdb.
    float_bits_hugeint: corrected floor-log2 exponent, exact
    power-of-two rescale) attests codec.EncodeFloat bytes too."""
    from .functions.kv_codec import kv_hash_columns

    o = _t(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    pair = kv_hash_columns(
        o,
        cols,
        "o_orderkey",
        col_ids=[2, 3, 4, 5],
        table_id=12,
        row_format_version=2,
        # o_orderstatus carries a DEFAULT -> its NULLs stay in the v2
        # null-id section; the rest CanSkip-drop
        default_null_ids=frozenset({2, 4, 5}),
        indexes=[
            (1, ["o_custkey"], False),
            (2, ["o_totalprice"], True),
            (3, ["o_orderdate", "o_orderkey"], False),
        ],
    )
    return (
        o.withColumn("_p", pair)
        .agg(
            F.bit_xor(F.col("_p.h")).alias("crc_xor"),
            F.sum(F.col("_p.n")).cast("long").alias("total_bytes"),
            (F.count(F.lit(1)) * 4).cast("long").alias("total_kvs"),
        )
    )


def q_kv_crc64_orders_dec(spark, sf_dir):
    """DECIMAL (myDecimal binary) KV-byte parity, independently
    attested (round 8): five decimal shapes — a 2-frac money column,
    a NEGATIVE delta (the whole-bytes-invert branch), a wide
    DECIMAL(25,7) (two full 9-digit integer groups), a nullable
    DECIMAL(20,10) (full + partial fraction groups; NilFlag default)
    and a frac-0 DECIMAL(9,0) under CanSkip — in the record value
    AND in index keys (non-unique, unique-with-NULLs, composite with
    a negative decimal). The oracle re-derives the same bytes with
    the pure-SQL myDecimal encoder (kv_codec_duckdb.mydecimal_hex:
    digit groups from DuckDB's exact DECIMAL->VARCHAR rendering —
    zero floating arithmetic on either side; every source expression
    is integer-times-decimal-literal, exact in both engines).
    Reference parity: DECIMAL columns ride KindMysqlDecimal through
    the kv path (lightning/backend/sql2kv.go:64); the byte layout is
    TiDB codec.EncodeDecimal over the MySQL internals manual's
    myDecimal binary (goldens in tests/test_kv_codec.py)."""
    from .functions.kv_codec import kv_hash_columns

    o = _t(spark, sf_dir, "orders")
    d = o.select(
        "o_orderkey",
        F.expr("CAST(o_custkey * 0.01 AS DECIMAL(12,2))").alias("d_price"),
        F.expr("CAST(o_custkey * 0.01 - 70 AS DECIMAL(12,2))").alias(
            "d_delta"
        ),
        F.expr("CAST(o_orderkey * o_custkey AS DECIMAL(25,7))").alias(
            "d_big"
        ),
        F.expr(
            "CASE WHEN o_orderkey % 7 != 0 "
            "THEN CAST(o_custkey * 0.0001 AS DECIMAL(20,10)) END"
        ).alias("d_null"),
        F.expr(
            "CASE WHEN o_orderkey % 11 != 0 "
            "THEN CAST(o_custkey AS DECIMAL(9,0)) END"
        ).alias("d_skip"),
    )
    pair = kv_hash_columns(
        d,
        ["d_price", "d_delta", "d_big", "d_null", "d_skip"],
        "o_orderkey",
        col_ids=[2, 3, 4, 5, 6],
        table_id=14,
        # d_null carries a DEFAULT -> its NULLs encode NilFlag;
        # d_skip follows the no-DEFAULT CanSkip drop
        default_null_ids=frozenset({2, 3, 4, 6}),
        indexes=[
            (1, ["d_big"], False),
            (2, ["d_null"], True),
            (3, ["d_delta", "o_orderkey"], False),
        ],
    )
    return (
        d.withColumn("_p", pair)
        .agg(
            F.bit_xor(F.col("_p.h")).alias("crc_xor"),
            F.sum(F.col("_p.n")).cast("long").alias("total_bytes"),
            (F.count(F.lit(1)) * 4).cast("long").alias("total_kvs"),
        )
    )


_EVENT_ENUM = ("click", "error", "purchase", "signup", "view")
_EVENT_SET = ("x", "y", "z")


def q_kv_crc64_events_kinds(spark, sf_dir):
    """ENUM / SET / BIT / JSON datum kinds under the KV-parity
    checksum, independently attested (round 8): events' event_type
    rides as ENUM (ordinal uvarint; uintFlag keys), a synthesized
    member-name string as SET (bitmask), user_id%256 as BIT, and the
    one-int-key props object through the REAL binary-JSON encoder,
    plus a one-STRING-key JSON object (TypeCodeString entry, LEB128
    length) — while the oracle re-derives the same bytes in pure SQL
    (CASE ordinal maps, the modulo masks directly, and the binary
    JSON via kv_codec_duckdb.json_int_object_hex /
    json_str_object_hex). Covers the exact kinds
    tests/various_types exercises in the reference."""
    from .functions.kv_codec import kv_hash_columns

    e = _t(spark, sf_dir, "events")
    mask = F.col("user_id") % 8
    d = e.select(
        "event_id",
        "user_id",
        "event_type",
        F.concat_ws(
            ",",
            F.when(mask.bitwiseAND(F.lit(1)) != 0, F.lit("x")),
            F.when(mask.bitwiseAND(F.lit(2)) != 0, F.lit("y")),
            F.when(mask.bitwiseAND(F.lit(4)) != 0, F.lit("z")),
        ).alias("e_set"),
        (F.col("user_id") % 256).alias("e_bit"),
        "props",
        F.concat(
            F.lit('{"s": "'), F.col("event_type"), F.lit('"}')
        ).alias("props_s"),
    )
    cols = ["user_id", "event_type", "e_set", "e_bit", "props",
            "props_s"]
    pair = kv_hash_columns(
        d,
        cols,
        "event_id",
        col_ids=[3, 4, 5, 6, 7, 8],
        table_id=13,
        indexes=[
            (1, ["event_type"], False),
            (2, ["e_set", "e_bit"], True),
        ],
        mysql_kinds={
            "event_type": ("enum", _EVENT_ENUM),
            "e_set": ("set", _EVENT_SET),
            "e_bit": ("bit",),
            "props": ("json",),
            "props_s": ("json",),
        },
    )
    return (
        d.withColumn("_p", pair)
        .agg(
            F.bit_xor(F.col("_p.h")).alias("crc_xor"),
            F.sum(F.col("_p.n")).cast("long").alias("total_bytes"),
            (F.count(F.lit(1)) * 3).cast("long").alias("total_kvs"),
        )
    )


def q_checksum_crc64_lineitem(spark, sf_dir):
    """C1 with the reference's exact crc64-ecma polynomial
    (verification/checksum.go:37; Arrow kernel). Hash-checked since
    round 7: the oracle computes the same CRC-64/XZ as a pure DuckDB
    SQL fold (hashing.crc64_duckdb). The subset filter is a
    deterministic modulo (the old limit(2000) had no defined row
    set, which is also why it could never have a value twin)."""
    return checksum_df(
        _t(spark, sf_dir, "lineitem").filter(
            (F.col("l_orderkey") % 37) == 3
        ),
        algo="crc64",
    )


def q_multimodal_features(spark, sf_dir):
    """Multimodal decode, HASH-CHECKED since round 8 (the last
    rows-only entry closed): per document, synthesize a REAL 24-bit
    BMP (closed-form dimensions + pixels, multimodal.
    synth_bmp_payloads), then decode it with the pure-stdlib BMP
    codec (bottom-up rows, BGR order, 4-byte padding all undone) and
    emit exact integer features. weighted_sum is order-sensitive, so
    a decoder that mis-handles orientation/channel order/padding
    hash-mismatches; the oracle recomputes the features in plain SQL
    from the pixel formula without touching bytes. Two Arrow-batched
    narrow stages (encode, decode) — no shuffle."""
    from .operators.multimodal import decode_image_stats, synth_bmp_payloads

    d = synth_bmp_payloads(
        _t(spark, sf_dir, "documents").select("doc_id"), id_col="doc_id"
    )
    return decode_image_stats(d, payload_col="payload", id_col="id")


def q_media_decode_png(spark, sf_dir):
    """Round 9: the multimodal path through a COMPRESSED image format
    — per document, synthesize a real zlib-compressed PNG (same
    closed-form pixel rule as the BMP twin, scanline filters cycling
    y%5 so every PNG filter type reconstructs at driver scale), then
    decode it with the pure-stdlib PNG codec (DEFLATE + full
    None/Sub/Up/Average/Paeth unfiltering) and emit the exact integer
    features. The oracle recomputes them from the pixel formula in
    plain SQL — a decoder bug anywhere in the filter reconstruction
    hash-mismatches. Two Arrow-batched narrow stages, no shuffle."""
    from .operators.multimodal import (
        decode_image_stats,
        decode_png_rgb,
        synth_png_payloads,
    )

    d = synth_png_payloads(
        _t(spark, sf_dir, "documents").select("doc_id"), id_col="doc_id"
    )
    return decode_image_stats(
        d, payload_col="payload", id_col="id", decoder=decode_png_rgb
    )


def q_media_header_meta(spark, sf_dir):
    """Round 9 (extended r10 with JPEG): metadata WITHOUT decode —
    parse real container headers entirely JVM-side (substring-on-
    binary -> hex -> conv expressions inside codegen, zero Python in
    the plan): doc_id % 3 routes to a real BMP / zlib PNG / baseline
    JPEG; the projection sniffs the magic bytes and reads the dims
    from BITMAPINFOHEADER (LE) / IHDR (BE) / the SOF0 segment (BE
    u16s past a byte-aligned FF C0 located by regexp over the hex
    projection). The oracle knows the dims from the synth rules — a
    byte-offset, endianness, or marker-location bug hash-mismatches.
    This is the 100 TB metadata pass: prune by mime/dims before any
    pixel bytes move."""
    from .operators.multimodal import (
        parse_image_header_meta,
        synth_bmp_payloads,
        synth_jpeg_payloads,
        synth_png_payloads,
    )

    ids = _t(spark, sf_dir, "documents").select("doc_id")
    bmp = synth_bmp_payloads(
        ids.filter(F.col("doc_id") % 3 == 0), id_col="doc_id"
    )
    png = synth_png_payloads(
        ids.filter(F.col("doc_id") % 3 == 1), id_col="doc_id"
    )
    jpg = synth_jpeg_payloads(
        ids.filter(F.col("doc_id") % 3 == 2), id_col="doc_id"
    )
    d = bmp.unionByName(png).unionByName(jpg)
    return parse_image_header_meta(d, payload_col="payload").select(
        "id", "mime", "width", "height"
    )


def q_media_frame_sample_avi(spark, sf_dir):
    """Round 9: REAL video frame sampling — per document, synthesize
    a multi-frame uncompressed AVI (RIFF container, DIB '00db'
    frames; closed-form geometry n_frames = id%5+1, w = id%6+2,
    h = id%4+2, byte k = (id+k)%256), decode it with the pure-stdlib
    AVI codec (chunk-tree walk, bottom-up BGR DIB rows undone), keep
    every 2nd frame up to 4, and emit exact per-frame integer
    features. The video stub is retired: the oracle recomputes the
    kept frames' features from the pixel rule in plain SQL. One
    input row fans out to <= 4 rows inside the Arrow batch."""
    from .operators.multimodal import frame_sample, synth_avi_payloads

    d = synth_avi_payloads(
        _t(spark, sf_dir, "documents").select("doc_id"), id_col="doc_id"
    )
    return frame_sample(
        d, payload_col="payload", id_col="id", every_n=2, max_frames=4
    )


def q_media_frame_sample_mjpeg(spark, sf_dir):
    """Round 11 (directive #3): frame sampling through COMPRESSED
    video — per document, synthesize a real Motion-JPEG AVI (RIFF
    'MJPG' stream; every '00dc' chunk an independent baseline JPEG
    with a per-doc DRI of id%3 MCUs; frame geometry nf = id%5+1,
    w = 8*(id%3+1), h = 8*(id%2+1); 8x8 block (by,bx) of frame f
    CONSTANT at (id + 11f + 3by + bx) % 256), then decode it for
    real — chunk walk + one full JPEG entropy decode (DHT Huffman,
    dequant, IDCT, RSTn resync) per frame — keep every 2nd frame up
    to 4, and emit exact per-frame integer features. The bit-exact
    constant-block contract keeps the oracle closed-form; a bug in
    the container walk, any JPEG stage, restart handling or frame
    slicing hash-mismatches. Retires the r9 'no stdlib codec exists
    for compressed video' scope note."""
    from .operators.multimodal import (
        decode_avi_mjpeg,
        frame_sample,
        synth_mjpeg_avi_payloads,
    )

    d = synth_mjpeg_avi_payloads(
        _t(spark, sf_dir, "documents").select("doc_id"), id_col="doc_id"
    )
    return frame_sample(
        d, payload_col="payload", id_col="id", every_n=2, max_frames=4,
        decoder=decode_avi_mjpeg,
    )


def q_media_resize_png(spark, sf_dir):
    """Round 9: real decode -> mean-pool resize over PNG payloads (no
    stub left on the image path): pool each synthesized PNG to <= 2x2
    cells (factor max(h//2,1) x max(w//2,1), remainder cropped,
    floor-mean per cell) and emit exact pooled-byte features; the
    oracle replays the identical pool arithmetic in SQL from the
    closed-form pixel rule. Narrow mapInPandas stages only."""
    from .operators.multimodal import resize_image, synth_png_payloads

    d = synth_png_payloads(
        _t(spark, sf_dir, "documents").select("doc_id"), id_col="doc_id"
    )
    return resize_image(d, payload_col="payload", id_col="id", target=(2, 2))


def q_media_decode_jpeg(spark, sf_dir):
    """Round 10: the multimodal path through the DCT-compressed
    format that dominates web crawls — per document, synthesize a
    real baseline JPEG (jpeg_codec.py: SOF0 markers, Annex-K-shaped
    Huffman tables in DHT, FDCT + all-ones quantization) whose 8x8
    blocks are each constant, so the lossy pipeline is bit-exact
    (constant block => DC-only coefficients, exactly representable),
    then decode it for real (marker walk, DHT Huffman decode with DC
    difference coding across up to 45 blocks, dequant, vectorized
    IDCT, edge crop) and emit exact integer features. The oracle
    recomputes them from the closed-form block rule in plain SQL —
    a bug anywhere in the entropy decode, zigzag, IDCT or cropping
    hash-mismatches. AC / ZRL / category paths are pinned by exact
    coefficient-roundtrip property tests (tests/test_jpeg_codec.py).
    Two Arrow-batched narrow stages, no shuffle."""
    from .operators.jpeg_codec import decode_jpeg
    from .operators.multimodal import decode_image_stats, synth_jpeg_payloads

    d = synth_jpeg_payloads(
        _t(spark, sf_dir, "documents").select("doc_id"), id_col="doc_id"
    )
    return decode_image_stats(
        d, payload_col="payload", id_col="id", decoder=decode_jpeg
    )


def q_media_decode_jpeg_progressive(spark, sf_dir):
    """Round 11: PROGRESSIVE JPEG (SOF2) decode — the second half of
    the r10 restart/progressive gap. Per document, synthesize a real
    multi-scan Annex-G JPEG (DC first + refinement scans via the
    arithmetic point transform, two spectral AC bands each with
    first + correction-bit refinement scans, EOBRUN codes, per-doc
    DRI of id%3 blocks) over the SAME constant-block pixel rule as
    media_decode_jpeg, then decode it for real: the decoder
    accumulates coefficients across scans and runs the shared
    dequant/IDCT tail. Bit-exact by the constant-block contract, so
    the identical closed-form SQL oracle applies — a bug in scan
    scheduling, successive-approximation arithmetic, EOBRUN or
    restart resync hash-mismatches. Two Arrow-batched narrow stages,
    no shuffle."""
    from .operators.jpeg_codec import decode_jpeg
    from .operators.multimodal import (
        decode_image_stats,
        synth_jpeg_progressive_payloads,
    )

    d = synth_jpeg_progressive_payloads(
        _t(spark, sf_dir, "documents").select("doc_id"), id_col="doc_id"
    )
    return decode_image_stats(
        d, payload_col="payload", id_col="id", decoder=decode_jpeg
    )


def q_media_resize_jpeg(spark, sf_dir):
    """Round 10: real JPEG decode -> mean-pool resize (the resize
    rides the same baseline decoder as media_decode_jpeg): pool each
    synthesized JPEG to <= 2x2 cells (factor max(h//2,1) x
    max(w//2,1), remainder cropped, floor-mean per cell) and emit
    exact pooled-byte features; the oracle replays the identical pool
    arithmetic in SQL from the closed-form block rule. Narrow
    mapInPandas stages only."""
    from .operators.jpeg_codec import decode_jpeg
    from .operators.multimodal import resize_image, synth_jpeg_payloads

    d = synth_jpeg_payloads(
        _t(spark, sf_dir, "documents").select("doc_id"), id_col="doc_id"
    )
    return resize_image(
        d, payload_col="payload", id_col="id", target=(2, 2),
        decoder=decode_jpeg,
    )


def q_minhash_signatures(spark, sf_dir):
    """Per-document MinHash signature (oracle-checked).

    Emitted as a comma-joined string: array-valued result columns
    stringify differently across engine->pandas bridges (numpy
    ndarray vs list), which breaks order-insensitive value hashing
    even when the numbers are identical."""
    d = _t(spark, sf_dir, "documents")
    sig = D.minhash_signature(F.col("text"), num_hashes=8)
    return d.select(
        "doc_id",
        F.concat_ws(
            ",", F.transform(sig, lambda x: x.cast("string"))
        ).alias("sig"),
    )


def q_uint64_decimal(spark, sf_dir):
    """uint64 fidelity (T1/T3): values near 2^64 survive via
    DecimalType(20,0) (tests/various_types precise_types)."""
    from .operators.cast import mysql_cast
    from .sources.schema_reader import ColumnSpec

    spec = ColumnSpec("v", "bigint", T.DecimalType(20, 0), unsigned=True)
    o = _t(spark, sf_dir, "orders")
    big = F.concat(F.lit("1844674407370955161"), (F.col("o_orderkey") % 10).cast("string"))
    return o.select(
        "o_orderkey",
        mysql_cast(big, spec).cast("string").alias("u64"),
    )


def q_sessionize_events(spark, sf_dir):
    """Session windows (30-min gap) per user — the batch twin of the
    streaming sessionizer, oracle-checked via lag/cumsum SQL."""
    from .streaming.events import sessionize

    s = sessionize(_t(spark, sf_dir, "events"), gap="30 minutes")
    return s.select(
        "user_id",
        F.col("session_start"),
        "n_events",
        F.col("sum_value"),
    )


def q_salted_agg_lineitem(spark, sf_dir):
    """Skew-safe two-phase salted aggregation — results identical to
    the plain aggregate (the oracle is unsalted SQL)."""
    from .operators.skew import salted_agg

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
    )
    out = salted_agg(
        li,
        ["l_returnflag"],
        {"n": ("count", "qty"), "sum_qty": ("sum", "qty"),
         "max_qty": ("max", "qty")},
        salt_buckets=16,
    )
    return out.select(
        "l_returnflag",
        "n",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("max_qty").cast("double").alias("max_qty"),
    )


def q_chunk_plan(spark, sf_dir):
    """S6/S7 chunk planner semantics as a query: deterministic
    row-id range reservation per input unit (here: per orders batch
    of 100 keys), PrevRowIDMax chaining (region.go:146-170)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(F.expr("o_orderkey DIV 100").alias("chunk_id"))
        .groupBy("chunk_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn(
            "row_id_base",
            F.sum("n_rows").over(
                Window.orderBy("chunk_id").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
        )
        .select(
            "chunk_id",
            "n_rows",
            F.coalesce(F.col("row_id_base"), F.lit(0)).alias("row_id_base"),
        )
    )


# ---------------------------------------------------------------------------
# analytics widening (§2.7: pivot, cube, sliding frames, ntile,
# ordered string agg — "free" in Spark, oracle-checked for parity)
# ---------------------------------------------------------------------------


def q_pivot_events(spark, sf_dir):
    """Pivot: one column per event_type with per-user counts (explicit
    pivot values keep the plan a single pass, no value-discovery job)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "view", "error", "purchase"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "view", "error", "purchase"])
    )


def q_cube_lineitem(spark, sf_dir):
    """CUBE over (returnflag, linestatus): all grouping-set combos in
    one shuffle (the expand operator), GROUPING() id disambiguates
    NULL group keys from NULL data."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
        F.grouping_id().cast("int").alias("gid"),
    )


def q_moving_avg_events(spark, sf_dir):
    """Sliding ROWS frame: 7-row centered moving average of event
    values per user (narrow after one shuffle by user)."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, 3)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(
            F.avg(F.col("value").cast("decimal(18,6)")).over(w), 4
        )
        .cast("double")
        .alias("mavg"),
    )


def q_ntile_customers(spark, sf_dir):
    """NTILE(4) account-balance quartiles per nation."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


def q_custdist_orders(spark, sf_dir):
    """TPC-H Q13 pattern: order-count distribution over customers via
    LEFT OUTER join — customers with zero orders must appear (the
    outer side survives the aggregate)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q_promo_share_lineitem(spark, sf_dir):
    """TPC-H Q14 pattern: conditional aggregation over a join —
    share of revenue from ECONOMY-type parts (decimal-exact, the
    part side broadcast)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,4)"))
    )
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    # Each decimal sum is cast to double BEFORE the division: Spark's
    # allowPrecisionLoss decimal division truncates the quotient to
    # scale 6 (15.5505 vs DuckDB's 15.550491 at sf0.01), while an
    # IEEE-double quotient of two exactly-summed decimals agrees with
    # DuckDB bit-for-bit after round(..., 6).
    econ = F.sum(
        F.when(F.col("p_type") == "ECONOMY", rev).otherwise(
            F.lit(0).cast("decimal(38,8)")
        )
    ).cast("double")
    total = F.sum(rev).cast("double")
    return j.agg(
        F.round(econ / total * 100.0, 6).alias("promo_share_pct")
    )


def q_tfidf_terms(spark, sf_dir):
    """TF-IDF: top-15 (doc, term) weights — tf * ln(N/df). The corpus
    size joins in as a broadcast scalar frame (no driver collect);
    weight rounded to 4 so libm ln differences cannot flip the hash."""
    d = _t(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
    ).filter(F.length("term") > 3)
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    n = d.agg(F.count(F.lit(1)).alias("nn"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log(F.col("nn").cast("double") / F.col("dfreq")),
                4,
            ).alias("tfidf"),
        )
        .orderBy(F.col("tfidf").desc(), "doc_id", "term")
        .limit(15)
    )


def q_string_agg_nations(spark, sf_dir):
    """Ordered string aggregation: nation names per region,
    comma-joined in collation-stable (binary) order."""
    n = _t(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(
            ",", F.array_sort(F.collect_list("n_name"))
        ).alias("nations")
    )


# ---------------------------------------------------------------------------
# corpus-curation operators (M7: training-data pipeline)
# ---------------------------------------------------------------------------


def q_dedup_cluster(spark, sf_dir):
    """Connected components over the MinHash near-dup pair graph:
    transitive chains (A~B, B~C) collapse to one cluster keyed by the
    min doc_id (operators/curation.py — min-label propagation on the
    candidate-pair graph, which is tiny vs the corpus)."""
    pairs = D.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.2
    )
    return CU.connected_components(pairs)


def q_dedup_apply_cluster(spark, sf_dir):
    """Cluster-correct near-dedup application: elect ONE survivor per
    connected component (the min doc_id) and drop every other member
    — the policy that stays correct on transitive chains, where the
    greedy pairwise drop (dedup_apply_minhash) over-keeps. Returns
    surviving doc ids."""
    d = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(d, threshold=0.2)
    clusters = CU.connected_components(pairs)
    losers = clusters.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select("doc_id")
    return d.join(losers, "doc_id", "left_anti").select("doc_id")


def q_decontaminate(spark, sf_dir):
    """Test-set decontamination: corpus docs sharing any 5-word-gram
    with the held-out benchmark slice (doc_id % 97 = 0). Benchmark
    gram set is broadcast; corpus text never shuffles."""
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return CU.decontaminate(corpus, bench, k=5)


def q_sample_stratified(spark, sf_dir):
    """Deterministic stratified sample: exactly 25 docs per lang in
    hash-of-id pseudo-random order — reproducible across engines,
    unlike rand()-based sampling."""
    d = _t(spark, sf_dir, "documents")
    return CU.stratified_sample(d, ["lang"], 25).select(
        "doc_id", "lang", "source"
    )


def q_sample_stratified_hash(spark, sf_dir):
    """Hash-threshold stratified sample (the scale path for huge
    strata): ~25 docs per lang via a per-row deterministic hash-rate
    compare — one tiny count agg broadcast back, zero corpus shuffle,
    no single-reducer stratum funnel."""
    d = _t(spark, sf_dir, "documents")
    return CU.stratified_sample_hash(d, ["lang"], 25).select(
        "doc_id", "lang", "source"
    )


def q_quality_filter(spark, sf_dir):
    """Quality filter with first-failing-rule reason column
    (length band, punct ratio, stopword floor, mean word length)."""
    return CU.quality_filter(_t(spark, sf_dir, "documents"))


def q_pack_sequences(spark, sf_dir):
    """Sequence packing: running token prefix-sum within each source
    shard assigns docs to 512-token training sequences (parallel
    across shards)."""
    return CU.pack_sequences(_t(spark, sf_dir, "documents"), budget=512)


def q_quantize_embeddings(spark, sf_dir):
    """Int8 scalar quantization of the embedding column with
    per-vector scale (round-half-up, engine-exact arithmetic)."""
    return CU.quantize_embeddings(_t(spark, sf_dir, "embeddings"))


def q_curation_funnel(spark, sf_dir):
    """End-to-end curation funnel: raw corpus -> quality filter ->
    exact dedup -> decontamination, reporting rows surviving each
    stage. Composes the individual operators (each independently
    oracle-checked) the way a real training-data pipeline chains
    them; every stage is a semi/anti join on doc_id, so the corpus
    text is only scanned where a stage needs it."""
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    s1 = corpus.join(
        CU.quality_filter(corpus).filter(F.col("keep")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    survivors = D.exact_dedup_groups(s1).select(
        F.col("keep_id").alias("doc_id")
    )
    s2 = s1.join(survivors, "doc_id", "left_semi")
    contaminated = CU.decontaminate(s2, bench, k=5).select("doc_id")
    s3 = s2.join(contaminated, "doc_id", "left_anti")

    def _n(df, stage):
        return df.agg(
            F.lit(stage).alias("stage"), F.count(F.lit(1)).alias("n")
        )

    return (
        _n(corpus, "0_raw")
        .unionByName(_n(s1, "1_quality"))
        .unionByName(_n(s2, "2_dedup"))
        .unionByName(_n(s3, "3_decontaminated"))
    )


def q_salted_join_orders(spark, sf_dir):
    """Skew-safe salted equi-join (left keys salted, right side
    replicated across salt values) — results identical to the plain
    join, which is the oracle (operators/skew.py)."""
    from .operators.skew import salted_join

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_totalprice").cast("decimal(18,2)").alias("p")
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    j = salted_join(o, c, "o_custkey", salt_buckets=8)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p").cast("double").alias("sum_price"),
    )


def q_media_metadata(spark, sf_dir):
    """Multimodal metadata derivation (the JVM-side, prunable half of
    the media pipeline): typed (mime, width, height, n_bytes) struct
    from a binary payload — fully SQL-expressible, so unlike the
    stub-codec decode path this half is oracle-checked."""
    from .operators.multimodal import attach_media_metadata

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    out = attach_media_metadata(d)
    return out.select(
        "doc_id",
        F.col("media_meta.mime").alias("mime"),
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
    )


def q_repetition_stats(spark, sf_dir):
    """Intra-document repetition: duplicated-sentence ratio (split on
    '.'), the standard boilerplate/repetition cleaning signal. Counts
    only — set-distinct needs no order guarantee, so the SQL twin is
    engine-exact. Narrow per-row projection."""
    c = F.col("text")
    sents = F.filter(
        F.transform(F.split(c, r"\."), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    n = F.size(sents)
    nd = F.size(F.array_distinct(sents))
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        n.alias("n_sents"),
        nd.alias("n_distinct_sents"),
        F.when(n == 0, F.lit(0.0))
        .otherwise(F.round(F.lit(1.0) - nd / n, 4))
        .alias("rep_ratio"),
    )


def q_token_histogram(spark, sf_dir):
    """Token-count distribution: 50-token buckets with doc count and
    token mass per bucket (map-side combined aggregate)."""
    nt = X.token_count(F.col("text")).cast("long")
    return (
        _t(spark, sf_dir, "documents")
        .select((F.floor(nt / 50) * 50).cast("long").alias("bucket"), nt.alias("_nt"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").alias("total_tokens"),
        )
    )


def q_chunk_documents(spark, sf_dir):
    """Context-window chunking: 200-char chunks with 50-char overlap
    per document (explode of a per-row sequence — narrow, no
    shuffle). The embedding/training preprocessing step."""
    return CU.chunk_documents(
        _t(spark, sf_dir, "documents"), size=200, overlap=50
    )


# deterministic synthetic PII appended per doc (the corpus itself is
# clean word-salad): every doc gains an email; every 3rd a phone;
# every 5th an SSN-shaped id. Injection is mirrored verbatim in the
# oracle so the scrubber is exercised on real matches.
def _pii_inject_spark(df):
    did = F.col("doc_id")
    return df.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            did.cast("string"),
            F.lit("@example.com ok."),
            F.when(did % 3 == 0, F.lit(" Call 555-123-4567.")).otherwise(
                F.lit("")
            ),
            F.when(did % 5 == 0, F.lit(" ID 123-45-6789.")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )


_PII_INJECT_SQL = """(
  SELECT doc_id,
         text || ' Contact user' || doc_id::VARCHAR || '@example.com ok.'
           || CASE WHEN doc_id % 3 = 0 THEN ' Call 555-123-4567.'
                   ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN ' ID 123-45-6789.'
                   ELSE '' END AS text
  FROM documents
) AS pii_docs"""


def q_pii_scrub(spark, sf_dir):
    """PII redaction: emails/phones/SSN-shaped ids replaced with
    typed tokens, per-doc match counts reported. All-JVM regex
    projection (no Python, no shuffle)."""
    return CU.pii_scrub(_pii_inject_spark(_t(spark, sf_dir, "documents")))


def q_provenance_filter(spark, sf_dir):
    """Domain/source blocklist + language allowlist filtering with a
    first-failing-rule reason — the web-corpus provenance step.
    Literal IN-filters push into the scan."""
    return CU.provenance_filter(
        _t(spark, sf_dir, "documents"),
        blocked_sources=["src3", "src7", "src13"],
        allowed_langs=["en", "es", "de"],
    )


_MIX_WEIGHTS = {"src0": 3.0, "src1": 1.0, "src5": 2.0}


def q_mixture_sample(spark, sf_dir):
    """Training-data mixing: deterministic hash-rate sampling of each
    source toward target mixture weights (3:1:2 over three sources,
    60-doc target) — rates derive from one tiny count-by-source
    aggregate broadcast back to a narrow corpus scan. A source
    smaller than its share contributes everything (rate capped 1.0)."""
    return CU.mixture_sample(
        _t(spark, sf_dir, "documents"), _MIX_WEIGHTS, target_total=60
    )


def q_lm_score(spark, sf_dir):
    """Unigram-LM quality score (the perplexity-filter shape): mean
    negative log-likelihood per doc under add-one-smoothed corpus
    unigram frequencies; vocab-sized count table broadcast to the
    exploded corpus."""
    return X.unigram_lm_score(_t(spark, sf_dir, "documents"))


def q_dedup_incremental(spark, sf_dir):
    """Incremental dedup: a simulated re-crawl batch (every 10th doc
    re-arrives verbatim under a new id; every doc ending in 5
    re-arrives with updated text) deduped against the existing
    corpus — verbatim re-crawls are dropped with dup_of pointing at
    the original, updated content survives. One hash-agg + one join
    on uniform 60-bit keys; at scale the corpus's hash index is
    persisted instead of rescanned (operators/dedup.py)."""
    did = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl_same = docs.filter(did % 10 == 0).select(
        (did + 100000).alias("doc_id"), "text"
    )
    recrawl_new = docs.filter(did % 10 == 5).select(
        (did + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" updated")).alias("text"),
    )
    corpus = docs.unionByName(recrawl_same).unionByName(recrawl_new)
    return D.incremental_dedup(corpus, split_id=100000)


_INCR_CORPUS_SQL = """(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents
  WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' updated' AS text
  FROM documents WHERE doc_id % 10 = 5
) AS incr_corpus"""


def q_order_priority_count(spark, sf_dir):
    """TPC-H Q4 pattern: per-priority count of orders in a window
    that have at least one late-shipped lineitem (EXISTS -> semi
    join; the orders side stays narrow, lineitem is the probe)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1995-04-01")
    )
    late = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o2 = o.join(
        late.filter(F.col("l_shipdate") > "1995-02-01"),
        o["o_orderkey"] == late["l_orderkey"],
        "left_semi",
    )
    return (
        o2.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_large_orders(spark, sf_dir):
    """TPC-H Q18 pattern: orders whose total lineitem quantity
    exceeds a threshold (HAVING over a pre-aggregation), joined back
    to customer — the agg runs BEFORE the join so only qualifying
    orderkeys reach the join."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_q")
        )
        .filter(F.col("_q") > 150)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice"),
            F.col("_q").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


def q_idle_customers(spark, sf_dir):
    """TPC-H Q22 pattern: above-average-balance customers with no
    RECENT orders (churn candidates) — scalar-subquery threshold
    (broadcast single row) + anti join on a date-filtered orders
    scan (the filter pushes down), grouped by segment."""
    c = _t(spark, sf_dir, "customer")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg(F.col("c_acctbal").cast("decimal(18,2)")).alias("a"))
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    rich = c.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal").cast("decimal(18,2)") > F.col("a")
    )
    idle = rich.join(
        o, rich["c_custkey"] == o["o_custkey"], "left_anti"
    )
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


def q_part_supplier_variety(spark, sf_dir):
    """TPC-H Q16 pattern: distinct suppliers per (brand, size) for
    parts outside an excluded brand / type-prefix, supplier linkage
    via lineitem (no partsupp table in this dataset). LIKE exclusion
    + partial-agg distinct count."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").startswith("SMALL"))
        & (F.col("p_size").isin(1, 4, 7))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        p.join(li, p["p_partkey"] == li["l_partkey"])
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_size"
        )
    )


def q_top_supplier_revenue(spark, sf_dir):
    """TPC-H Q15 pattern: per-supplier revenue in a quarter, keep the
    supplier(s) matching the maximum (scalar-subquery max against the
    derived view — one small self-comparison, no window over the full
    fact table)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            (
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("decimal(18,4)")
        ).alias("_rev")
    )
    mx = rev.agg(F.max("_rev").alias("_mx"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("_rev") == F.col("_mx"))
        .join(s, rev["l_suppkey"] == s["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.col("_rev").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q_cheapest_shipper(spark, sf_dir):
    """TPC-H Q2 pattern: for each part (of a filtered family), the
    supplier(s) with the minimum account balance among those who
    shipped it — per-group min computed once, joined back (the
    correlated-subquery shape, decorrelated)."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 5)
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    s = _t(spark, sf_dir, "supplier")
    shipped = (
        p.join(li, p["p_partkey"] == li["l_partkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal")
        .distinct()
    )
    mins = shipped.groupBy(F.col("p_partkey").alias("_pk")).agg(
        F.min(F.col("s_acctbal").cast("decimal(18,2)")).alias("_min_bal")
    )
    return (
        shipped.join(mins, shipped["p_partkey"] == mins["_pk"])
        .filter(F.col("s_acctbal").cast("decimal(18,2)") == F.col("_min_bal"))
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name",
            F.col("s_acctbal"),
        )
        .orderBy("p_partkey", "s_suppkey")
    )


def _revenue():
    """Decimal-exact l_extendedprice*(1-l_discount) term (engine-portable)."""
    return (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (
            F.lit(1).cast("decimal(18,2)")
            - F.col("l_discount").cast("decimal(18,2)")
        )
    ).cast("decimal(18,4)")


def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 pattern: revenue by nation where the customer and the
    supplier share a nation, restricted to one region and a one-year
    order window. region/nation broadcast; the c_nationkey ==
    s_nationkey equality rides the same hash join as the supplier
    key, so no extra shuffle."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = (
        _t(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .select("o_orderkey", "o_custkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    j = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .join(
            s,
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
    )
    return (
        j.groupBy("n_name")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


def q_volume_shipping(spark, sf_dir):
    """TPC-H Q7 pattern: shipping volume between two nations by year
    (either direction), supplier nation x customer nation. The
    nation dims are pre-filtered to the two nations of interest and
    the supplier-side one joins BEFORE the big orders/customer joins
    — the broadcast hash join doubles as a selective filter, so
    ~(2/N)·|lineitem| rows reach the orderkey shuffle instead of all
    of them. The direction disjunction (which can't push below
    either single side) runs last on the tiny survivor set."""
    pair = ("NATION_1", "NATION_2")
    n1 = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*pair))
        .select(
            F.col("n_nationkey").alias("_sn_key"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    n2 = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*pair))
        .select(
            F.col("n_nationkey").alias("_cn_key"),
            F.col("n_name").alias("cust_nation"),
        )
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    j = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_sn_key"))
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_cn_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_market_share(spark, sf_dir):
    """TPC-H Q8 pattern: per-year market share of one supplier nation
    within one customer region for one part type — conditional
    aggregation (share = sum(case)/sum(all)); the division runs in
    IEEE double on exact decimal sums so both engines agree."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n_cust = (
        _t(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("_cn_key"))
    )
    n_supp = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    j = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("_cn_key"))
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("_sn_key"))
    )
    vol = _revenue()
    agg = j.groupBy(
        F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                F.lit(0).cast("decimal(18,4)")
            )
        ).alias("_nat"),
        F.sum(vol).alias("_all"),
    )
    return agg.select(
        "o_year",
        F.round(
            F.col("_nat").cast("double") / F.col("_all").cast("double"), 6
        ).alias("mkt_share"),
    ).orderBy("o_year")


def q_profit_by_nation(spark, sf_dir):
    """TPC-H Q9 pattern: profit by supplier nation and year for a
    part-name family. Adapted (no partsupp in this dataset): cost =
    p_retailprice * l_quantity. All arithmetic decimal-exact."""
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_name").contains("gear")
    ).select("p_partkey", "p_retailprice")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cost = (
        F.col("p_retailprice").cast("decimal(18,2)")
        * F.col("l_quantity").cast("decimal(18,2)")
    ).cast("decimal(18,4)")
    j = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(_revenue() - cost).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


def q_returned_items(spark, sf_dir):
    """TPC-H Q10 pattern: top-20 customers by revenue lost to
    returned items in a quarter, with their nation. Agg before the
    final ordering; nation broadcast."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


def q_important_parts(spark, sf_dir):
    """TPC-H Q11 pattern: parts whose traded value exceeds a fraction
    of the global total — group-by with a scalar-subquery threshold
    (single-row broadcast), adapted to lineitem value (no partsupp).
    The global total reuses the same partial-agg pass shape."""
    li = _t(spark, sf_dir, "lineitem")
    val = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * F.col("l_quantity").cast("decimal(18,2)")
    ).cast("decimal(18,4)")
    per_part = li.groupBy("l_partkey").agg(F.sum(val).alias("_value"))
    total = per_part.agg(F.sum("_value").alias("_total"))
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("_value").cast("double")
            > F.col("_total").cast("double") * 0.001
        )
        .select(
            "l_partkey", F.col("_value").cast("double").alias("part_value")
        )
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


def q_priority_lines(spark, sf_dir):
    """TPC-H Q12 pattern: per line-status counts of high- vs
    low-priority orders shipped in a window (CASE-sum conditional
    aggregation; adapted: l_linestatus stands in for l_shipmode)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def q_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 pattern: yearly revenue from orders below 20% of the
    part's average quantity (correlated avg decorrelated into a
    per-part agg + join). The threshold divides an exact decimal sum
    by an exact count in IEEE double, so both engines agree."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#5")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    li_p = li.join(F.broadcast(p.select("p_partkey")),
                   li["l_partkey"] == F.col("p_partkey"))
    stats = li_p.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_sq"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    j = li_p.join(stats, li_p["l_partkey"] == stats["_pk"]).filter(
        F.col("l_quantity")
        < 0.2 * F.col("_sq").cast("double") / F.col("_cnt")
    )
    return j.agg(
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            / 7.0,
            2,
        ).alias("avg_yearly")
    )


def q_bracket_revenue(spark, sf_dir):
    """TPC-H Q19 pattern: revenue under an OR-of-ANDs
    brand/size/quantity bracket predicate — a single scan with the
    disjunction evaluated post-join (part side broadcast)."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    bracket = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(bracket).agg(
        F.sum(_revenue()).cast("double").alias("revenue")
    )


def q_excess_shippers(spark, sf_dir):
    """TPC-H Q20 pattern: suppliers who shipped more than a threshold
    quantity of any part in a filtered family during one year —
    the chained-semi-join shape (supplier IN (... WHERE part IN (...)
    AND qty > correlated sum)), decorrelated into one per-(supplier,
    part) aggregate + two semi joins. Adapted: no partsupp, the
    availqty comparison becomes a shipped-quantity threshold."""
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    heavy = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_q")
        )
        .filter(F.col("_q") > 50)
        .select("l_suppkey")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        s.join(heavy, s["s_suppkey"] == heavy["l_suppkey"], "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_name")
    )


def q_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 pattern: suppliers who were the ONLY late supplier
    on a multi-supplier finalized order (EXISTS + NOT EXISTS,
    decorrelated into one per-order aggregate + join — one shuffle
    on orderkey instead of two correlated probes). Late = shipped
    more than 90 days after the order date. Counted per distinct
    (supplier, order) pair."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "_late",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ).cast("int"),
        )
        .select("l_orderkey", "l_suppkey", "_late")
    )
    pairs = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("_late").alias("_supp_late")
    )
    per_order = pairs.groupBy(F.col("l_orderkey").alias("_ok")).agg(
        F.count(F.lit(1)).alias("_nsupp"),
        F.sum("_supp_late").alias("_nlate"),
    )
    culprits = (
        pairs.join(per_order, pairs["l_orderkey"] == per_order["_ok"])
        .filter(
            (F.col("_supp_late") == 1)
            & (F.col("_nsupp") >= 2)
            & (F.col("_nlate") == 1)
        )
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        culprits.join(s, culprits["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


def q_bloom_prune_orders(spark, sf_dir):
    """Bloom-filter semi-join prune (sketches.py bloom_*): every
    orders row probed against the filter built from negative-balance
    customers. m=4096 bits / k=3 positions from the portable seeded
    md5-prefix hash, so Spark and the DuckDB oracle compute IDENTICAL
    words and identical verdicts — false positives included. The
    probe side is zero-shuffle: the words collapse to O(m/64) literal
    longs, the fact scan stays narrow, and at 100 TB only maybe-rows
    would reach an exact join."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0)
    orders = _t(spark, sf_dir, "orders")
    return SK.bloom_probe(
        orders.select("o_orderkey", "o_custkey"),
        "o_custkey",
        cust,
        "c_custkey",
        m=4096,
        k=3,
    )


def q_bm25_topdocs(spark, sf_dir):
    """Okapi BM25 top-10 documents for a fixed 3-term query
    (text.py::bm25_scores) — retrieval-based quality/decontamination
    triage. The exploded token stream is pruned by the literal IN
    before any shuffle; df/doc-length stats join broadcast; scores
    round to 6 BEFORE the top-k cut so the selected set is
    engine-exact (ties break by doc_id, not libm ulps)."""
    return X.bm25_scores(
        _t(spark, sf_dir, "documents"),
        ["hash", "join", "vector"],
        k=10,
    )


def q_kmeans_embeddings(spark, sf_dir):
    """Deterministic Lloyd k-means over the embeddings table
    (similarity.py::kmeans_assign) — the SemDeDup-style semantic
    grouping primitive. k=4, 2 assign->update rounds + final assign;
    lowest-id init, first-min tie-break, centroids rounded to 6
    before re-use so the unrolled DuckDB CTE chain is engine-exact."""
    return S.kmeans_assign(
        _t(spark, sf_dir, "embeddings"), k=4, iters=2
    )


def q_dedup_apply_semantic(spark, sf_dir):
    """SemDeDup end-to-end (similarity.py::semantic_dedup): k-means
    cells bound the quadratic step, lower-id cosine>=0.95 neighbors
    mark duplicates. The synthetic embeddings have no natural
    near-dups (max pairwise cosine 0.51), so the input is wrapped
    with exact copies at vec_id+10000 — every copy must be dropped
    (cosine 1.0 to its original, same cell by determinism) and every
    original kept; the DuckDB twin runs the identical wrapped
    relation."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    wrapped = e.union(
        e.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    )
    return S.semantic_dedup(wrapped, k=4, iters=2, threshold=0.95)


def q_pagerank_events(spark, sf_dir):
    """PageRank (curation.py::pagerank) over the bipartite
    user->prop-key graph derived from events (src=user_id,
    dst=1000+k) — the authority-weighting primitive CommonCrawl-style
    curation uses for source quality. 3 power iterations, round-9
    republish per iteration makes the unrolled DuckDB twin exact."""
    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").alias("src"),
        (
            F.nullif(
                F.regexp_extract(F.col("props"), r"([0-9]+)", 1), F.lit("")
            ).cast("long")
            + 1000
        ).alias("dst"),
    ).filter(F.col("dst").isNotNull())  # digitless props: nullif keeps
    # the '' -> NULL -> dropped row semantics under ANSI mode (a bare
    # cast('' as long) throws there), matching the oracle's nullif
    return CU.pagerank(edges, iters=3)


def q_weighted_sample_docs(spark, sf_dir):
    """Quality-weighted corpus draw (curation.py::weighted_sample):
    Efraimidis-Spirakis A-Res with the draw derandomized to the
    portable hash — 25 documents sampled proportional to n_chars.
    Engine-exact: rank gaps dwarf libm ulps, exact ties break by id."""
    return CU.weighted_sample(
        _t(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        "n_chars",
        25,
    )


def q_mixture_temperature(spark, sf_dir):
    """Temperature mixing (curation.py::mixture_temperature, T=2):
    source weights derived as n^(1/T)/sum — low-resource sources
    boosted without per-source numbers; deterministic hash draw."""
    return CU.mixture_temperature(
        _t(spark, sf_dir, "documents").select("doc_id", "source"),
        temperature=2.0,
        target_total=200,
    )


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (dedup.py::simhash_dup_pairs, Manku et
    al. 2007): combination-banded pigeonhole join, hamming <= 1 over
    60-bit signatures (2 blocks of 30 bits — the guarantee needs
    max_hamming < n_bands; the library default is 60/6/hamming-3 =
    twenty 30-bit combination keys)."""
    return D.simhash_dup_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=1, n_bands=2
    )


def q_dedup_apply_simhash(spark, sf_dir):
    """Apply SimHash near-dedup cluster-correctly: connected
    components over the hamming<=1 pair graph, elect the min doc_id
    per component, drop every other member (transitive chains
    A~B~C collapse to one survivor)."""
    d = _t(spark, sf_dir, "documents")
    pairs = D.simhash_dup_pairs(d, max_hamming=1, n_bands=2)
    clusters = CU.connected_components(pairs)
    losers = clusters.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select("doc_id")
    return d.join(losers, "doc_id", "left_anti").select("doc_id")


def q_bigram_lm_score(spark, sf_dir):
    """Bigram LM perplexity filter (text.py::bigram_lm_score): mean
    NLL of token bigrams under add-one-smoothed corpus counts;
    9-decimal rounded terms summed in DECIMAL for engine-exact
    aggregation."""
    return X.bigram_lm_score(_t(spark, sf_dir, "documents"))


def q_strip_boilerplate_docs(spark, sf_dir):
    """Corpus-global boilerplate-line removal (curation.py::
    strip_boilerplate_lines, RefinedWeb-style): lines repeating in
    > max_df distinct docs are dropped everywhere, surviving lines
    repack in original order. The synthetic corpus has no newlines,
    so the query lineifies one word per line (mirrored in the
    oracle); max_df=390 splits the corpus vocabulary mid-range."""
    docs = _t(spark, sf_dir, "documents")
    lined = docs.select(
        "doc_id", F.expr("replace(text, ' ', chr(10))").alias("text")
    )
    return CU.strip_boilerplate_lines(lined, max_df=390)


def q_char_entropy_docs(spark, sf_dir):
    """Character-entropy garbage detector (text.py::char_entropy):
    37 length-difference counts unrolled as literal codegen
    expressions — zero explodes, zero shuffles; integer-scaled
    summation keeps both engines bit-exact."""
    return X.char_entropy(_t(spark, sf_dir, "documents"))


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprints (text.py::winnow_fingerprints —
    Schleimer et al. 2003 / MOSS): per-window rightmost-min k-gram
    hash selection via ONE struct-ordered window aggregate. Only
    (doc_id, pos, hash) triples shuffle; text never leaves the scan
    stage."""
    return X.winnow_fingerprints(
        _t(spark, sf_dir, "documents"), k=8, w=8
    )


def q_winnow_candidates(spark, sf_dir):
    """Near-dup candidate pairs from shared winnowing fingerprints
    (text.py::winnow_candidate_pairs): bucket join on fingerprint
    hash with an LSH-style max_bucket skew cap, so ubiquitous
    boilerplate grams never go quadratic."""
    return X.winnow_candidate_pairs(
        _t(spark, sf_dir, "documents"),
        k=8,
        w=8,
        min_shared=3,
        max_bucket=64,
    )


def q_cohort_retention(spark, sf_dir):
    """Cohort retention matrix (temporal.py::cohort_retention): users
    cohorted by first-event day, distinct-active counts per
    (cohort_day, day_offset) with the retained fraction. Two hash
    aggregates + a broadcast cohort-size join — no windows or event
    self-joins."""
    return TP.cohort_retention(_t(spark, sf_dir, "events"))


def q_rfm_segments(spark, sf_dir):
    """RFM segmentation (temporal.py::rfm_segments): one per-user
    hash aggregate, then three deterministic ntile windows over the
    user-grain table (ties broken by user id so quantile buckets are
    engine-exact)."""
    return TP.rfm_segments(_t(spark, sf_dir, "events"))


def q_funnel_events(spark, sf_dir):
    """Ordered funnel conversion (temporal.py::funnel_conversion):
    first-view -> first-later-click -> first-later-purchase per user;
    per-step filtered min-aggregates chained by shrinking per-user
    joins — never a stream self-join."""
    return TP.funnel_conversion(
        _t(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


def q_bpe_merges(spark, sf_dir):
    """BPE tokenizer merge learning (text.py::bpe_merges): the first
    8 byte-pair merges over the documents corpus, Sennrich-2016
    greedy word-frequency training. One corpus scan (the word-count
    hash agg), then 8 vocabulary-sized argmax rounds; deterministic
    (count desc, lhs, rhs) tie-break; oracle is the unrolled 8-round
    DuckDB twin with identical replace semantics."""
    return X.bpe_merges(_t(spark, sf_dir, "documents"), n_merges=8)


def q_anomaly_days(spark, sf_dir):
    """Per-user daily burst detection (temporal.py::anomaly_days):
    days whose event count beats the user's mean by > 2 population
    sigmas, tested in pure int64 cross-multiplied arithmetic — no
    sqrt, no float boundary rows."""
    return TP.anomaly_days(_t(spark, sf_dir, "events"))


def q_nfc_normalize_docs(spark, sf_dir):
    """Unicode NFC normalization (text.py::normalize_nfc): the
    repo's one text-lane Arrow-batched pandas UDF (Spark has no
    built-in normalizer), oracle'd against DuckDB's utf8proc
    nfc_normalize. Decomposed sequences (e+U+0301, a+U+0300) are
    injected in-query (the strip_html pattern) so composition
    actually fires on this ASCII synthetic corpus — both the
    changed and unchanged branches are exercised."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    wrapped = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit("cafe\u0301 "),
            F.col("text"),
            F.lit(" a\u0300 la carte"),
        ),
    ).otherwise(F.col("text"))
    return X.normalize_nfc(d.select("doc_id", wrapped.alias("text")))


def q_bpe_encode_docs(spark, sf_dir):
    """BPE tokenizer ENCODE (text.py::bpe_encode): train 8 merges on
    the corpus (bpe_merges), then apply them in rank order as k
    chained engine-native replaces — per-doc subword counts and the
    pre-merge symbol counts whose ratio is tokenizer compression.
    Oracle re-learns the same merges in SQL and applies the same
    replace chain."""
    d = _t(spark, sf_dir, "documents")
    m = X.bpe_merges(d, n_merges=8).orderBy("merge_rank").collect()
    return X.bpe_encode(d, [(r["lhs"], r["rhs"]) for r in m])


def q_zipf_alpha_docs(spark, sf_dir):
    """Zipf's-law exponent over the top-1000 corpus terms
    (text.py::zipf_alpha): the one-row corpus-health diagnostic —
    natural text sits near alpha=1, template spam flattens it.
    Exact decimal accumulation of the rounded log terms; the only
    float step is the final one-row slope division."""
    return X.zipf_alpha(_t(spark, sf_dir, "documents"), top_k=1000)


def q_embedding_covariance(spark, sf_dir):
    """Exact 64x64 covariance of the embeddings table
    (similarity.py::embedding_covariance): the distributed half of
    PCA/whitening — decimal moment sums, d(d+1)/2 shuffle keys
    regardless of corpus size, upper triangle out."""
    return S.embedding_covariance(
        _t(spark, sf_dir, "embeddings"), dim=64
    )


def q_pca_embeddings(spark, sf_dir):
    """Top-2 PCA projection (similarity.py::pca_project): covariance
    distributed (the embedding_covariance plan), eigh driver-side on
    the 64x64 result, projection as a broadcast-literal JVM
    expression — no UDF. Rows-only (eigendecomposition is not
    SQL-expressible); numpy cross-check pins correctness in tests."""
    return S.pca_project(
        _t(spark, sf_dir, "embeddings"), dim=64, k=2
    )


def q_fuzzy_match_parts(spark, sf_dir):
    """Blocked fuzzy entity matching (dedup.py::fuzzy_match_pairs):
    DISTINCT part-name strings (id = min partkey per name — entity
    resolution matches entity strings, exact duplicates collapse
    first) within <= 3 Levenshtein edits, blocked on the head noun
    so the quadratic step never leaves a block; the max_block skew
    cap mirrors LSH buckets. Integer metric — the cut is
    engine-exact."""
    names = (
        _t(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("p_partkey"))
    )
    return D.fuzzy_match_pairs(names, "p_name", "p_partkey", max_dist=3)


def q_mutual_info_events(spark, sf_dir):
    """Mutual information (sketches.py::mutual_information) between
    event type and day-of-week — the dependence profile a feature
    audit runs before trusting a column pair. Per-cell log terms
    rounded to 9 decimals, DECIMAL-summed; marginals derive from the
    cell table, never a second corpus scan."""
    ev = _t(spark, sf_dir, "events")
    return SK.mutual_information(
        ev,
        F.col("event_type"),
        (F.dayofweek(F.col("ts")) - 1).cast("int"),
    )


def q_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient (curation.py::
    clustering_coefficient) over the MinHash-LSH candidate graph:
    cc ~ 1 marks true template-family cliques, low cc flags
    chain-like false-positive bridges. Triangles via the
    degree-ordered plan; oracle composes the same edge SQL."""
    edges = D.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.2
    )
    return CU.clustering_coefficient(edges)


def q_benford_prices(spark, sf_dir):
    """Benford first-digit profile (sketches.py::benford_profile) of
    o_totalprice — the classic financial data-quality check. Digit
    extraction via decimal-string rendering (no log10 float boundary
    at powers of ten); per-digit counts exact, fractions rounded."""
    return SK.benford_profile(
        _t(spark, sf_dir, "orders"), "o_totalprice"
    )


def q_readability_docs(spark, sf_dir):
    """Flesch reading-ease per document (text.py::readability):
    sentence/word/vowel-group-syllable counts are exact integers,
    the score one float expression of them, rounded to 4 — a
    standard curation quality signal, zero shuffles."""
    return X.readability(_t(spark, sf_dir, "documents"))


def q_market_basket(spark, sf_dir):
    """Market-basket association rules (curation.py::
    market_basket_pairs, Apriori k=2): part pairs co-purchased in
    >= 3 orders with confidence both ways and lift. Baskets dedupe
    items first; a max_basket skew cap drops degenerate mega-orders
    before the within-basket pair join."""
    return CU.market_basket_pairs(
        _t(spark, sf_dir, "lineitem"), min_support=3
    )


def q_hybrid_rrf_docs(spark, sf_dir):
    """Hybrid retrieval (similarity.py::rrf_fuse, Cormack 2009):
    reciprocal-rank fusion of the BM25 top-10 (sparse, fixed 3-term
    query) with the exact cosine top-10 for query vector 0 (dense) —
    the standard two-tower + lexical combiner. Reciprocals rounded
    to 9 decimals and summed as DECIMAL so the fused ranking is
    engine-exact; inputs are k-row lists so the fusion plan is tiny
    by construction."""
    from pyspark.sql.window import Window

    sparse = X.bm25_scores(
        _t(spark, sf_dir, "documents"), ["hash", "join", "vector"], k=10
    )
    wr = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    sparse_r = sparse.select(
        "doc_id", F.row_number().over(wr).alias("rank")
    )
    emb = _t(spark, sf_dir, "embeddings")
    dense = S.topk_cosine(
        emb.filter(F.col("vec_id") < 1), emb, k=10
    ).select(F.col("c_id").alias("doc_id"), "rank")
    return S.rrf_fuse([sparse_r, dense], k0=60, k=10)


def q_triangles_dupgraph(spark, sf_dir):
    """Per-node triangle counts (curation.py::triangle_counts,
    Suri-Vassilvitskii degree-ordered orientation) over the
    MinHash-LSH candidate graph — dup clusters are cliques, so
    triangle-dense nodes are template-family cores. The edge list is
    the oracle-verified dedup_minhash pair set; the oracle composes
    that same SQL and the identical (degree, id) orientation."""
    edges = D.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.2
    )
    return CU.triangle_counts(edges)


def q_resume_split_jsonl(spark, sf_dir):
    """Block-grain MID-FILE checkpoint resume for the JSONL lane
    (same O5 (path, offset) chunk-key grain as resume_split_csv —
    JSONL is line-delimited, hence byte-range splittable under the
    identical Hadoop line geometry): one JSONL dump of orders
    restores through byte-range block engines with an injected crash
    after the first engine; the resumed run continues from the
    recorded block offsets and must land EXACT totals against the
    orders table itself as oracle."""
    import os
    import shutil

    from .config import Config, CSVConfig, MydumperConfig, TiDBConfig
    from .plans.pipeline import RestoreController
    from .sinks.parquet_sink import ParquetSink

    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    fix = os.path.join(_SCRATCH, f"split_jsonl/{tag}/orders.jsonl")
    src = os.path.join(sf_dir, "orders.parquet")
    if _stale_vs_parquet(fix, src):
        os.remove(fix)
    if not os.path.exists(fix):
        os.makedirs(os.path.dirname(fix), exist_ok=True)
        pdf = (
            _t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_orderpriority")
            .orderBy("o_orderkey")
            .toPandas()
        )
        tmp = fix + ".tmp"
        pdf.to_json(
            tmp, orient="records", lines=True, force_ascii=False
        )
        os.replace(tmp, fix)
    root = os.path.join(_SCRATCH, f"resume_jsonl/{tag}")
    shutil.rmtree(root, ignore_errors=True)
    d = os.path.join(root, "dump")
    os.makedirs(d)
    with open(os.path.join(d, "rs-schema-create.sql"), "w") as f:
        f.write("CREATE DATABASE rs;")
    with open(os.path.join(d, "rs.o-schema.sql"), "w") as f:
        f.write(
            "CREATE TABLE o (o_orderkey BIGINT PRIMARY KEY, "
            "o_custkey BIGINT, o_orderpriority VARCHAR(20))"
        )
    shutil.copyfile(fix, os.path.join(d, "rs.o.0001.jsonl"))
    tgt = os.path.join(root, "sink")
    cp_path = os.path.join(root, "cp.json")

    class _FailFirst(ParquetSink):
        def __init__(self, r, fail_at):
            super().__init__(r, on_duplicate="error")
            self.fail_at = fail_at
            self.delivered = 0

        def write_engine(self, df, table, engine_id):
            if self.fail_at is not None and self.delivered >= self.fail_at:
                raise RuntimeError("injected mid-file crash")
            res = super().write_engine(df, table, engine_id)
            self.delivered += 1
            return res

    batch = max(4 * 1024, os.path.getsize(fix) // 4)

    def cfg():
        return Config(
            mydumper=MydumperConfig(
                source_dir=d,
                csv=CSVConfig(strict_format=True),
                batch_size=batch,
            ),
            backend="parquet",
            target_dir=tgt,
            on_duplicate="error",
            checkpoint_path=cp_path,
            table_concurrency=1,
            tidb=TiDBConfig(sql_mode=""),
        )

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes", str(max(2048, batch // 2))
    )
    try:
        crash = RestoreController(
            spark, cfg(), sink=_FailFirst(tgt, 1)
        ).run()
        assert not crash.ok, "the injected crash must fire"
        from .plans.checkpoints import CheckpointStore

        cp = CheckpointStore(cp_path)
        cp.ignore_error("all")
        done = RestoreController(
            spark, cfg(), sink=_FailFirst(tgt, None), checkpoints=cp
        ).run()
        assert done.ok, done.report()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(os.path.join(tgt, "rs.o"))
        .select("o_orderkey", "o_custkey", "o_orderpriority")
    )


def q_dedup_apply_winnow(spark, sf_dir):
    """Apply winnowing near-dedup cluster-correctly: connected
    components over the shared-fingerprint candidate graph, elect the
    min doc_id per component, drop every other member."""
    d = _t(spark, sf_dir, "documents")
    pairs = X.winnow_candidate_pairs(
        d, k=8, w=8, min_shared=3, max_bucket=64
    )
    clusters = CU.connected_components(pairs)
    losers = clusters.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select("doc_id")
    return d.join(losers, "doc_id", "left_anti").select("doc_id")


def q_jaccard_join_docs(spark, sf_dir):
    """Exact all-pairs Jaccard similarity join with prefix filtering
    (dedup.py::jaccard_join_prefix — Bayardo et al. 2007): no false
    negatives, candidates bucketed by rarest-first prefix tokens,
    integer cross-multiplied threshold so the cut is engine-exact.
    J >= 4/5 — the realistic near-dup cut; at 1/2 the template-heavy
    synthetic corpus passes ~70% of ALL pairs, making the output
    (and any engine's runtime) quadratic by construction."""
    return D.jaccard_join_prefix(
        _t(spark, sf_dir, "documents"), num=4, den=5
    )


def q_dsir_select_docs(spark, sf_dir):
    """DSIR data selection (curation.py::dsir_select): top-25 corpus
    docs by hashed-n-gram importance weight toward a src1 target
    sample (Xie et al. 2023). Bucket log-ratio deltas rounded to 9
    and aggregated in DECIMAL, so the multiply-sum is exact and
    partition-order-free on both engines."""
    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == "src1")
    # target IS a filter of the corpus -> its bucket histogram is
    # derived from the corpus per-(doc, bucket) counts (bit-identical,
    # one less tokenize+hash pass — r11 opt, dsir_weights docstring)
    return CU.dsir_select(
        docs, target, 25, n_buckets=256, target_is_subset=True
    )


def q_c4_line_filter_docs(spark, sf_dir):
    """C4 line-level cleaning (curation.py::c4_line_filter): the
    synthetic corpus has no newlines, so the query lineifies text
    deterministically first (' table' -> '.' + newline, mirrored in
    the oracle), then applies the terminal-punctuation / min-words /
    blacklist rules. Zero shuffles — pure codegen array ops."""
    docs = _t(spark, sf_dir, "documents")
    lined = docs.select(
        "doc_id",
        F.expr(
            "replace(text, ' table', concat('.', chr(10)))"
        ).alias("text"),
    )
    return CU.c4_line_filter(
        lined,
        min_words=3,
        min_kept_lines=2,
        line_blacklist=("spark",),
        doc_blacklist=("vector",),
    )


# ---------------------------------------------------------------------------
# the registry
# ---------------------------------------------------------------------------


# The driver CORRECTNESS snapshot samples the FIRST 50 entries of
# build_queries() in insertion order. Round-11 rotation
# (docs/ROTATION.md): the lead slot goes to the NEW round-11 entry
# (media_frame_sample_mjpeg — the compressed-video path: MJPEG-AVI
# container walk + one full baseline-JPEG decode per frame incl.
# DRI/RSTn, hash-checked against a closed-form SQL oracle), then the
# oldest-attested cohort computed as latest-round-per-entry across
# CORRECTNESS_r0{1..9}/r10, sorted by (round, name): the twelve
# remaining r07-attested entries (mysql_cast_tinyint ... topk_parts
# — simhash re-attests alongside the r11 hot-bucket-cap +
# single-shuffle rework of simhash_dup_pairs, which itself attested
# r10) and the first 37 of the r08 cohort by name (bloom_prune_orders
# ... quality_filter; quantize_embeddings et al. roll to round 12).
# Future rotations edit THIS list (and the pin in
# tests/test_registry_order.py), nothing else.
_R11_PREFIX = [
    "media_decode_jpeg_progressive",
    "media_frame_sample_mjpeg",
    "mysql_cast_tinyint",
    "ngram_jaccard",
    "pricing_summary",
    "random_project",
    "rollup_orders",
    "router_merge_orders",
    "rowid_dense_orders",
    "semi_join_suppliers",
    "simhash",
    "text_stats",
    "top_orders_by_revenue",
    "topk_parts",
    "bloom_prune_orders",
    "bracket_revenue",
    "cheapest_shipper",
    "chunk_documents",
    "cube_lineitem",
    "curation_funnel",
    "custdist_orders",
    "decontaminate",
    "dedup_apply_cluster",
    "dedup_cluster",
    "dedup_incremental",
    "events_sliding_window",
    "excess_shippers",
    "hll_overlap_partkeys",
    "hll_union_keys",
    "idle_customers",
    "important_parts",
    "kv_crc64_events_kinds",
    "kv_crc64_orders_dec",
    "kv_crc64_orders_v2",
    "large_orders",
    "lm_score",
    "local_supplier_volume",
    "market_share",
    "media_metadata",
    "mixture_sample",
    "moving_avg_events",
    "multimodal_features",
    "ntile_customers",
    "order_priority_count",
    "pack_sequences",
    "part_supplier_variety",
    "pii_scrub",
    "pivot_events",
    "profit_by_nation",
    "provenance_filter",
]


def build_queries():
    base = _build_queries_unordered()
    head = {k: base[k] for k in _R11_PREFIX}
    return {**head, **{k: v for k, v in base.items() if k not in head}}


def _build_queries_unordered():
    return {
        "hll_union_keys": q_hll_union_keys,
        "hll_overlap_partkeys": q_hll_overlap_partkeys,
        "url_canonicalize": q_url_canonicalize,
        "strip_html": q_strip_html,
        "pivot_events": q_pivot_events,
        "cube_lineitem": q_cube_lineitem,
        "moving_avg_events": q_moving_avg_events,
        "ntile_customers": q_ntile_customers,
        "string_agg_nations": q_string_agg_nations,
        "tfidf_terms": q_tfidf_terms,
        "custdist_orders": q_custdist_orders,
        "promo_share_lineitem": q_promo_share_lineitem,
        "dedup_cluster": q_dedup_cluster,
        "decontaminate": q_decontaminate,
        "sample_stratified": q_sample_stratified,
        "quality_filter": q_quality_filter,
        "pack_sequences": q_pack_sequences,
        "quantize_embeddings": q_quantize_embeddings,
        "token_histogram": q_token_histogram,
        "curation_funnel": q_curation_funnel,
        "repetition_stats": q_repetition_stats,
        "media_metadata": q_media_metadata,
        "salted_join_orders": q_salted_join_orders,
        "chunk_documents": q_chunk_documents,
        "pii_scrub": q_pii_scrub,
        "provenance_filter": q_provenance_filter,
        "lm_score": q_lm_score,
        "mixture_sample": q_mixture_sample,
        "dedup_apply_cluster": q_dedup_apply_cluster,
        "dedup_incremental": q_dedup_incremental,
        "order_priority_count": q_order_priority_count,
        "top_supplier_revenue": q_top_supplier_revenue,
        "cheapest_shipper": q_cheapest_shipper,
        "local_supplier_volume": q_local_supplier_volume,
        "volume_shipping": q_volume_shipping,
        "market_share": q_market_share,
        "profit_by_nation": q_profit_by_nation,
        "returned_items": q_returned_items,
        "important_parts": q_important_parts,
        "priority_lines": q_priority_lines,
        "small_qty_revenue": q_small_qty_revenue,
        "bracket_revenue": q_bracket_revenue,
        "waiting_suppliers": q_waiting_suppliers,
        "excess_shippers": q_excess_shippers,
        "large_orders": q_large_orders,
        "idle_customers": q_idle_customers,
        "part_supplier_variety": q_part_supplier_variety,
        "sample_stratified_hash": q_sample_stratified_hash,
        "resume_split_csv": q_resume_split_csv,
        "bloom_prune_orders": q_bloom_prune_orders,
        "checksum_lineitem": q_checksum_lineitem,
        "checksum_orders": q_checksum_orders,
        "index_checksum_orders": q_index_checksum_orders,
        "rowid_dense_orders": q_rowid_dense_orders,
        "alloc_base_orders": q_alloc_base_orders,
        "mysql_cast_tinyint": q_mysql_cast_tinyint,
        "enum_cast_events": q_enum_cast_events,
        "default_fill_customer": q_default_fill_customer,
        "router_merge_orders": q_router_merge_orders,
        "dup_replace_events": q_dup_replace_events,
        "dup_ignore_events": q_dup_ignore_events,
        "json_extract_events": q_json_extract_events,
        "pricing_summary": q_pricing_summary,
        "top_orders_by_revenue": q_top_orders_by_revenue,
        "filtered_revenue": q_filtered_revenue,
        "topk_parts": q_topk_parts,
        "window_running_total": q_window_running_total,
        "window_rank_customers": q_window_rank_customers,
        "events_tumbling_window": q_events_tumbling_window,
        "events_sliding_window": q_events_sliding_window,
        "rollup_orders": q_rollup_orders,
        "anti_join_customers": q_anti_join_customers,
        "semi_join_suppliers": q_semi_join_suppliers,
        "dedup_exact": q_dedup_exact,
        "dedup_apply_exact": q_dedup_apply_exact,
        "dedup_apply_minhash": q_dedup_apply_minhash,
        "dedup_minhash": q_dedup_minhash,
        "dedup_minhash_xx": q_dedup_minhash_xx,
        "simhash": q_simhash,
        "ngram_jaccard": q_ngram_jaccard,
        "text_stats": q_text_stats,
        "embedding_dups": q_embedding_dups,
        "ann_topk": q_ann_topk,
        "ann_topk_lsh": q_ann_topk_lsh,
        "ann_topk_pq": q_ann_topk_pq,
        "random_project": q_random_project,
        "ann_recall_lsh": q_ann_recall_lsh,
        "ann_topk_ivf": q_ann_topk_ivf,
        "ann_topk_ivfpq": q_ann_topk_ivfpq,
        "split_csv_rowids": q_split_csv_rowids,
        "gopher_repetition": q_gopher_repetition,
        "ann_recall_ivf": q_ann_recall_ivf,
        "ann_topk_pq_q64": q_ann_topk_pq_q64,
        "ann_topk_ivfpq_q64": q_ann_topk_ivfpq_q64,
        "duplicate_spans": q_duplicate_spans,
        "dedup_apply_spans": q_dedup_apply_spans,
        "jsonl_roundtrip": q_jsonl_roundtrip,
        "orc_roundtrip": q_orc_roundtrip,
        "checksum_crc64_lineitem": q_checksum_crc64_lineitem,
        "kv_crc64_orders": q_kv_crc64_orders,
        "kv_crc64_orders_v2": q_kv_crc64_orders_v2,
        "kv_crc64_events_kinds": q_kv_crc64_events_kinds,
        "kv_crc64_orders_dec": q_kv_crc64_orders_dec,
        "corpus_diff_docs": q_corpus_diff_docs,
        "multimodal_features": q_multimodal_features,
        "media_decode_png": q_media_decode_png,
        "media_resize_png": q_media_resize_png,
        "media_decode_jpeg": q_media_decode_jpeg,
        "media_decode_jpeg_progressive": q_media_decode_jpeg_progressive,
        "media_resize_jpeg": q_media_resize_jpeg,
        "media_frame_sample_avi": q_media_frame_sample_avi,
        "media_frame_sample_mjpeg": q_media_frame_sample_mjpeg,
        "media_header_meta": q_media_header_meta,
        "minhash_signatures": q_minhash_signatures,
        "uint64_decimal": q_uint64_decimal,
        "sessionize_events": q_sessionize_events,
        "salted_agg_lineitem": q_salted_agg_lineitem,
        "chunk_plan": q_chunk_plan,
        "asof_join_orders": q_asof_join_orders,
        "range_join_events": q_range_join_events,
        "click_purchase_attribution": q_click_purchase_attribution,
        "hll_distinct_parts": q_hll_distinct_parts,
        "hll_users_by_event": q_hll_users_by_event,
        "cms_term_counts": q_cms_term_counts,
        "hist_quantiles_price": q_hist_quantiles_price,
        "top_terms": q_top_terms,
        "percentiles_lineitem": q_percentiles_lineitem,
        "bm25_topdocs": q_bm25_topdocs,
        "kmeans_embeddings": q_kmeans_embeddings,
        "dedup_apply_semantic": q_dedup_apply_semantic,
        "pagerank_events": q_pagerank_events,
        "weighted_sample_docs": q_weighted_sample_docs,
        "mixture_temperature": q_mixture_temperature,
        "dsir_select_docs": q_dsir_select_docs,
        "c4_line_filter_docs": q_c4_line_filter_docs,
        "simhash_dup_pairs": q_simhash_pairs,
        "dedup_apply_simhash": q_dedup_apply_simhash,
        "bigram_lm_score": q_bigram_lm_score,
        "strip_boilerplate_docs": q_strip_boilerplate_docs,
        "char_entropy_docs": q_char_entropy_docs,
        "winnow_fingerprints": q_winnow_fingerprints,
        "winnow_candidates": q_winnow_candidates,
        "jaccard_join_docs": q_jaccard_join_docs,
        "dedup_apply_winnow": q_dedup_apply_winnow,
        "resume_split_jsonl": q_resume_split_jsonl,
        "cohort_retention": q_cohort_retention,
        "funnel_events": q_funnel_events,
        "rfm_segments": q_rfm_segments,
        "bpe_merges": q_bpe_merges,
        "anomaly_days": q_anomaly_days,
        "nfc_normalize_docs": q_nfc_normalize_docs,
        "triangles_dupgraph": q_triangles_dupgraph,
        "bpe_encode_docs": q_bpe_encode_docs,
        "zipf_alpha_docs": q_zipf_alpha_docs,
        "embedding_covariance": q_embedding_covariance,
        "pca_embeddings": q_pca_embeddings,
        "hybrid_rrf_docs": q_hybrid_rrf_docs,
        "market_basket": q_market_basket,
        "readability_docs": q_readability_docs,
        "clustering_coeff": q_clustering_coeff,
        "benford_prices": q_benford_prices,
        "fuzzy_match_parts": q_fuzzy_match_parts,
        "mutual_info_events": q_mutual_info_events,
    }


# pca twin cache: the generated twin does a parquet scan + moment-sum
# eigensolve per build; memoized per sf_dir so repeated
# build_oracle_sql() calls (tests, sweeps) don't rescan the corpus
_PCA_TWIN_CACHE: dict = {}


def build_oracle_sql():
    oracles = _build_oracle_sql_static()
    # pca_embeddings: the projection twin is generated from the same
    # parquet (deterministic eigensolve over DuckDB-computed moment
    # sums — see similarity.pca_project_sql_duckdb). Generated here,
    # not a static string; omitted (rows-only fallback) if the
    # testdata parquet is absent in this environment.
    if _ORACLE_SF_DIR not in _PCA_TWIN_CACHE:
        _PCA_TWIN_CACHE[_ORACLE_SF_DIR] = S.pca_project_sql_duckdb(
            _ORACLE_SF_DIR, dim=64, k=2
        )
    pca = _PCA_TWIN_CACHE[_ORACLE_SF_DIR]
    if pca is not None:
        oracles["pca_embeddings"] = pca
    return oracles


_ORACLE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
)


def _build_oracle_sql_static():
    tq = X.token_count_sql_duckdb("text")
    return {
        "checksum_lineitem": checksum_oracle_sql("lineitem", LINEITEM_TYPES),
        "checksum_crc64_lineitem": checksum_oracle_sql(
            "lineitem", LINEITEM_TYPES, algo="crc64",
            where="l_orderkey % 37 = 3",
        ),
        "corpus_diff_docs": CU.corpus_diff_sql_duckdb(
            "SELECT doc_id, text FROM documents", _CORPUS_DIFF_NEW_SQL
        ),
        "kv_crc64_orders": KVD.kv_checksum_sql_duckdb(
            "orders",
            "o_orderkey",
            [
                ("o_custkey", "BIGINT", 2, True),
                ("o_orderstatus", "VARCHAR", 3, False),
                ("o_orderdate", "TIMESTAMP", 5, True),
            ],
            [
                (1, [("o_custkey", "BIGINT")], False),
                (2, [("o_orderstatus", "VARCHAR")], True),
                (3, [("o_orderdate", "TIMESTAMP"),
                     ("o_orderkey", "BIGINT")], False),
            ],
            table_id=11,
        ),
        "kv_crc64_events_kinds": KVD.kv_checksum_sql_duckdb(
            """(SELECT event_id, user_id,
                  CASE event_type
                       WHEN 'click' THEN 1 WHEN 'error' THEN 2
                       WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4
                       WHEN 'view' THEN 5 END AS e_enum,
                  user_id % 8 AS e_set,
                  user_id % 256 AS e_bit,
                  event_type,
                  CAST(NULLIF(regexp_extract(props, '"k": (\\d+)', 1),
                              '') AS BIGINT) AS k
               FROM events) ek""",
            "event_id",
            [
                ("user_id", "BIGINT", 3, True),
                ("e_enum", "UINT64", 4, True),
                ("e_set", "UINT64", 5, True),
                ("e_bit", "UINT64", 6, True),
                (KVD.json_int_object_hex("k", "k"), "RAWHEX", 7, True),
                (KVD.json_str_object_hex("s", "event_type"),
                 "RAWHEX", 8, True),
            ],
            [
                (1, [("e_enum", "UINT64")], False),
                (2, [("e_set", "UINT64"), ("e_bit", "UINT64")], True),
            ],
            table_id=13,
        ),
        "kv_crc64_orders_dec": KVD.kv_checksum_sql_duckdb(
            """(SELECT o_orderkey,
                  CAST(o_custkey * 0.01 AS DECIMAL(12,2)) AS d_price,
                  CAST(o_custkey * 0.01 - 70 AS DECIMAL(12,2)) AS d_delta,
                  CAST(o_orderkey * o_custkey AS DECIMAL(25,7)) AS d_big,
                  CASE WHEN o_orderkey % 7 <> 0
                       THEN CAST(o_custkey * 0.0001 AS DECIMAL(20,10))
                  END AS d_null,
                  CASE WHEN o_orderkey % 11 <> 0
                       THEN CAST(o_custkey AS DECIMAL(9,0))
                  END AS d_skip
               FROM orders) od""",
            "o_orderkey",
            [
                ("d_price", "DECIMAL(12,2)", 2, True),
                ("d_delta", "DECIMAL(12,2)", 3, True),
                ("d_big", "DECIMAL(25,7)", 4, True),
                ("d_null", "DECIMAL(20,10)", 5, False),
                ("d_skip", "DECIMAL(9,0)", 6, True),
            ],
            [
                (1, [("d_big", "DECIMAL(25,7)")], False),
                (2, [("d_null", "DECIMAL(20,10)")], True),
                (3, [("d_delta", "DECIMAL(12,2)"),
                     ("o_orderkey", "BIGINT")], False),
            ],
            table_id=14,
        ),
        "kv_crc64_orders_v2": KVD.kv_checksum_sql_duckdb(
            "orders",
            "o_orderkey",
            [
                ("o_custkey", "BIGINT", 2, True),
                ("o_orderstatus", "VARCHAR", 3, False),
                ("o_totalprice", "DOUBLE", 4, True),
                ("o_orderdate", "TIMESTAMP", 5, True),
            ],
            [
                (1, [("o_custkey", "BIGINT")], False),
                (2, [("o_totalprice", "DOUBLE")], True),
                (3, [("o_orderdate", "TIMESTAMP"),
                     ("o_orderkey", "BIGINT")], False),
            ],
            table_id=12,
            row_format_version=2,
        ),
        "checksum_orders": checksum_oracle_sql("orders", ORDERS_TYPES),
        "index_checksum_orders": checksum_oracle_sql(
            "orders", [("o_custkey", "BIGINT"), ("o_orderkey", "BIGINT")]
        ),
        "rowid_dense_orders": (
            "SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) "
            "AS row_id FROM orders"
        ),
        "alloc_base_orders": (
            "SELECT (max(o_orderkey) + 1)::BIGINT AS alloc_base FROM orders"
        ),
        "mysql_cast_tinyint": (
            "SELECT l_orderkey, l_linenumber, "
            "cast(least(greatest(round(l_extendedprice), -128), 127) AS INT) "
            "AS clamped FROM lineitem"
        ),
        "enum_cast_events": """
            WITH r AS (
              SELECT event_id,
                     CASE WHEN event_id % 5 = 0
                            THEN cast(event_id % 4 + 1 AS VARCHAR)
                          WHEN event_id % 7 = 0 THEN 'INVALID'
                          ELSE upper(event_type) END AS raw
              FROM events
            )
            SELECT event_id,
                   CASE
                     WHEN raw IS NULL THEN NULL
                     WHEN list_contains(['click','view','error','purchase'],
                                        lower(trim(raw)))
                       THEN lower(trim(raw))
                     WHEN try_cast(trim(raw) AS INT) BETWEEN 1 AND 4
                       THEN (['click','view','error','purchase'])
                            [try_cast(trim(raw) AS INT)]
                     ELSE '' END AS enum_val
            FROM r
        """,
        "default_fill_customer": (
            "SELECT c_custkey, c_name, 123::INT AS y_default, "
            "'pending' AS status_default FROM customer"
        ),
        "router_merge_orders": (
            "SELECT * FROM orders WHERE o_orderkey % 2 = 0 "
            "UNION ALL SELECT * FROM orders WHERE o_orderkey % 2 = 1"
        ),
        "dup_replace_events": (
            "SELECT user_id, event_id, event_type, value FROM ("
            "SELECT *, row_number() OVER (PARTITION BY user_id "
            "ORDER BY ts DESC, event_id DESC) AS _rn FROM events) "
            "WHERE _rn = 1"
        ),
        "dup_ignore_events": (
            "SELECT user_id, event_id, event_type, value FROM ("
            "SELECT *, row_number() OVER (PARTITION BY user_id "
            "ORDER BY ts ASC, event_id ASC) AS _rn FROM events) "
            "WHERE _rn = 1"
        ),
        "json_extract_events": (
            "SELECT event_type, count(*) AS n, "
            "sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS k_sum "
            "FROM events GROUP BY event_type"
        ),
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   cast(sum(cast(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
                   cast(sum(cast(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "top_orders_by_revenue": """
            WITH rev AS (
              SELECT l_orderkey,
                     sum(cast(l_extendedprice AS DECIMAL(18,2))
                         * (1 - cast(l_discount AS DECIMAL(18,4)))) AS revenue
              FROM lineitem GROUP BY l_orderkey
            )
            SELECT o_orderkey, c_name,
                   cast(revenue AS DOUBLE) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
            JOIN rev ON o_orderkey = rev.l_orderkey
            ORDER BY revenue DESC, o_orderkey LIMIT 10
        """,
        "filtered_revenue": """
            SELECT cast(sum(cast(l_extendedprice AS DECIMAL(18,2))
                       * cast(l_discount AS DECIMAL(18,4))) AS DOUBLE)
                       AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        """,
        "topk_parts": (
            "SELECT p_partkey, p_name, p_retailprice FROM part "
            "ORDER BY p_retailprice DESC, p_partkey LIMIT 10"
        ),
        "window_running_total": """
            SELECT user_id, event_id,
                   cast(sum(cast(value AS DECIMAL(18,6)))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS DOUBLE) AS running_value
            FROM events
        """,
        "window_rank_customers": """
            SELECT c_custkey, c_nationkey,
                   cast(row_number() OVER (PARTITION BY c_nationkey
                        ORDER BY c_acctbal DESC, c_custkey) AS INT) AS bal_rank
            FROM customer
        """,
        "events_sliding_window": """
            SELECT w_start AS window_start, event_type,
                   count(*) AS n,
                   cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS sum_value
            FROM (
              SELECT time_bucket(INTERVAL '30 minutes', ts)
                       - k.k * INTERVAL '30 minutes' AS w_start,
                     event_type, value
              FROM events,
                   (SELECT 0 AS k UNION ALL SELECT 1) k
            )
            GROUP BY 1, 2
        """,
        "events_tumbling_window": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n,
                   cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "rollup_orders": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   cast(sum(cast(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE) AS sum_price
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "anti_join_customers": (
            "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS "
            "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"
        ),
        "semi_join_suppliers": (
            "SELECT s_suppkey, s_name FROM supplier s WHERE EXISTS "
            "(SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)"
        ),
        "dedup_exact": D.exact_dedup_groups_oracle_sql("documents"),
        "dedup_apply_exact": f"""
            WITH g AS ({D.exact_dedup_groups_oracle_sql('documents')})
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id IN (SELECT keep_id FROM g)
        """,
        "dedup_apply_minhash": f"""
            WITH pairs AS ({D.minhash_lsh_pairs_oracle_sql('documents', threshold=0.2)})
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT DISTINCT right_id FROM pairs)
        """,
        "dedup_minhash": D.minhash_lsh_pairs_oracle_sql(
            "documents", threshold=0.2
        ),
        "dedup_minhash_xx": D.minhash_lsh_pairs_oracle_sql(
            "documents", threshold=0.2, hash_fn="xxhash64"
        ),
        "simhash": (
            f"SELECT doc_id, {D.simhash_sql_duckdb('text')} AS simhash "
            f"FROM documents"
        ),
        "ngram_jaccard": D.ngram_jaccard_pairs_oracle_sql(
            "documents", ["lang", "source"], threshold=0.15
        ),
        "text_stats": f"""
            SELECT doc_id,
                   length(text) AS n_chars_computed,
                   {tq}::INT AS n_tokens,
                   {X.bpe_ish_token_count_sql_duckdb('text')} AS n_subwords,
                   round({X.punct_ratio_sql_duckdb('text')}, 6) AS punct_ratio,
                   round({X.stopword_ratio_sql_duckdb('text')}, 6) AS stopword_ratio,
                   {X.quality_score_sql_duckdb('text')} AS quality,
                   {X.lang_id_sql_duckdb('text')} AS lang_pred,
                   {X.fingerprint_sql_duckdb('text')} AS fingerprint
            FROM documents
        """,
        "embedding_dups": S.cosine_dup_pairs_oracle_sql(
            "embeddings", threshold=0.93
        ),
        "ann_topk": S.topk_cosine_oracle_sql("embeddings", "vec_id < 3", 5),
        "ann_topk_lsh": S.ann_topk_lsh_oracle_sql(
            "embeddings", "vec_id < 3", 5, 64, 4
        ),
        "ann_topk_pq": S.ann_topk_pq_oracle_sql(
            "embeddings", "vec_id < 3", 5
        ),
        "random_project": S.random_project_oracle_sql(
            "(SELECT * FROM embeddings WHERE vec_id < 50) e"
        ),
        "ann_recall_lsh": f"""
            WITH exact AS (
              {S.topk_cosine_oracle_sql("embeddings", "vec_id < 3", 5)}
            ),
            ap1 AS (
              {S.ann_topk_lsh_oracle_sql("embeddings", "vec_id < 3", 5, 64, 4)}
            ),
            ap2 AS (
              {S.ann_topk_lsh_oracle_sql(
                  "embeddings", "vec_id < 3", 5, 64, 4, multiprobe=True
              )}
            ),
            r1 AS (
              SELECT e.q_id, round(count(a.c_id)::DOUBLE / 5, 4) AS recall
              FROM exact e LEFT JOIN ap1 a
                ON a.q_id = e.q_id AND a.c_id = e.c_id
              GROUP BY e.q_id
            ),
            r2 AS (
              SELECT e.q_id, round(count(a.c_id)::DOUBLE / 5, 4) AS recall_mp
              FROM exact e LEFT JOIN ap2 a
                ON a.q_id = e.q_id AND a.c_id = e.c_id
              GROUP BY e.q_id
            )
            SELECT r1.q_id, r1.recall, r2.recall_mp
            FROM r1 JOIN r2 USING (q_id)
        """,
        "ann_topk_ivf": S.ivf_topk_oracle_sql(
            "embeddings", "vec_id < 3", 5, 8, 64
        ),
        "ann_topk_ivfpq": S.ann_topk_ivfpq_oracle_sql(
            "embeddings", "vec_id < 3", 5, 8, 2, 64
        ),
        "ann_topk_pq_q64": S.ann_topk_pq_oracle_sql(
            "embeddings", "vec_id < 64", 5
        ),
        "jsonl_roundtrip": (
            "SELECT doc_id, text, lang, source, n_chars FROM documents"
        ),
        "orc_roundtrip": (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,"
            " o_orderdate, o_orderpriority FROM orders"
        ),
        "dedup_apply_spans": (
            "SELECT doc_id FROM ("
            + D.duplicate_spans_sql_duckdb(_SPAN_DOCS_SQL, k=8)
            + ") WHERE dup_frac < 0.5"
        ),
        "duplicate_spans": D.duplicate_spans_sql_duckdb(
            _SPAN_DOCS_SQL, k=8
        ),
        "ann_topk_ivfpq_q64": S.ann_topk_ivfpq_oracle_sql(
            "embeddings", "vec_id < 64", 5, 8, 2, 64
        ),
        "ann_recall_ivf": f"""
            WITH exact AS (
              {S.topk_cosine_oracle_sql("embeddings", "vec_id < 3", 5)}
            ),
            ap1 AS (
              {S.ivf_topk_oracle_sql("embeddings", "vec_id < 3", 5, 8, 64)}
            ),
            ap2 AS (
              {S.ann_topk_ivfpq_oracle_sql(
                  "embeddings", "vec_id < 3", 5, 8, 2, 64
              )}
            ),
            r1 AS (
              SELECT e.q_id,
                     round(count(a.c_id)::DOUBLE / 5, 4) AS recall_ivf
              FROM exact e LEFT JOIN ap1 a
                ON a.q_id = e.q_id AND a.c_id = e.c_id
              GROUP BY e.q_id
            ),
            r2 AS (
              SELECT e.q_id,
                     round(count(a.c_id)::DOUBLE / 5, 4) AS recall_ivfpq
              FROM exact e LEFT JOIN ap2 a
                ON a.q_id = e.q_id AND a.c_id = e.c_id
              GROUP BY e.q_id
            )
            SELECT r1.q_id, r1.recall_ivf, r2.recall_ivfpq
            FROM r1 JOIN r2 USING (q_id)
        """,
        "split_csv_rowids": """
            SELECT cast(row_number() OVER (ORDER BY o_orderkey) AS INT)
                       AS rn,
                   o_orderkey, o_custkey, o_orderpriority
            FROM orders
        """,
        "gopher_repetition": X.repetition_stats_sql_duckdb(
            "(SELECT doc_id, substring(text, 1, 120) || chr(10)"
            " || 'repeat line one' || chr(10)"
            " || 'repeat line one' || chr(10)"
            " || CASE WHEN doc_id % 3 = 0 THEN 'repeat line one'"
            "         ELSE 'unique tail line' END || chr(10)"
            " || CASE WHEN doc_id % 2 = 0 THEN 'the cat the cat the cat'"
            "         ELSE 'plain ending words here' END AS text"
            " FROM documents) wrapped"
        ),
        # multimodal_features: the decoded-image features recomputed
        # in closed form from the synth_bmp_payloads pixel rule
        # (width = id%13+1, height = id%7+1, byte k = (id+k)%256) —
        # the SQL never parses BMP bytes, so a decoder bug on the
        # Spark side (orientation / BGR / padding) hash-mismatches
        "multimodal_features": """
            WITH dims AS (
              SELECT doc_id::BIGINT AS id,
                     (doc_id % 13 + 1)::INT AS width,
                     (doc_id % 7 + 1)::INT AS height
              FROM documents
            ), px AS (
              SELECT id, width, height,
                     ((id + k) % 256)::BIGINT AS v,
                     k
              FROM dims,
                   UNNEST(range(0, (width * height * 3)::BIGINT)) AS t(k)
            )
            SELECT id, height, width, 3 AS channels,
                   sum(v)::BIGINT AS sum_intensity,
                   sum(v * (k + 1))::BIGINT AS weighted_sum
            FROM px GROUP BY id, height, width
        """,
        # media_decode_png: identical closed form — the PNG payload
        # carries the SAME pixels as the BMP twin, but through DEFLATE
        # + the per-scanline filter cycle; the SQL never touches bytes
        "media_decode_png": """
            WITH dims AS (
              SELECT doc_id::BIGINT AS id,
                     (doc_id % 13 + 1)::INT AS width,
                     (doc_id % 7 + 1)::INT AS height
              FROM documents
            ), px AS (
              SELECT id, width, height,
                     ((id + k) % 256)::BIGINT AS v,
                     k
              FROM dims,
                   UNNEST(range(0, (width * height * 3)::BIGINT)) AS t(k)
            )
            SELECT id, height, width, 3 AS channels,
                   sum(v)::BIGINT AS sum_intensity,
                   sum(v * (k + 1))::BIGINT AS weighted_sum
            FROM px GROUP BY id, height, width
        """,
        # media_decode_jpeg: the closed-form 8x8-block rule — the
        # JPEG payload carries constant blocks through FDCT + Huffman
        # entropy coding with all-ones quant (bit-exact by
        # construction); the SQL never touches bytes
        "media_decode_jpeg": """
            WITH dims AS (
              SELECT doc_id::BIGINT AS id,
                     ((doc_id % 13 + 1) * 5)::BIGINT AS w,
                     ((doc_id % 7 + 1) * 5)::BIGINT AS h
              FROM documents
            ), px AS (
              SELECT id, w, h,
                     ((id + ((k // w) // 8) * ((w + 7) // 8)
                       + (k % w) // 8) % 256)::BIGINT AS v,
                     k
              FROM dims, UNNEST(range(0, (w * h)::BIGINT)) AS t(k)
            )
            SELECT id, h::INT AS height, w::INT AS width, 1 AS channels,
                   sum(v)::BIGINT AS sum_intensity,
                   sum(v * (k + 1))::BIGINT AS weighted_sum
            FROM px GROUP BY id, h, w
        """,
        # media_decode_jpeg_progressive (r11): same pixel rule,
        # same closed-form oracle — only the PAYLOAD encoding differs
        # (SOF2 multi-scan), which is exactly the point
        "media_decode_jpeg_progressive": """
            WITH dims AS (
              SELECT doc_id::BIGINT AS id,
                     ((doc_id % 13 + 1) * 5)::BIGINT AS w,
                     ((doc_id % 7 + 1) * 5)::BIGINT AS h
              FROM documents
            ), px AS (
              SELECT id, w, h,
                     ((id + ((k // w) // 8) * ((w + 7) // 8)
                       + (k % w) // 8) % 256)::BIGINT AS v,
                     k
              FROM dims, UNNEST(range(0, (w * h)::BIGINT)) AS t(k)
            )
            SELECT id, h::INT AS height, w::INT AS width, 1 AS channels,
                   sum(v)::BIGINT AS sum_intensity,
                   sum(v * (k + 1))::BIGINT AS weighted_sum
            FROM px GROUP BY id, h, w
        """,
        # media_resize_jpeg: the mean-pool replayed in SQL over the
        # block rule (grayscale: pooled C-order weight = cy*ow+cx+1)
        "media_resize_jpeg": """
            WITH geom AS (
              SELECT doc_id::BIGINT AS id,
                     ((doc_id % 13 + 1) * 5)::BIGINT AS w,
                     ((doc_id % 7 + 1) * 5)::BIGINT AS h
              FROM documents
            ), g2 AS (
              SELECT id, w, h,
                     LEAST(2, h)::BIGINT AS oh,
                     LEAST(2, w)::BIGINT AS ow,
                     GREATEST(h // 2, 1)::BIGINT AS fh,
                     GREATEST(w // 2, 1)::BIGINT AS fw
              FROM geom
            ), px AS (
              SELECT id, oh, ow, fh, fw,
                     (k // w) AS y, (k % w) AS x,
                     ((id + ((k // w) // 8) * ((w + 7) // 8)
                       + (k % w) // 8) % 256)::BIGINT AS v
              FROM g2, UNNEST(range(0, (w * h)::BIGINT)) AS t(k)
            ), cells AS (
              SELECT id, oh, ow,
                     (y // fh) AS cy, (x // fw) AS cx,
                     FLOOR(AVG(v))::BIGINT AS pv
              FROM px
              WHERE y < fh * oh AND x < fw * ow
              GROUP BY id, oh, ow, cy, cx
            )
            SELECT id, oh::INT AS out_h, ow::INT AS out_w,
                   SUM(pv)::BIGINT AS sum_resized,
                   SUM(pv * (cy * ow + cx + 1))::BIGINT
                       AS weighted_resized
            FROM cells GROUP BY id, oh, ow
        """,
        # media_header_meta: mime from doc_id % 3, dims from the
        # synth rules (BMP/PNG share one rule, JPEG's is 5x) — the
        # SQL never reads header bytes, so an offset, endianness, or
        # SOF0-location bug in the JVM-side parse hash-mismatches
        "media_header_meta": """
            SELECT doc_id::BIGINT AS id,
                   CASE doc_id % 3
                        WHEN 0 THEN 'image/bmp'
                        WHEN 1 THEN 'image/png'
                        ELSE 'image/jpeg' END AS mime,
                   CASE WHEN doc_id % 3 = 2
                        THEN ((doc_id % 13 + 1) * 5)::INT
                        ELSE (doc_id % 13 + 1)::INT END AS width,
                   CASE WHEN doc_id % 3 = 2
                        THEN ((doc_id % 7 + 1) * 5)::INT
                        ELSE (doc_id % 7 + 1)::INT END AS height
            FROM documents
        """,
        # media_frame_sample_avi: kept frames (every 2nd, max 4) and
        # their features recomputed from the synth pixel rule — the
        # SQL never parses RIFF bytes, so a decoder bug anywhere in
        # the chunk walk / DIB unflip / frame slicing hash-mismatches
        "media_frame_sample_avi": """
            WITH geom AS (
              SELECT doc_id::BIGINT AS id,
                     (doc_id % 5 + 1)::BIGINT AS nf,
                     (doc_id % 6 + 2)::BIGINT AS w,
                     (doc_id % 4 + 2)::BIGINT AS h
              FROM documents
            ), kept AS (
              SELECT id, w, h, f
              FROM geom, UNNEST(range(0, nf, 2)) AS t(f)
              WHERE f // 2 < 4
            ), px AS (
              SELECT id, f, h, w,
                     ((id + f * h * w * 3 + j) % 256)::BIGINT AS v,
                     j
              FROM kept,
                   UNNEST(range(0, (h * w * 3)::BIGINT)) AS t2(j)
            )
            SELECT id, f::INT AS frame_idx, h::INT AS height,
                   w::INT AS width,
                   SUM(v)::BIGINT AS sum_intensity,
                   SUM(v * (j + 1))::BIGINT AS weighted_sum
            FROM px GROUP BY id, f, h, w
        """,
        # media_frame_sample_mjpeg (r11): kept frames' features
        # recomputed from the constant-block pixel rule — the SQL
        # never touches RIFF or JPEG bytes, so a bug in the container
        # walk, Huffman decode, dequant, IDCT, RSTn resync or frame
        # slicing hash-mismatches. Frames are GRAYSCALE (one value
        # per pixel), weights follow C-order pixel index y*w + x.
        "media_frame_sample_mjpeg": """
            WITH geom AS (
              SELECT doc_id::BIGINT AS id,
                     (doc_id % 5 + 1)::BIGINT AS nf,
                     (8 * (doc_id % 3 + 1))::BIGINT AS w,
                     (8 * (doc_id % 2 + 1))::BIGINT AS h
              FROM documents
            ), kept AS (
              SELECT id, w, h, f
              FROM geom, UNNEST(range(0, nf, 2)) AS t(f)
              WHERE f // 2 < 4
            ), px AS (
              SELECT id, f, h, w, y, x,
                     ((id + 11 * f + 3 * (y // 8) + (x // 8)) % 256
                     )::BIGINT AS v
              FROM kept,
                   UNNEST(range(0, h)) AS ty(y),
                   UNNEST(range(0, w)) AS tx(x)
            )
            SELECT id, f::INT AS frame_idx, h::INT AS height,
                   w::INT AS width,
                   SUM(v)::BIGINT AS sum_intensity,
                   SUM(v * (y * w + x + 1))::BIGINT AS weighted_sum
            FROM px GROUP BY id, f, h, w
        """,
        # media_resize_png: the mean-pool replayed in SQL — cell
        # (cy, cx, c) floor-averages the fh x fw source pixels, the
        # remainder rows/cols crop, weights follow the pooled C-order
        "media_resize_png": """
            WITH geom AS (
              SELECT doc_id::BIGINT AS id,
                     (doc_id % 13 + 1)::BIGINT AS w,
                     (doc_id % 7 + 1)::BIGINT AS h,
                     LEAST(2, (doc_id % 7 + 1))::BIGINT AS oh,
                     LEAST(2, (doc_id % 13 + 1))::BIGINT AS ow,
                     GREATEST((doc_id % 7 + 1) // 2, 1)::BIGINT AS fh,
                     GREATEST((doc_id % 13 + 1) // 2, 1)::BIGINT AS fw
              FROM documents
            ), px AS (
              SELECT id, oh, ow, fh, fw,
                     (k // (w * 3)) AS y,
                     ((k % (w * 3)) // 3) AS x,
                     (k % 3) AS c,
                     ((id + k) % 256)::BIGINT AS v
              FROM geom, UNNEST(range(0, (w * h * 3)::BIGINT)) AS t(k)
            ), cells AS (
              SELECT id, oh, ow,
                     (y // fh) AS cy, (x // fw) AS cx, c,
                     FLOOR(AVG(v))::BIGINT AS pv
              FROM px
              WHERE y < fh * oh AND x < fw * ow
              GROUP BY id, oh, ow, cy, cx, c
            )
            SELECT id, oh::INT AS out_h, ow::INT AS out_w,
                   SUM(pv)::BIGINT AS sum_resized,
                   SUM(pv * ((cy * ow + cx) * 3 + c + 1))::BIGINT
                       AS weighted_resized
            FROM cells GROUP BY id, oh, ow
        """,
        "minhash_signatures": (
            f"SELECT doc_id, array_to_string("
            f"{D.minhash_signature_sql_duckdb('text', 8)}, ',') "
            f"AS sig FROM documents"
        ),
        # NOTE: DuckDB least()/greatest() coerce DECIMAL to DOUBLE,
        # so the clamp is spelled with CASE to stay exact
        "uint64_decimal": """
            WITH v AS (
              SELECT o_orderkey,
                     cast(('1844674407370955161' ||
                           cast(o_orderkey % 10 AS VARCHAR))
                          AS DECIMAL(38,4)) AS x,
                     cast('18446744073709551615' AS DECIMAL(38,4)) AS mx
              FROM orders
            )
            SELECT o_orderkey,
                   cast(cast(CASE WHEN x < 0 THEN 0
                                  WHEN x > mx THEN mx
                                  ELSE x END AS DECIMAL(20,0)) AS VARCHAR)
                       AS u64
            FROM v
        """,
        "sessionize_events": """
            WITH m AS (
              SELECT user_id, ts, event_id, value,
                     CASE WHEN ts - lag(ts) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id)
                          <= INTERVAL '30 minutes' THEN 0 ELSE 1 END AS new_s
              FROM events
            ), g AS (
              SELECT *, sum(new_s) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM m
            )
            SELECT user_id, min(ts) AS session_start,
                   count(*) AS n_events,
                   cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS sum_value
            FROM g GROUP BY user_id, sid
        """,
        "salted_agg_lineitem": """
            SELECT l_returnflag, count(*) AS n,
                   cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                       AS sum_qty,
                   cast(max(cast(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                       AS max_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "chunk_plan": """
            WITH c AS (
              SELECT o_orderkey // 100 AS chunk_id,
                     count(*) AS n_rows
              FROM orders GROUP BY 1
            )
            -- sum(BIGINT) is HUGEINT in DuckDB -> float64 via pandas;
            -- cast back to BIGINT so dtypes match the Spark LongType
            SELECT chunk_id, n_rows,
                   coalesce(sum(n_rows) OVER (ORDER BY chunk_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0)::BIGINT AS row_id_base
            FROM c
        """,
        "asof_join_orders": """
            WITH od AS (
              SELECT o_custkey AS user_id, o_orderdate AS order_ts,
                     max(o_orderkey) AS matched_order
              FROM orders GROUP BY 1, 2
            )
            SELECT e.event_id, e.user_id, o.matched_order
            FROM events e ASOF JOIN od o
              ON e.user_id = o.user_id AND e.ts >= o.order_ts
        """,
        "hll_distinct_parts": SK.approx_distinct_hll_oracle_sql(
            "lineitem", "l_partkey"
        ),
        "hll_users_by_event": SK.approx_distinct_hll_grouped_oracle_sql(
            "events", "event_type", "user_id"
        ),
        "hist_quantiles_price": SK.histogram_quantiles_oracle_sql(
            "lineitem", "l_extendedprice", [0.5, 0.95, 0.99]
        ),
        "hll_union_keys": SK.approx_distinct_hll_union_oracle_sql(
            "lineitem", "l_partkey", "orders", "o_orderkey"
        ),
        "hll_overlap_partkeys": SK.approx_overlap_hll_oracle_sql(
            "orders", "o_custkey", "lineitem", "l_suppkey"
        ),
        "url_canonicalize": f"""
            SELECT doc_id,
                   {CU.canonicalize_url_sql_duckdb('''(
                     CASE WHEN doc_id % 2 = 0 THEN 'HTTP'
                          ELSE 'http' END || '://' ||
                     CASE WHEN doc_id % 3 = 0 THEN upper(source)
                          ELSE source END || '.example.com' ||
                     CASE WHEN doc_id % 4 = 0 THEN ':80'
                          ELSE '' END ||
                     '/docs/' || cast(doc_id AS VARCHAR) ||
                     CASE WHEN doc_id % 2 = 0
                          THEN '?utm_source=feed&b=2&a=1'
                          ELSE '?a=1&b=2' END ||
                     CASE WHEN doc_id % 5 = 0 THEN '#frag'
                          ELSE '' END)''')} AS canonical_url
            FROM documents
        """,
        "strip_html": f"""
            SELECT doc_id,
                   {CU.strip_html_sql_duckdb(
                     "('<html><body><p class=" + '"' + "x" + '"' + ">' "
                     "|| substr(text, 1, 60) "
                     "|| '</p><script>var a=1;</script>&amp;lt; "
                     "&nbsp;tail</body></html>')"
                   )} AS clean_text
            FROM documents
        """,
        "cms_term_counts": SK.cms_estimate_terms_oracle_sql(
            "(SELECT unnest(string_split_regex(lower(text), '[^a-z]+'))"
            " AS term FROM documents) tt WHERE length(term) > 3",
            "term",
            _CMS_PROBES,
        ),
        "click_purchase_attribution": """
            SELECT c.user_id, count(*) AS n_attributed,
                   count(DISTINCT p.event_id) AS n_purchases
            FROM events c JOIN events p
              ON c.user_id = p.user_id
             AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
            WHERE c.event_type = 'click' AND p.event_type = 'purchase'
            GROUP BY c.user_id ORDER BY c.user_id
        """,
        "range_join_events": """
            SELECT o.o_orderkey,
                   count(*) AS n_events,
                   cast(sum(cast(e.value AS DECIMAL(18,2))) AS DOUBLE)
                       AS value_sum
            FROM orders o JOIN events e
              ON e.user_id = o.o_custkey
             AND e.ts >= o.o_orderdate
             AND e.ts < o.o_orderdate + INTERVAL 7 DAY
            GROUP BY o.o_orderkey
        """,
        "top_terms": """
            SELECT term, count(*) AS cnt
            FROM (
              SELECT unnest(string_split_regex(lower(text), '[^a-z]+'))
                     AS term
              FROM documents
            )
            WHERE length(term) > 3
            GROUP BY term
            ORDER BY cnt DESC, term
            LIMIT 20
        """,
        "percentiles_lineitem": """
            SELECT l_returnflag,
                   cast(cast(quantile_cont(l_quantity, 0.25)
                        AS DECIMAL(18,6)) AS DOUBLE) AS p25,
                   cast(cast(quantile_cont(l_quantity, 0.5)
                        AS DECIMAL(18,6)) AS DOUBLE) AS p50,
                   cast(cast(quantile_cont(l_quantity, 0.75)
                        AS DECIMAL(18,6)) AS DOUBLE) AS p75,
                   cast(cast(quantile_cont(l_quantity, 0.95)
                        AS DECIMAL(18,6)) AS DOUBLE) AS p95
            FROM lineitem GROUP BY l_returnflag
            ORDER BY l_returnflag
        """,
        "bloom_prune_orders": SK.bloom_probe_oracle_sql(
            "orders",
            "o_custkey",
            "SELECT c_custkey FROM customer WHERE c_acctbal < 0",
            "cast(c_custkey AS VARCHAR)",
            ["o_orderkey", "o_custkey"],
            m=4096,
            k=3,
        ),
        "mixture_temperature": CU.mixture_temperature_oracle_sql(
            2.0, 200
        ),
        "simhash_dup_pairs": D.simhash_dup_pairs_sql_duckdb(
            "documents", max_hamming=1, n_bands=2
        ),
        "bigram_lm_score": X.bigram_lm_score_sql_duckdb("documents"),
        "strip_boilerplate_docs": CU.strip_boilerplate_lines_sql_duckdb(
            "(SELECT doc_id, replace(text, ' ', chr(10)) AS text "
            "FROM documents)",
            max_df=390,
        ),
        "char_entropy_docs": X.char_entropy_sql_duckdb("documents"),
        "dedup_apply_simhash": f"""
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (
              SELECT doc_id FROM (
                {CU.connected_components_oracle_sql(
                    D.simhash_dup_pairs_sql_duckdb(
                        "documents", max_hamming=1, n_bands=2
                    )
                )}
              ) WHERE doc_id <> cluster_id
            )
        """,
        "dsir_select_docs": CU.dsir_select_sql_duckdb(
            "documents", "source = 'src1'", 25, n_buckets=256
        ),
        "c4_line_filter_docs": CU.c4_line_filter_sql_duckdb(
            "(SELECT doc_id, replace(text, ' table', '.' || chr(10)) "
            "AS text FROM documents)",
            min_words=3,
            min_kept_lines=2,
            line_blacklist=("spark",),
            doc_blacklist=("vector",),
        ),
        "weighted_sample_docs": CU.weighted_sample_sql_duckdb(
            "documents", "n_chars", 25, ["doc_id", "n_chars"]
        ),
        "pagerank_events": CU.pagerank_sql_duckdb(
            "SELECT src, dst FROM ("
            "SELECT user_id AS src, "
            "cast(nullif(regexp_extract(props, '([0-9]+)', 1), '') "
            "AS BIGINT) + 1000 AS dst FROM events"
            ") WHERE dst IS NOT NULL",
            iters=3,
        ),
        "dedup_apply_semantic": S.semantic_dedup_sql_duckdb(
            "(SELECT vec_id, embedding FROM embeddings UNION ALL "
            "SELECT vec_id + 10000, embedding FROM embeddings)",
            k=4, iters=2, threshold=0.95, dim=64,
        ),
        "kmeans_embeddings": S.kmeans_assign_sql_duckdb(
            "embeddings", k=4, iters=2, dim=64
        ),
        "bm25_topdocs": X.bm25_scores_sql_duckdb(
            "documents", ["hash", "join", "vector"], k=10
        ),
        "pivot_events": """
            SELECT user_id,
                   count(*) FILTER (event_type = 'click') AS click,
                   count(*) FILTER (event_type = 'view') AS view,
                   count(*) FILTER (event_type = 'error') AS error,
                   count(*) FILTER (event_type = 'purchase') AS purchase
            FROM events GROUP BY user_id
        """,
        "cube_lineitem": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                       AS sum_qty,
                   cast(grouping(l_returnflag) * 2
                        + grouping(l_linestatus) AS INT) AS gid
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "moving_avg_events": """
            SELECT event_id, user_id,
                   cast(round(avg(cast(value AS DECIMAL(18,6))) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
                   ), 4) AS DOUBLE) AS mavg
            FROM events
        """,
        "ntile_customers": """
            SELECT c_custkey, c_nationkey,
                   cast(ntile(4) OVER (
                       PARTITION BY c_nationkey
                       ORDER BY c_acctbal DESC, c_custkey
                   ) AS INT) AS quartile
            FROM customer
        """,
        "string_agg_nations": """
            SELECT n_regionkey,
                   string_agg(n_name, ',' ORDER BY n_name) AS nations
            FROM nation GROUP BY n_regionkey
        """,
        "custdist_orders": """
            SELECT c_count, count(*) AS custdist
            FROM (
              SELECT c.c_custkey, count(o.o_orderkey) AS c_count
              FROM customer c LEFT JOIN orders o
                ON o.o_custkey = c.c_custkey
              GROUP BY c.c_custkey
            )
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "promo_share_lineitem": """
            SELECT round(
                     cast(sum(CASE WHEN p.p_type = 'ECONOMY'
                         THEN cast(l.l_extendedprice AS DECIMAL(18,2))
                              * (1 - cast(l.l_discount AS DECIMAL(18,4)))
                         ELSE 0 END) AS DOUBLE)
                     / cast(sum(cast(l.l_extendedprice AS DECIMAL(18,2))
                           * (1 - cast(l.l_discount AS DECIMAL(18,4))))
                           AS DOUBLE)
                     * 100.0, 6) AS promo_share_pct
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        """,
        "tfidf_terms": """
            WITH terms AS (
              SELECT doc_id,
                     unnest(string_split_regex(lower(text), '[^a-z]+'))
                         AS term
              FROM documents
            ),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM terms
              WHERE length(term) > 3 GROUP BY doc_id, term
            ),
            dfc AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term),
            n AS (SELECT count(*) AS nn FROM documents)
            SELECT doc_id, term,
                   round(tf * ln(nn::DOUBLE / dfreq), 4) AS tfidf
            FROM tf JOIN dfc USING (term), n
            ORDER BY tfidf DESC, doc_id, term LIMIT 15
        """,
        "dedup_cluster": CU.connected_components_oracle_sql(
            D.minhash_lsh_pairs_oracle_sql("documents", threshold=0.2)
        ),
        "decontaminate": CU.decontaminate_oracle_sql(
            "documents", "doc_id % 97 = 0", k=5
        ),
        "sample_stratified": CU.stratified_sample_oracle_sql(
            "documents", ["lang"], 25, ["doc_id", "lang", "source"]
        ),
        "sample_stratified_hash": CU.stratified_sample_hash_oracle_sql(
            "documents", ["lang"], 25, ["doc_id", "lang", "source"]
        ),
        "resume_split_csv": (
            "SELECT o_orderkey, o_custkey, o_orderpriority FROM orders"
        ),
        "resume_split_jsonl": (
            "SELECT o_orderkey, o_custkey, o_orderpriority FROM orders"
        ),
        "cohort_retention": TP.cohort_retention_oracle_sql("events"),
        "funnel_events": TP.funnel_conversion_oracle_sql(
            "events", ["view", "click", "purchase"]
        ),
        "rfm_segments": TP.rfm_segments_oracle_sql("events"),
        "bpe_merges": X.bpe_merges_sql_duckdb("documents", 8),
        "anomaly_days": TP.anomaly_days_oracle_sql("events"),
        "triangles_dupgraph": CU.triangle_counts_oracle_sql(
            D.minhash_lsh_pairs_oracle_sql("documents", threshold=0.2)
        ),
        "bpe_encode_docs": X.bpe_encode_sql_duckdb("documents", 8),
        "zipf_alpha_docs": X.zipf_alpha_sql_duckdb("documents", 1000),
        "embedding_covariance": S.embedding_covariance_sql_duckdb(
            "embeddings", 64
        ),
        "market_basket": CU.market_basket_pairs_oracle_sql(
            "lineitem", min_support=3
        ),
        "readability_docs": X.readability_sql_duckdb("documents"),
        "clustering_coeff": CU.clustering_coefficient_oracle_sql(
            D.minhash_lsh_pairs_oracle_sql("documents", threshold=0.2)
        ),
        "benford_prices": SK.benford_profile_sql_duckdb(
            "orders", "o_totalprice"
        ),
        "fuzzy_match_parts": D.fuzzy_match_pairs_oracle_sql(
            "(SELECT p_name, min(p_partkey) AS p_partkey"
            " FROM part GROUP BY 1)",
            "p_name",
            "p_partkey",
            max_dist=3,
        ),
        "mutual_info_events": SK.mutual_information_sql_duckdb(
            "events",
            "event_type",
            "cast(date_part('dow', ts) AS INT)",
        ),
        "hybrid_rrf_docs": f"""
WITH sparse AS ({X.bm25_scores_sql_duckdb(
            "documents", ["hash", "join", "vector"], k=10
        )}),
sr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM sparse
),
dense AS ({S.topk_cosine_oracle_sql("embeddings", "vec_id < 1", 10)}),
u AS (
  SELECT doc_id,
         cast(round(1.0 / (60 + rank), 9) AS DECIMAL(20,9)) AS c
  FROM sr
  UNION ALL
  SELECT c_id AS doc_id,
         cast(round(1.0 / (60 + rank), 9) AS DECIMAL(20,9)) AS c
  FROM dense
),
f AS (
  SELECT doc_id, sum(c) AS s, count(*) AS n_rankers
  FROM u GROUP BY 1
)
SELECT doc_id, round(cast(s AS DOUBLE), 9) AS rrf_score, n_rankers
FROM f ORDER BY s DESC, doc_id LIMIT 10
""",
        "nfc_normalize_docs": X.normalize_nfc_sql_duckdb(
            "(SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN "
            "'cafe' || chr(769) || ' ' || text || ' a' || chr(768)"
            " || ' la carte' ELSE text END AS text FROM documents)"
        ),
        "quality_filter": CU.quality_filter_oracle_sql("documents"),
        "pack_sequences": CU.pack_sequences_oracle_sql(
            "documents", budget=512
        ),
        "quantize_embeddings": CU.quantize_embeddings_oracle_sql(
            "embeddings"
        ),
        "token_histogram": f"""
            SELECT (({tq}) // 50 * 50)::BIGINT AS bucket,
                   count(*) AS n_docs,
                   sum(({tq})::BIGINT)::BIGINT AS total_tokens
            FROM documents GROUP BY 1
        """,
        "curation_funnel": _curation_funnel_oracle_sql(),
        "chunk_documents": CU.chunk_documents_oracle_sql(
            "documents", size=200, overlap=50
        ),
        "pii_scrub": CU.pii_scrub_oracle_sql(_PII_INJECT_SQL),
        "provenance_filter": CU.provenance_filter_oracle_sql(
            blocked_sources=["src3", "src7", "src13"],
            allowed_langs=["en", "es", "de"],
        ),
        "dedup_incremental": D.incremental_dedup_oracle_sql(
            100000, _INCR_CORPUS_SQL
        ),
        "lm_score": X.unigram_lm_score_sql_duckdb("documents"),
        "mixture_sample": CU.mixture_sample_oracle_sql(
            _MIX_WEIGHTS, target_total=60
        ),
        "dedup_apply_cluster": f"""
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (
              SELECT doc_id FROM (
                {CU.connected_components_oracle_sql(
                    D.minhash_lsh_pairs_oracle_sql(
                        "documents", threshold=0.2
                    )
                )}
              ) WHERE doc_id <> cluster_id
            )
        """,
        "top_supplier_revenue": """
            WITH rev AS (
              SELECT l_suppkey,
                     sum(cast(cast(l_extendedprice AS DECIMAL(18,2))
                         * (cast(1 AS DECIMAL(18,2))
                            - cast(l_discount AS DECIMAL(18,2)))
                         AS DECIMAL(18,4))) AS _rev
              FROM lineitem
              WHERE l_shipdate >= DATE '1996-01-01'
                AND l_shipdate < DATE '1996-04-01'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, cast(_rev AS DOUBLE) AS total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE _rev = (SELECT max(_rev) FROM rev)
            ORDER BY s_suppkey
        """,
        "cheapest_shipper": """
            WITH shipped AS (
              SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name,
                              s_acctbal
              FROM part
              JOIN lineitem ON p_partkey = l_partkey
              JOIN supplier ON l_suppkey = s_suppkey
              WHERE p_size = 5
            )
            SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal
            FROM shipped
            WHERE cast(s_acctbal AS DECIMAL(18,2)) = (
              SELECT min(cast(s2.s_acctbal AS DECIMAL(18,2)))
              FROM shipped s2 WHERE s2.p_partkey = shipped.p_partkey)
            ORDER BY p_partkey, s_suppkey
        """,
        "local_supplier_volume": """
            SELECT n_name,
                   cast(sum(cast(cast(l_extendedprice AS DECIMAL(18,2))
                       * (cast(1 AS DECIMAL(18,2))
                          - cast(l_discount AS DECIMAL(18,2)))
                       AS DECIMAL(18,4))) AS DOUBLE) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= DATE '1996-01-01'
              AND o_orderdate < DATE '1997-01-01'
            GROUP BY n_name ORDER BY revenue DESC, n_name
        """,
        "volume_shipping": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   cast(year(l_shipdate) AS INTEGER) AS l_year,
                   cast(sum(cast(cast(l_extendedprice AS DECIMAL(18,2))
                       * (cast(1 AS DECIMAL(18,2))
                          - cast(l_discount AS DECIMAL(18,2)))
                       AS DECIMAL(18,4))) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE l_shipdate >= DATE '1996-01-01'
              AND l_shipdate < DATE '1998-01-01'
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year
        """,
        "market_share": """
            WITH j AS (
              SELECT cast(year(o_orderdate) AS INTEGER) AS o_year,
                     cast(cast(l_extendedprice AS DECIMAL(18,2))
                       * (cast(1 AS DECIMAL(18,2))
                          - cast(l_discount AS DECIMAL(18,2)))
                       AS DECIMAL(18,4)) AS vol,
                     ns.n_name AS supp_nation
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation nc ON c_nationkey = nc.n_nationkey
              JOIN region ON nc.n_regionkey = r_regionkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ns ON s_nationkey = ns.n_nationkey
              WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
                AND o_orderdate >= DATE '1996-01-01'
                AND o_orderdate < DATE '1998-01-01'
            )
            SELECT o_year,
                   round(cast(sum(CASE WHEN supp_nation = 'NATION_3'
                                       THEN vol
                                       ELSE cast(0 AS DECIMAL(18,4)) END)
                              AS DOUBLE)
                         / cast(sum(vol) AS DOUBLE), 6) AS mkt_share
            FROM j GROUP BY o_year ORDER BY o_year
        """,
        "profit_by_nation": """
            SELECT n_name AS nation,
                   cast(year(o_orderdate) AS INTEGER) AS o_year,
                   cast(sum(cast(cast(l_extendedprice AS DECIMAL(18,2))
                       * (cast(1 AS DECIMAL(18,2))
                          - cast(l_discount AS DECIMAL(18,2)))
                       AS DECIMAL(18,4))
                     - cast(cast(p_retailprice AS DECIMAL(18,2))
                       * cast(l_quantity AS DECIMAL(18,2))
                       AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%gear%'
            GROUP BY n_name, o_year
            ORDER BY n_name, o_year DESC
        """,
        "returned_items": """
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   cast(sum(cast(cast(l_extendedprice AS DECIMAL(18,2))
                       * (cast(1 AS DECIMAL(18,2))
                          - cast(l_discount AS DECIMAL(18,2)))
                       AS DECIMAL(18,4))) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= DATE '1996-01-01'
              AND o_orderdate < DATE '1996-04-01'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey LIMIT 20
        """,
        "important_parts": """
            WITH per_part AS (
              SELECT l_partkey,
                     sum(cast(cast(l_extendedprice AS DECIMAL(18,2))
                         * cast(l_quantity AS DECIMAL(18,2))
                         AS DECIMAL(18,4))) AS _value
              FROM lineitem GROUP BY l_partkey
            )
            SELECT l_partkey, cast(_value AS DOUBLE) AS part_value
            FROM per_part
            WHERE cast(_value AS DOUBLE) >
                  (SELECT cast(sum(_value) AS DOUBLE) FROM per_part) * 0.001
            ORDER BY part_value DESC, l_partkey
        """,
        "priority_lines": """
            SELECT l_linestatus,
                   CAST(sum(CASE WHEN o_orderpriority
                                     IN ('1-URGENT','2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority
                                     IN ('1-URGENT','2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT)
                       AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= DATE '1997-01-01'
              AND l_shipdate < DATE '1998-01-01'
            GROUP BY l_linestatus ORDER BY l_linestatus
        """,
        "small_qty_revenue": """
            WITH li_p AS (
              SELECT l_partkey, l_quantity, l_extendedprice
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_brand = 'Brand#5'
            ), stats AS (
              SELECT l_partkey AS _pk,
                     sum(cast(l_quantity AS DECIMAL(18,2))) AS _sq,
                     count(*) AS _cnt
              FROM li_p GROUP BY l_partkey
            )
            SELECT round(cast(sum(cast(l_extendedprice AS DECIMAL(18,2)))
                              AS DOUBLE) / 7.0, 2) AS avg_yearly
            FROM li_p JOIN stats ON l_partkey = _pk
            WHERE l_quantity < 0.2 * cast(_sq AS DOUBLE) / _cnt
        """,
        "bracket_revenue": """
            SELECT cast(sum(cast(cast(l_extendedprice AS DECIMAL(18,2))
                       * (cast(1 AS DECIMAL(18,2))
                          - cast(l_discount AS DECIMAL(18,2)))
                       AS DECIMAL(18,4))) AS DOUBLE) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "excess_shippers": """
            SELECT s_suppkey, s_name, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE s_suppkey IN (
              SELECT l_suppkey FROM lineitem
              WHERE l_partkey IN (
                      SELECT p_partkey FROM part WHERE p_type = 'PROMO')
                AND l_shipdate >= DATE '1996-01-01'
                AND l_shipdate < DATE '1997-01-01'
              GROUP BY l_suppkey, l_partkey
              HAVING sum(cast(l_quantity AS DECIMAL(18,2))) > 50)
            ORDER BY s_name
        """,
        "waiting_suppliers": """
            WITH pairs AS (
              SELECT l_orderkey, l_suppkey,
                     max(CASE WHEN l_shipdate >
                              o_orderdate + INTERVAL 90 DAY
                              THEN 1 ELSE 0 END) AS _supp_late
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              WHERE o_orderstatus = 'F'
              GROUP BY l_orderkey, l_suppkey
            ), per_order AS (
              SELECT l_orderkey AS _ok, count(*) AS _nsupp,
                     sum(_supp_late) AS _nlate
              FROM pairs GROUP BY l_orderkey
            )
            SELECT s_name, count(*) AS numwait
            FROM pairs
            JOIN per_order ON l_orderkey = _ok
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE _supp_late = 1 AND _nsupp >= 2 AND _nlate = 1
            GROUP BY s_name
            ORDER BY numwait DESC, s_name LIMIT 20
        """,
        "order_priority_count": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= DATE '1995-01-01'
              AND o_orderdate < DATE '1995-04-01'
              AND EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND l_shipdate > DATE '1995-02-01')
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "large_orders": """
            WITH big AS (
              SELECT l_orderkey,
                     sum(cast(l_quantity AS DECIMAL(18,2))) AS _q
              FROM lineitem GROUP BY l_orderkey
              HAVING sum(cast(l_quantity AS DECIMAL(18,2))) > 150
            )
            SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                   o_totalprice, cast(_q AS DOUBLE) AS total_qty
            FROM big
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
        """,
        "idle_customers": """
            SELECT c_mktsegment, count(*) AS numcust,
                   cast(sum(cast(c_acctbal AS DECIMAL(18,2)))
                        AS DOUBLE) AS totacctbal
            FROM customer
            WHERE cast(c_acctbal AS DECIMAL(18,2)) > (
                    SELECT avg(cast(c_acctbal AS DECIMAL(18,2)))
                    FROM customer WHERE c_acctbal > 0.0)
              AND NOT EXISTS (
                    SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= DATE '2000-01-01')
            GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        "part_supplier_variety": """
            SELECT p_brand, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM part JOIN lineitem ON p_partkey = l_partkey
            WHERE p_brand <> 'Brand#1'
              AND p_type NOT LIKE 'SMALL%'
              AND p_size IN (1, 4, 7)
            GROUP BY p_brand, p_size
            ORDER BY supplier_cnt DESC, p_brand, p_size
        """,
        "salted_join_orders": """
            SELECT c.c_mktsegment,
                   count(*) AS n,
                   cast(sum(cast(o.o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE) AS sum_price
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY c.c_mktsegment
        """,
        "media_metadata": """
            SELECT doc_id,
                   'image/fake' AS mime,
                   cast(h % 512 + 16 AS INT) AS width,
                   cast((h + 7) % 512 + 16 AS INT) AS height,
                   octet_length(encode(text))::BIGINT AS n_bytes
            FROM (
              SELECT doc_id, text,
                     CAST(concat('0x', substring(md5(text), 1, 4)) AS INT)
                         AS h
              FROM documents
            )
        """,
        "repetition_stats": """
            WITH s AS (
              SELECT doc_id,
                     list_filter(list_transform(string_split(text, '.'),
                                                x -> trim(x)),
                                 x -> x <> '') AS sents
              FROM documents
            )
            SELECT doc_id,
                   len(sents) AS n_sents,
                   len(list_distinct(sents)) AS n_distinct_sents,
                   CASE WHEN len(sents) = 0 THEN 0.0
                        ELSE round(1.0 - len(list_distinct(sents))::DOUBLE
                                   / len(sents), 4) END AS rep_ratio
            FROM s
        """,
        "winnow_fingerprints": X.winnow_fingerprints_oracle_sql(
            "documents", k=8, w=8
        ),
        "winnow_candidates": X.winnow_candidate_pairs_oracle_sql(
            "documents", k=8, w=8, min_shared=3, max_bucket=64
        ),
        "jaccard_join_docs": D.jaccard_join_prefix_oracle_sql(
            "documents", num=4, den=5
        ),
        "dedup_apply_winnow": f"""
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (
              SELECT doc_id FROM (
                {CU.connected_components_oracle_sql(
                    X.winnow_candidate_pairs_oracle_sql(
                        "documents", k=8, w=8, min_shared=3, max_bucket=64
                    )
                )}
              ) WHERE doc_id <> cluster_id
            )
        """,
    }


def _curation_funnel_oracle_sql() -> str:
    """CTE chain mirroring q_curation_funnel stage by stage, built
    from the same fragment builders the individual oracles use."""
    keep = " OR ".join(sql for _, sql in CU._quality_rules_sql("text"))
    h = CU.hash60_duckdb("text")
    sh = CU.word_shingles_sql_duckdb("text", 5)
    return f"""
WITH corpus AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
q AS (SELECT * FROM corpus WHERE NOT ({keep})),
surv AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, {h} AS h FROM q) GROUP BY h
),
s2 AS (SELECT q.* FROM q JOIN surv USING (doc_id)),
bg AS (
  SELECT DISTINCT unnest({sh}) AS gram FROM documents
  WHERE doc_id % 97 = 0
),
cont AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest({sh}) AS gram FROM s2) cg
  JOIN bg USING (gram)
),
s3 AS (
  SELECT * FROM s2
  WHERE doc_id NOT IN (SELECT doc_id FROM cont)
)
SELECT '0_raw' AS stage, count(*) AS n FROM corpus
UNION ALL SELECT '1_quality', count(*) FROM q
UNION ALL SELECT '2_dedup', count(*) FROM s2
UNION ALL SELECT '3_decontaminated', count(*) FROM s3
"""
