"""Corpus-curation operators for training-data pipelines.

Beyond-reference operators (SURVEY.md §7 M7): the steps that turn a
raw ingested corpus into a training set —

- **connected components** over near-dup candidate pairs, so that
  transitive duplicate chains (A~B, B~C) collapse into one cluster
  and a single survivor can be elected per cluster (plain pairwise
  "drop the right side" over-keeps on chains).
- **test-set decontamination**: flag corpus documents sharing any
  k-gram with a benchmark/eval set (the n-gram-overlap rule used by
  public LM data pipelines).
- **deterministic stratified sampling**: exact top-n per stratum in
  pseudo-random (hash) order — reproducible across runs and engines,
  unlike ``rand()``-based sampling.
- **quality filtering**: keep/drop with a first-failing-rule reason
  column, built from the operators/text.py metrics.
- **sequence packing**: assign documents to fixed token-budget
  training sequences by running prefix-sum within a shard.
- **embedding quantization**: int8 scalar quantization with a
  per-vector scale, the standard memory-reduction step before ANN
  indexing.

All operators are pure Spark built-ins (whole-stage codegen; the one
iterative operator — connected components — loops small DataFrame
jobs on the driver with localCheckpoint lineage truncation). Every
operator has an exact DuckDB-SQL twin for oracle verification.

Scale notes (100 TB):
- connected_components runs on the candidate-PAIR graph, which is
  orders of magnitude smaller than the corpus (only near-dup
  candidates appear). Rounds = O(cluster diameter); dup clusters are
  near-star-shaped so 2-4 rounds dominate in practice. Each round is
  two hash joins partitioned by node id. For adversarial long-chain
  graphs, switch to large-star/small-star (same loop skeleton).
- decontaminate broadcasts the benchmark gram set (eval sets are
  tiny vs the corpus) — corpus side stays narrow: explode + hash
  semi-join + per-doc count, no corpus-wide shuffle of text.
- stratified_sample's exact per-stratum top-n funnels each stratum
  through one reducer; for huge strata use the documented
  hash-threshold variant (WHERE hash % M < k*M/N — no global sort).
- pack_sequences partitions by shard (``source``), so the running
  sum parallelizes across shards; a global pack would serialize.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exprs import let
from ..functions.hashing import hash60, hash60_duckdb
from .dedup import word_shingles, word_shingles_sql_duckdb
from .partitioning import spread_small_input as _spread
from .rowid import metadata_df
from .text import (
    punct_ratio,
    punct_ratio_sql_duckdb,
    stopword_ratio,
    stopword_ratio_sql_duckdb,
    token_count,
    token_count_sql_duckdb,
)

# ---------------------------------------------------------------------------
# connected components over near-dup pairs
# ---------------------------------------------------------------------------


def union_find_min(edges: list[tuple]) -> list[tuple]:
    """Union-find with union-by-min + path compression: the invariant
    that each set's root is its minimum element makes the root the
    cluster label directly. Returns sorted (node, min_of_component)
    pairs for every node appearing in ``edges``."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:  # union by min so the root IS the min id
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    nodes = {x for e in edges for x in e}
    return [(n, find(n)) for n in sorted(nodes)]


def _labels_frame(spark, rows: list[tuple], schema) -> DataFrame:
    """Driver label rows -> DataFrame through the Arrow path (r12,
    guide §6 "Arrow for driver transfers"): createDataFrame from a
    Python list pickles row-by-row through the JVM — profiled at
    0.4-0.6 s of dedup_cluster's ~2 s for a few thousand label
    tuples — while the pandas route rides one Arrow batch
    (rowid.metadata_df, which keeps the list path for rows pandas
    cannot carry exactly)."""
    return metadata_df(spark, rows, schema)


def _star_components(
    e: DataFrame, max_iter: int = 50, finish_threshold: int = 0
) -> DataFrame:
    """Alternating large-star/small-star connected components
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond"): converges in O(log^2 n) rounds REGARDLESS of component
    diameter — the scale path for long-chain graphs (crawl mirrors,
    boilerplate chains) where min-label propagation needs a round per
    hop.

    ``e``: directed edge frame (src, dst), self-loops removed. Edges
    are maintained canonically as (u > v); each round:

    - large-star: per node u over BOTH directions, link every
      strictly-larger neighbor to min(N(u) + {u}) — halves long
      chains by hanging tails off local minima;
    - small-star: per node u over smaller neighbors, link them and u
      to the local min — flattens partial stars.

    ``finish_threshold``: contract-then-finish (the r9 256x CC
    crossover fix, docs/SCALE.md): both star ops preserve the
    component partition over every node still carrying an edge, and
    a non-root member of a >=2-node component always re-emits an
    edge each round, so the moment the contracted edge count fits
    the driver budget the remainder is ONE union-find over
    (count x ~16 B) metadata instead of more distributed rounds —
    dup-clique graphs collapse to stars in round one, paying 1 round
    + 1 collect instead of label propagation to convergence. 0
    disables (pure distributed star loop, the long-chain fallback
    contract used by algorithm='label' tests).

    Convergence = edge set unchanged: a cheap (count, sum(u),
    sum(v)) fingerprint gates an EXACT exceptAll certificate, so a
    fingerprint collision can never end the loop early. At the fixed
    point the edges ARE (node -> component-min) stars; roots are
    re-added as their own cluster. Per-round lazy localCheckpoint
    truncates lineage (the fingerprint action materializes it — one
    job per round, not two)."""
    d = (
        e.select(
            F.greatest("src", "dst").alias("u"),
            F.least("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def fingerprint(df: DataFrame):
        r = df.agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
        ).first()
        return (r["c"], r["su"], r["sv"])

    def driver_finish(cur: DataFrame) -> DataFrame:
        # union-find over the contracted edges; component mins are
        # preserved by the star ops, so the labels match the fixpoint
        rows = union_find_min(
            [(r["u"], r["v"]) for r in cur.collect()]
        )
        spark = e.sparkSession
        schema = e.select(
            F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id")
        ).schema
        labels = _labels_frame(spark, rows, schema)
        nodes = (
            e.select(F.col("src").alias("doc_id"))
            .union(e.select(F.col("dst").alias("doc_id")))
            .distinct()
        )
        lonely = nodes.join(
            labels.select("doc_id"), "doc_id", "left_anti"
        )
        return labels.union(
            lonely.select("doc_id", F.col("doc_id").alias("cluster_id"))
        )

    prev_fp, prev = fingerprint(d), d
    if finish_threshold and prev_fp[0] <= finish_threshold:
        return driver_finish(prev)
    converged = False
    for _ in range(max_iter):
        # large-star over both directions
        b = prev.union(
            prev.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mn = b.groupBy("u").agg(F.min("v").alias("_mn"))
        m = F.least(F.col("_mn"), F.col("u"))
        large = (
            b.join(mn, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star on (u > v) orientation
        mn2 = large.groupBy("u").agg(F.min("v").alias("_m"))
        small = (
            large.join(mn2, "u")
            .filter(F.col("v") != F.col("_m"))
            .select(F.col("v").alias("u"), F.col("_m").alias("v"))
            .union(mn2.select("u", F.col("_m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        fp = fingerprint(small)
        if finish_threshold and fp[0] <= finish_threshold:
            return driver_finish(small)
        if fp == prev_fp:
            # exact certificate: fingerprints can collide, identical
            # sets cannot differ under exceptAll with equal counts
            if small.exceptAll(prev).limit(1).count() == 0:
                prev = small
                converged = True
                break
        prev_fp, prev = fp, small
    if not converged:
        raise RuntimeError(
            f"star components did not converge in {max_iter} rounds"
        )
    roots = (
        prev.select("v")
        .distinct()
        .join(
            prev.select(F.col("u").alias("v")).distinct(),
            "v",
            "left_anti",
        )
    )
    labels = prev.select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
    ).union(
        roots.select(
            F.col("v").alias("doc_id"), F.col("v").alias("cluster_id")
        )
    )
    # nodes appearing ONLY in self-pairs were dropped with the
    # self-loops before the loop; re-add them as their own cluster so
    # every input node appears (matching the label/union-find paths)
    nodes = (
        e.select(F.col("src").alias("doc_id"))
        .union(e.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    lonely = nodes.join(labels.select("doc_id"), "doc_id", "left_anti")
    return labels.union(
        lonely.select("doc_id", F.col("doc_id").alias("cluster_id"))
    )


def connected_components(
    pairs: DataFrame,
    left_col: str = "left_id",
    right_col: str = "right_id",
    max_iter: int = 25,
    small_graph_threshold: int = 200_000,
    algorithm: str = "auto",
) -> DataFrame:
    """(node, cluster_id) for every node appearing in ``pairs``;
    cluster_id = min node id in the connected component.

    Small-graph fast path: the candidate-pair graph is usually tiny
    relative to the corpus (near-dup candidates only). When at most
    ``small_graph_threshold`` pairs exist, they are pulled to the
    driver (``take(threshold+1)`` — one partial pass) and resolved
    with union-find: zero label-propagation rounds, zero extra Spark
    jobs. Larger graphs run the distributed loop below; the cap is
    driver-memory-bounded metadata (~16 B/pair), the same budget the
    IVF-centroid and row-id-base collects use.

    Min-label propagation: label(v) starts at min(v, neighbors(v))
    and each round takes the min over neighbors' labels. Labels are
    monotonically non-increasing and bounded, so an unchanged
    label-sum aggregate certifies the fixpoint (summed as
    DECIMAL(38,0): node ids may be 60-bit hashes, and an int64 sum
    would overflow — throw under ANSI, silently wrap otherwise).
    ``localCheckpoint`` per round truncates lineage (the loop would
    otherwise build an exponentially deep plan).

    ``algorithm``: "auto" (default) resolves graphs beyond the
    driver threshold structure-adaptively (the r10 fix for the
    measured 256x crossover, docs/SCALE.md): ONE min-contraction
    round first — label every node min(self, direct neighbors) and
    rewrite edges onto the labels — which collapses CLIQUES (the
    near-dup candidate shape: every member adjacent to the min) into
    nothing at the cost of ~3 shuffles; the residual graph (chains,
    stars-of-cliques) goes to the alternating large-star/small-star
    loop (_star_components, O(log^2 n) rounds at ANY diameter) in
    contract-then-finish mode, where star rounds run only until the
    edge set fits ``small_graph_threshold`` and one driver union-find
    finishes. The first attempt at this fix ran star rounds directly
    on the raw pair graph — but cliques contract to (nodes -
    components) STAR edges, which for a big dup corpus hover above
    the driver threshold, forcing the full fixpoint + exceptAll
    certificate (measured 4.6 MiB/s at 256x vs the label loop's
    7.8); the min-contraction round removes exactly that mass first.
    "label" is the legacy min-label-propagation loop with its
    raise-on-nonconvergence contract; "star" goes straight to the
    star algorithm. Either way a silently split cluster is
    impossible — every path certifies its fixpoint (the
    min-contraction is a single exact algebraic step, not an
    iterated-to-convergence one)."""
    if algorithm not in ("auto", "label", "star"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    # Materialize the pair source ONCE: the candidate generator
    # feeding this (e.g. a full MinHash LSH pass) can dwarf the
    # component resolution itself, and the auto path touches the
    # edge frame from several actions (driver-size probe, canonical
    # build, lonely-node re-add) — without this checkpoint each
    # action re-ran the generator (measured 2.5x the MinHash cost at
    # the 1024x curve point before the fix).
    e = pairs.select(
        F.col(left_col).alias("src"), F.col(right_col).alias("dst")
    ).localCheckpoint(eager=False)
    if algorithm == "star":
        return _star_components(
            e,
            max_iter=max(50, max_iter),
            finish_threshold=small_graph_threshold,
        )
    if small_graph_threshold > 0:
        head = e.take(small_graph_threshold + 1)
        if len(head) <= small_graph_threshold:
            rows = union_find_min([(r["src"], r["dst"]) for r in head])
            spark = pairs.sparkSession
            return _labels_frame(
                spark, rows, e.select(
                    F.col("src").alias("doc_id"),
                    F.col("dst").alias("cluster_id"),
                ).schema,
            )
    if algorithm == "auto":
        b = (
            e.select(
                F.greatest("src", "dst").alias("u"),
                F.least("src", "dst").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        both = b.union(
            b.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        lbl = (
            both.groupBy("u")
            .agg(F.min("v").alias("_nb"))
            .select(
                F.col("u").alias("node"),
                F.least(F.col("u"), F.col("_nb")).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        lu = lbl.select(
            F.col("node").alias("u"), F.col("label").alias("_lu")
        )
        lv = lbl.select(
            F.col("node").alias("v"), F.col("label").alias("_lv")
        )
        contracted = (
            b.join(lu, "u")
            .join(lv, "v")
            .select(
                F.greatest("_lu", "_lv").alias("src"),
                F.least("_lu", "_lv").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        sub = _star_components(
            contracted,
            max_iter=max(50, max_iter),
            finish_threshold=small_graph_threshold,
        ).select(
            F.col("doc_id").alias("label"),
            F.col("cluster_id").alias("_c"),
        )
        # compose: node -> round-1 label -> residual-graph component
        # min (labels absent from the residual graph were already
        # their component's min — fully collapsed cliques)
        labels = lbl.join(sub, "label", "left").select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("_c"), F.col("label")).alias("cluster_id"),
        )
        # nodes appearing only in self-pairs were dropped with the
        # self-loops: re-add as their own cluster
        nodes = (
            e.select(F.col("src").alias("doc_id"))
            .union(e.select(F.col("dst").alias("doc_id")))
            .distinct()
        )
        lonely = nodes.join(labels.select("doc_id"), "doc_id", "left_anti")
        return labels.union(
            lonely.select("doc_id", F.col("doc_id").alias("cluster_id"))
        )
    edges = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)

    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_nb"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("_nb")).alias("label"),
        )
        .localCheckpoint(eager=False)
    )
    _lsum = F.sum(F.col("label").cast("decimal(38,0)"))
    prev = labels.agg(_lsum).first()[0]
    converged = False
    for _ in range(max_iter):
        cand = (
            edges.join(
                labels.select(
                    F.col("node").alias("src"), F.col("label")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("_cand"))
        )
        labels = (
            labels.join(cand, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("_cand"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        cur = labels.agg(_lsum).first()[0]
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); use "
            "algorithm='auto'/'star' for long-chain graphs"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def connected_components_oracle_sql(pairs_sql: str) -> str:
    """Recursive-CTE twin: full reachability, component = min reached.

    Finite state space + UNION (distinct) guarantees termination;
    only viable at oracle scale — the Spark loop is the scale path."""
    return f"""
WITH RECURSIVE
pairs AS ({pairs_sql}),
edges AS (
  SELECT left_id AS src, right_id AS dst FROM pairs
  UNION
  SELECT right_id AS src, left_id AS dst FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
)
SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# test-set decontamination (k-gram overlap)
# ---------------------------------------------------------------------------


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """(doc_id, n_shared_grams) for corpus docs sharing at least one
    k-word-gram with any benchmark document.

    The benchmark gram set is deduplicated and broadcast (eval sets
    are tiny); the corpus side is a narrow explode + broadcast-join
    + per-doc count — the corpus text itself never shuffles."""
    cg = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("gram"),
    )
    bg = (
        benchmark.select(
            F.explode(word_shingles(F.col(text_col), k)).alias("gram")
        )
        .distinct()
    )
    return (
        cg.join(F.broadcast(bg), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("gram")).alias("n_shared_grams"))
    )


def decontaminate_oracle_sql(
    table: str = "documents",
    bench_pred: str = "doc_id % 97 = 0",
    k: int = 5,
) -> str:
    sh = word_shingles_sql_duckdb("text", k)
    return f"""
WITH cg AS (
  SELECT doc_id, unnest({sh}) AS gram FROM {table}
  WHERE NOT ({bench_pred})
),
bg AS (
  SELECT DISTINCT unnest({sh}) AS gram FROM {table} WHERE {bench_pred}
)
SELECT doc_id, count(DISTINCT gram) AS n_shared_grams
FROM cg JOIN bg USING (gram) GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# deterministic stratified sampling
# ---------------------------------------------------------------------------


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    n_per_stratum: int,
    id_col: str = "doc_id",
    method: str = "exact",
) -> DataFrame:
    """Stratified sample, reproducible across runs, engines, and
    partitionings (hash of the id, ties by id — never ``rand()``).

    method="exact" (default): exactly n rows per stratum via a
    per-stratum window top-n. Scale: one shuffle by strata; each
    stratum's top-n funnels through a single reducer (row_number) —
    right for many medium strata.

    method="hash": the scale path for HUGE strata — rate-based
    hash-threshold sampling (``stratified_sample_hash``): ~n rows
    per stratum (binomial around n), fully narrow scan, no stratum
    ever funnels through one reducer."""
    if method == "hash":
        return stratified_sample_hash(
            df, strata_cols, n_per_stratum, id_col
        )
    if method != "exact":
        raise ValueError(f"unknown stratified-sample method {method!r}")
    key = hash60(F.col(id_col).cast("string"))
    w = Window.partitionBy(*strata_cols).orderBy(
        key.asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


def stratified_sample_hash(
    df: DataFrame,
    strata_cols: list[str],
    n_per_stratum: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Rate-based hash-threshold stratified sampling — the scale path
    stratified_sample's docstring points at: ~n rows per stratum via
    a per-row deterministic hash compare, so no stratum ever funnels
    through a single reducer. One tiny count-by-strata aggregate
    fixes each stratum's keep rate (rate = n / stratum_count, capped
    at 1), broadcast back; the corpus scan stays narrow and
    shuffle-free. Exact-n relaxes to expected-n (binomial around n),
    reproducible across runs, engines, and partitionings — same
    determinism contract as mixture_sample."""
    counts = df.groupBy(*strata_cols).agg(
        F.count(F.lit(1)).alias("_n")
    )
    rates = counts.select(
        *strata_cols,
        F.least(
            F.lit(float(n_per_stratum)) / F.col("_n"), F.lit(1.0)
        ).alias("_rate"),
    )
    draw = hash60(F.col(id_col).cast("string")) / F.lit(float(1 << 60))
    return (
        df.join(F.broadcast(rates), strata_cols)
        .filter(draw < F.col("_rate"))
        .drop("_rate")
    )


def stratified_sample_hash_oracle_sql(
    table: str,
    strata_cols: list[str],
    n_per_stratum: int,
    select_cols: list[str],
    id_col: str = "doc_id",
) -> str:
    h = hash60_duckdb(f"cast({id_col} AS VARCHAR)")
    strata = ", ".join(strata_cols)
    return f"""
WITH rates AS (
  SELECT {strata},
         least({float(n_per_stratum)!r} / count(*), 1.0) AS _rate
  FROM {table} GROUP BY {strata}
)
SELECT {', '.join(select_cols)}
FROM {table} JOIN rates USING ({strata})
WHERE ({h}) / {float(1 << 60)!r} < _rate
"""


def stratified_sample_oracle_sql(
    table: str,
    strata_cols: list[str],
    n_per_stratum: int,
    select_cols: list[str],
    id_col: str = "doc_id",
) -> str:
    key = hash60_duckdb(f"cast({id_col} AS VARCHAR)")
    strata = ", ".join(strata_cols)
    return f"""
SELECT {', '.join(select_cols)} FROM (
  SELECT *, row_number() OVER (
    PARTITION BY {strata} ORDER BY {key} ASC, {id_col} ASC
  ) AS _rk FROM {table}
) WHERE _rk <= {n_per_stratum}
"""


# ---------------------------------------------------------------------------
# quality filtering with reasons
# ---------------------------------------------------------------------------

# First failing rule wins, evaluated in order. The Spark and SQL
# builders MUST stay rule-for-rule in sync (the oracle test enforces
# it value-for-value).
def _quality_rules_spark(c: Column):
    n = F.length(c)
    tc = token_count(c)
    mean_word = F.when(tc == 0, F.lit(0.0)).otherwise(n / tc)
    return [
        ("too_short", n < 100),
        ("too_long", n > 10000),
        ("high_punct", punct_ratio(c) >= 0.1),
        ("low_stopword", stopword_ratio(c) < 0.01),
        ("word_length", (mean_word < 3) | (mean_word > 12)),
    ]


def _quality_rules_sql(expr: str):
    tc_sql = token_count_sql_duckdb(expr)
    mean_sql = (
        f"CASE WHEN ({tc_sql}) = 0 THEN 0.0 "
        f"ELSE length({expr})::DOUBLE / ({tc_sql}) END"
    )
    return [
        ("too_short", f"length({expr}) < 100"),
        ("too_long", f"length({expr}) > 10000"),
        ("high_punct", f"({punct_ratio_sql_duckdb(expr)}) >= 0.1"),
        ("low_stopword", f"({stopword_ratio_sql_duckdb(expr)}) < 0.01"),
        ("word_length", f"(({mean_sql}) < 3 OR ({mean_sql}) > 12)"),
    ]


def quality_filter(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, keep, reason): reason = first failing rule, 'ok' when
    the document passes every rule. Narrow per-row projection."""
    c = F.col(text_col)
    reason = None
    for name, pred in _quality_rules_spark(c):
        reason = (
            F.when(pred, F.lit(name))
            if reason is None
            else reason.when(pred, F.lit(name))
        )
    reason = reason.otherwise(F.lit("ok"))
    return df.select(
        F.col(id_col).alias("doc_id"),
        (reason == "ok").alias("keep"),
        reason.alias("reason"),
    )


def quality_filter_oracle_sql(
    table: str = "documents", text_col: str = "text"
) -> str:
    cases = " ".join(
        f"WHEN {sql} THEN '{name}'"
        for name, sql in _quality_rules_sql(text_col)
    )
    reason = f"CASE {cases} ELSE 'ok' END"
    return (
        f"SELECT doc_id, ({reason}) = 'ok' AS keep, {reason} AS reason "
        f"FROM {table}"
    )


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    shard_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign docs to fixed token-budget training sequences by running
    prefix-sum of token counts within each shard (docs may straddle a
    sequence boundary — document-level chunking accounting).

    Output: (doc_id, shard, n_tokens, seq_id, offset) where seq_id is
    the sequence the doc STARTS in and offset its start position.
    Partitioned by shard, so packing parallelizes across shards."""
    nt = token_count(F.col(text_col))
    # window refers to the POST-rename columns (shard/doc_id)
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(shard_col).alias("shard"),
            nt.cast("long").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            (cum - F.col("n_tokens")).alias("_start"),
        )
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            F.floor(F.col("_start") / budget).cast("long").alias("seq_id"),
            (F.col("_start") % budget).cast("long").alias("offset"),
        )
    )


def pack_sequences_oracle_sql(
    table: str = "documents",
    budget: int = 512,
    shard_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    tc = token_count_sql_duckdb(text_col)
    return f"""
WITH t AS (
  SELECT {id_col} AS doc_id, {shard_col} AS shard,
         ({tc})::BIGINT AS n_tokens FROM {table}
),
c AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - n_tokens AS _start
  FROM t
)
SELECT doc_id, shard, n_tokens,
       (_start // {budget})::BIGINT AS seq_id,
       (_start % {budget})::BIGINT AS offset
FROM c
"""


# ---------------------------------------------------------------------------
# embedding quantization
# ---------------------------------------------------------------------------


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Int8 scalar quantization: per-vector scale = max|x| / 127,
    q_i = floor(x_i/scale + 0.5) (round-half-up, identical across
    engines as pure double arithmetic; zero vectors get scale 1).

    Output: (vec_id, scale rounded to 6, qvec as comma-joined string
    — array cells stringify differently across engine→pandas bridges,
    see q_minhash_signatures). Narrow per-row projection."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(amax == 0.0, F.lit(1.0)).otherwise(amax / F.lit(127.0))
    q = F.transform(
        v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("long")
    )
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.round(scale, 6).alias("scale"),
        F.concat_ws(
            ",", F.transform(q, lambda x: x.cast("string"))
        ).alias("qvec"),
    )


def quantize_embeddings_oracle_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    v = f"list_transform({vec_col}, x -> cast(x AS DOUBLE))"
    amax = f"list_max(list_transform(__v, x -> abs(x)))"
    return f"""
WITH t AS (SELECT {id_col} AS vec_id, {v} AS __v FROM {table}),
s AS (
  SELECT vec_id, __v,
         CASE WHEN {amax} = 0.0 THEN 1.0 ELSE {amax} / 127.0 END AS __s
  FROM t
)
SELECT vec_id, round(__s, 6) AS scale,
       array_to_string(list_transform(__v,
         x -> cast(cast(floor(x / __s + 0.5) AS BIGINT) AS VARCHAR)),
         ',') AS qvec
FROM s
"""


# ---------------------------------------------------------------------------
# document chunking
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    size: int = 200,
    overlap: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-size character chunks with
    ``overlap`` characters shared between consecutive chunks — the
    standard context-window preprocessing step before embedding or
    training. Chunk i covers [i*step, i*step + size) with
    step = size - overlap; a document of n chars yields
    1 + ceil((n - size) / step) chunks (1 if n <= size).

    Output: (doc_id, chunk_id, chunk_text, n_chunks).

    Scale: explode of a per-row integer sequence — a narrow
    projection, no shuffle; chunk counts are bounded by doc length so
    there is no skew beyond the corpus's own length distribution.
    """
    if overlap >= size:
        raise ValueError("overlap must be < size")
    step = size - overlap
    n = F.length(F.col(text_col))
    extra = F.greatest(n - size, F.lit(0))
    n_chunks = (
        F.lit(1) + F.floor((extra + step - 1) / F.lit(step))
    ).cast("long")
    out = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        n_chunks.alias("n_chunks"),
        F.explode(
            F.sequence(F.lit(0).cast("long"), n_chunks - 1)
        ).alias("chunk_id"),
    )
    return out.select(
        "doc_id",
        "chunk_id",
        F.col("_t")
        .substr((F.col("chunk_id") * step + 1).cast("int"), F.lit(size))
        .alias("chunk_text"),
        "n_chunks",
    )


def chunk_documents_oracle_sql(
    table: str = "documents",
    size: int = 200,
    overlap: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    step = size - overlap
    return f"""
WITH t AS (
  SELECT {id_col} AS doc_id, {text_col} AS _t,
         (1 + (greatest(length({text_col}) - {size}, 0) + {step} - 1)
              // {step})::BIGINT AS n_chunks
  FROM {table}
)
SELECT doc_id, u.chunk_id, substr(_t, u.chunk_id * {step} + 1, {size})
         AS chunk_text, n_chunks
FROM t, unnest(generate_series(0, n_chunks - 1)) AS u(chunk_id)
"""


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Patterns restricted to syntax with identical semantics in Java
# regex (Spark) and RE2 (DuckDB): char classes, bounded repeats, \b.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact emails / phone numbers / SSN-shaped ids, reporting
    per-document match counts: (doc_id, clean_text, n_email,
    n_phone, n_ssn). Redaction order matters (SSN-shaped substrings
    inside an already-redacted phone must not double-count), so
    counts are taken on the original text per pattern and
    replacements apply sequentially. Narrow codegen projection —
    regexes run JVM-side, no Python, no shuffle."""
    c = F.col(text_col)
    counts = [
        F.regexp_count(c, F.lit(p)).alias(f"n_{name}")
        for name, p in PII_PATTERNS.items()
    ]
    clean = c
    for name, p in PII_PATTERNS.items():
        clean = F.regexp_replace(clean, p, f"<{name.upper()}>")
    return df.select(
        F.col(id_col).alias("doc_id"), clean.alias("clean_text"), *counts
    )


def pii_scrub_oracle_sql(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id"
) -> str:
    counts = ", ".join(
        f"length(regexp_extract_all({text_col}, '{p}')) AS n_{name}"
        for name, p in PII_PATTERNS.items()
    )
    clean = text_col
    for name, p in PII_PATTERNS.items():
        clean = f"regexp_replace({clean}, '{p}', '<{name.upper()}>', 'g')"
    return (
        f"SELECT {id_col} AS doc_id, {clean} AS clean_text, {counts} "
        f"FROM {table}"
    )


# ---------------------------------------------------------------------------
# provenance (source/domain) filtering
# ---------------------------------------------------------------------------


def provenance_filter(
    df: DataFrame,
    blocked_sources: list[str],
    allowed_langs: list[str] | None = None,
    source_col: str = "source",
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop documents from blocked provenances (the domain-blocklist
    step of web-corpus pipelines) and optionally restrict languages.
    Output: (doc_id, source, lang, keep, reason) with reason the
    first failing rule ('blocked_source' | 'lang' | 'ok').

    Scale: both lists are literal IN-filters — pushed into the scan
    (no broadcast join needed below thousands of entries; swap to a
    broadcast semi-join for a multi-million-domain blocklist)."""
    src = F.col(source_col)
    reason = F.when(src.isin(blocked_sources), F.lit("blocked_source"))
    if allowed_langs is not None:
        reason = reason.when(
            ~F.col(lang_col).isin(allowed_langs), F.lit("lang")
        )
    reason = reason.otherwise(F.lit("ok"))
    return df.select(
        F.col(id_col).alias("doc_id"),
        src.alias("source"),
        F.col(lang_col).alias("lang"),
        (reason == "ok").alias("keep"),
        reason.alias("reason"),
    )


def provenance_filter_oracle_sql(
    blocked_sources: list[str],
    allowed_langs: list[str] | None = None,
    table: str = "documents",
    source_col: str = "source",
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> str:
    def _lit(s: str) -> str:  # SQL string literal, quotes doubled
        return "'" + s.replace("'", "''") + "'"

    cases = []
    if blocked_sources:  # IN () is a parse error; [] blocks nothing
        bl = ", ".join(_lit(s) for s in blocked_sources)
        cases.append(f"WHEN {source_col} IN ({bl}) THEN 'blocked_source'")
    if allowed_langs is not None:
        al = ", ".join(_lit(s) for s in allowed_langs) or "''"
        cases.append(f"WHEN {lang_col} NOT IN ({al}) THEN 'lang'")
    if not cases:
        cases.append("WHEN FALSE THEN 'blocked_source'")
    reason = f"CASE {' '.join(cases)} ELSE 'ok' END"
    return (
        f"SELECT {id_col} AS doc_id, {source_col} AS source, "
        f"{lang_col} AS lang, ({reason}) = 'ok' AS keep, "
        f"{reason} AS reason FROM {table}"
    )


# ---------------------------------------------------------------------------
# mixture sampling (data mixing)
# ---------------------------------------------------------------------------


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    target_total: int,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Compose a training mixture: sample each source at the rate
    that makes its share of ``target_total`` documents match
    ``weights`` (normalized). Sources absent from ``weights`` are
    dropped. Selection is deterministic hash-order (hash60 of the
    id), so the same mixture reproduces across runs and engines —
    the property `rand()` sampling lacks.

    Output: (doc_id, source, keep) for docs of weighted sources;
    keep marks mixture membership. Rates are capped at 1.0 (a source
    smaller than its target share contributes everything it has;
    documented under-delivery rather than duplication — upsampling
    is a separate epoch-repeat concern).

    Scale: one count-by-source aggregate (tiny), broadcast back; the
    corpus scan stays narrow and the filter is a per-row hash
    compare. No corpus shuffle.
    """
    total_w = sum(weights.values())
    targets = [
        (s, w / total_w * target_total) for s, w in weights.items()
    ]
    spark = df.sparkSession
    tgt = spark.createDataFrame(targets, f"{source_col} string, _target double")
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    rates = counts.join(tgt, source_col).select(
        source_col,
        F.least(F.col("_target") / F.col("_n"), F.lit(1.0)).alias("_rate"),
    )
    # deterministic per-doc draw in [0, 1): hash60 spans 60 bits
    draw = hash60(F.col(id_col).cast("string")) / F.lit(
        float(1 << 60)
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(source_col).alias("source"),
            (draw < F.col("_rate")).alias("keep"),
        )
    )


def mixture_sample_oracle_sql(
    weights: dict[str, float],
    target_total: int,
    table: str = "documents",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> str:
    total_w = sum(weights.values())
    rows = ", ".join(
        f"('{s}', {w / total_w * target_total!r})"
        for s, w in weights.items()
    )
    h = hash60_duckdb(f"cast({id_col} AS VARCHAR)")
    return f"""
WITH tgt({source_col}, _target) AS (VALUES {rows}),
counts AS (
  SELECT {source_col}, count(*) AS _n FROM {table} GROUP BY 1
),
rates AS (
  SELECT {source_col}, least(_target / _n, 1.0) AS _rate
  FROM counts JOIN tgt USING ({source_col})
)
SELECT {id_col} AS doc_id, {source_col} AS source,
       ({h}) / {float(1 << 60)!r} < _rate AS keep
FROM {table} JOIN rates USING ({source_col})
"""


def mixture_temperature(
    df: DataFrame,
    temperature: float,
    target_total: int,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based mixture (the multilingual/data-mixing
    standard, e.g. mT5's alpha-sampling): source weights are DERIVED
    from corpus counts, w_s = n_s^(1/T) / sum n^(1/T), instead of
    hand-set — T=1 reproduces natural proportions, T->inf approaches
    uniform, so low-resource sources are boosted without choosing
    numbers per source. Same deterministic hash draw and rate-cap
    contract as mixture_sample; same scale shape (one tiny
    count-by-source aggregate broadcast back, zero corpus shuffle).
    A last-ulp pow() divergence flips a verdict only when a draw sits
    within ulps of its rate — probability ~2^-53 per row."""
    inv_t = 1.0 / float(temperature)
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    powed = counts.select(
        source_col, "_n", F.pow(F.col("_n").cast("double"), inv_t).alias("_p")
    )
    tot = powed.agg(F.sum("_p").alias("_tp"))
    rates = powed.join(F.broadcast(tot)).select(
        source_col,
        F.least(
            F.col("_p") / F.col("_tp") * float(target_total) / F.col("_n"),
            F.lit(1.0),
        ).alias("_rate"),
    )
    draw = hash60(F.col(id_col).cast("string")) / F.lit(float(1 << 60))
    return df.join(F.broadcast(rates), source_col).select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        (draw < F.col("_rate")).alias("keep"),
    )


def mixture_temperature_oracle_sql(
    temperature: float,
    target_total: int,
    table: str = "documents",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> str:
    h = hash60_duckdb(f"cast({id_col} AS VARCHAR)")
    inv_t = 1.0 / float(temperature)
    return f"""
WITH counts AS (
  SELECT {source_col}, count(*) AS _n FROM {table} GROUP BY 1
),
powed AS (
  SELECT {source_col}, _n, pow(_n::DOUBLE, {inv_t!r}) AS _p FROM counts
),
tot AS (SELECT sum(_p) AS _tp FROM powed),
rates AS (
  SELECT {source_col},
         least(_p / _tp * {float(target_total)!r} / _n, 1.0) AS _rate
  FROM powed, tot
)
SELECT {id_col} AS doc_id, {source_col} AS source,
       ({h}) / {float(1 << 60)!r} < _rate AS keep
FROM {table} JOIN rates USING ({source_col})
"""


def export_jsonl(
    df,
    path: str,
    shards: int | None = None,
    compression: str | None = "gzip",
) -> int:
    """Deliver a curated corpus as sharded JSON-Lines — the handoff
    format most training loaders consume. Beyond-reference (the
    reference only writes to TiDB); the Spark-native export is a
    single distributed write:

    - ``shards``: exact output shard count (repartition; one shuffle)
      — use when the loader wants fixed-size worker shards. None
      keeps the input partitioning (no shuffle, one file per task —
      the right default when the upstream already sized partitions).
    - ``compression``: any Spark codec ('gzip', 'bzip2', None...).
      gzip JSONL is splittable per-FILE, not per-byte, so shard
      count = read parallelism downstream; target ~100-500 MB/shard
      at 100 TB.

    Binary columns are not JSON-encodable portably; callers export
    multimodal payloads as parquet and JSONL the metadata. Returns
    the number of shard files written."""
    import os

    w = df
    if shards is not None and shards > 0:
        w = df.repartition(shards)
    writer = w.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)
    return sum(
        1
        for f in os.listdir(path)
        if f.startswith("part-")
    )


def canonicalize_url(c: Column) -> Column:
    """Canonical URL form for crawl-scale dedup: lowercase scheme and
    host, strip default ports (:80/:443) and fragments, drop utm_*
    tracking params, sort the surviving query params. All JVM string
    and higher-order functions — a narrow codegen projection (URL
    dedup at 100 TB is exact dedup on THIS column; without
    canonicalization near-identical URLs defeat it)."""
    no_frag = F.regexp_replace(c, "#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, r"^([^:/?#]+)://", 1))
    auth = F.lower(
        F.regexp_extract(no_frag, r"^[^:/?#]+://([^/?#]*)", 1)
    )
    # default-port stripping is scheme-AWARE: http on :443 (or https
    # on :80) is a different resource and must not merge
    auth = F.when(
        scheme == "http", F.regexp_replace(auth, r":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(auth, r":443$", "")
    ).otherwise(auth)
    rest = F.regexp_extract(no_frag, r"^[^:/?#]+://[^/?#]*(.*)$", 1)
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (~p.startswith("utm_")) & (p != ""),
    )
    params = F.array_sort(params)
    qs = F.when(
        F.size(params) > 0,
        F.concat(F.lit("?"), F.array_join(params, "&")),
    ).otherwise(F.lit(""))
    canonical = F.concat(scheme, F.lit("://"), auth, path, qs)
    # only absolute URLs canonicalize; schemeless/relative inputs
    # pass through unchanged (collapsing them all to '://' would make
    # every such URL a mutual duplicate under exact dedup)
    return F.when(c.rlike("^[^:/?#]+://"), canonical).otherwise(c)


def canonicalize_url_sql_duckdb(expr: str) -> str:
    """DuckDB twin of canonicalize_url (same regexes and ordering)."""
    no_frag = f"regexp_replace({expr}, '#.*$', '')"
    scheme = f"lower(regexp_extract({no_frag}, '^([^:/?#]+)://', 1))"
    raw_auth = (
        f"lower(regexp_extract({no_frag}, "
        f"'^[^:/?#]+://([^/?#]*)', 1))"
    )
    auth = (
        f"CASE WHEN {scheme} = 'http' "
        f"THEN regexp_replace({raw_auth}, ':80$', '') "
        f"WHEN {scheme} = 'https' "
        f"THEN regexp_replace({raw_auth}, ':443$', '') "
        f"ELSE {raw_auth} END"
    )
    rest = f"regexp_extract({no_frag}, '^[^:/?#]+://[^/?#]*(.*)$', 1)"
    path = f"regexp_extract({rest}, '^([^?]*)', 1)"
    query = f"regexp_extract({rest}, '\\?(.*)$', 1)"
    params = (
        f"list_sort(list_filter(string_split({query}, '&'), "
        f"p -> NOT starts_with(p, 'utm_') AND p <> ''))"
    )
    qs = (
        f"CASE WHEN len({params}) > 0 "
        f"THEN '?' || list_aggregate({params}, 'string_agg', '&') "
        f"ELSE '' END"
    )
    canonical = f"({scheme} || '://' || {auth} || {path} || {qs})"
    return (
        f"CASE WHEN regexp_matches({expr}, '^[^:/?#]+://') "
        f"THEN {canonical} ELSE {expr} END"
    )


_HTML_ENTITIES = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
]  # &amp; LAST so freshly decoded ampersands aren't double-decoded


def strip_html(c: Column) -> Column:
    """Markup removal for crawled text: drop script/style blocks with
    their content, strip remaining tags, decode the common entities,
    collapse whitespace. All JVM regex codegen — one narrow
    projection over the corpus (the first cleaning step of every
    crawl pipeline; entity order matters: &amp; decodes last so
    '&amp;lt;' yields '&lt;', not '<')."""
    # two separate patterns: DuckDB's RE2 oracle has no backrefs
    out = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style>", " ")
    # truncated pages: an UNCLOSED script/style block (all matched
    # ones are already gone) must not leak its source into the
    # training text — drop from the opening tag to end-of-string
    out = F.regexp_replace(out, r"(?is)<script[^>]*>.*$", " ")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*$", " ")
    out = F.regexp_replace(out, r"(?s)<[^>]+>", " ")
    for ent, ch in _HTML_ENTITIES:
        out = F.regexp_replace(out, ent, ch)
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def strip_html_sql_duckdb(expr: str) -> str:
    """DuckDB twin (same regexes, same entity order)."""
    out = (
        f"regexp_replace({expr}, "
        f"'(?is)<script[^>]*>.*?</script>', ' ', 'g')"
    )
    out = (
        f"regexp_replace({out}, "
        f"'(?is)<style[^>]*>.*?</style>', ' ', 'g')"
    )
    out = f"regexp_replace({out}, '(?is)<script[^>]*>.*$', ' ', 'g')"
    out = f"regexp_replace({out}, '(?is)<style[^>]*>.*$', ' ', 'g')"
    out = f"regexp_replace({out}, '(?s)<[^>]+>', ' ', 'g')"
    for ent, ch in _HTML_ENTITIES:
        ch_sql = ch.replace("'", "''")
        out = f"replace({out}, '{ent}', '{ch_sql}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


# ---------------------------------------------------------------------------
# PageRank (domain-authority weighting, CommonCrawl-style curation)
# ---------------------------------------------------------------------------


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Power-iteration PageRank over an edge list, deterministic
    enough for a cross-engine oracle: ranks round to 9 decimals
    BEFORE each re-use (the per-node contribution sum is the one op
    whose float ordering an engine may permute), dangling mass
    redistributes uniformly, duplicate edges count once. Output
    (node, rank) rounded to 6. The curation use: authority weights
    for source/domain quality scoring a la CommonCrawl graph ranks.

    Scale shape: per iteration ONE shuffle — contributions group by
    dst (map-side combined); out-degrees and the dangling-mass scalar
    are tiny broadcast aggregates; ranks live in the node table, never
    collected. The edge list is never mutated, so its scan/partition
    reuses across iterations."""
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n"))
    r = nodes.join(F.broadcast(n_nodes)).select(
        "node", F.round(F.lit(1.0) / F.col("n"), 9).alias("rank")
    )
    for _ in range(iters):
        withdeg = r.join(
            F.broadcast(outdeg), r["node"] == outdeg["src"], "left"
        )
        dangling = withdeg.filter(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass")
        )
        contrib = (
            withdeg.filter(F.col("deg").isNotNull())
            .join(e, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("c"))
        )
        r = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .join(F.broadcast(n_nodes))
            .join(F.broadcast(dangling))
            .select(
                "node",
                F.round(
                    (1.0 - damping) / F.col("n")
                    + damping
                    * (
                        F.coalesce(F.col("c"), F.lit(0.0))
                        + F.col("dmass") / F.col("n")
                    ),
                    9,
                ).alias("rank"),
            )
        )
    return r.select("node", F.round("rank", 6).alias("rank"))


def pagerank_sql_duckdb(
    edges_sql: str,
    iters: int = 3,
    damping: float = 0.85,
) -> str:
    """Unrolled DuckDB twin: identical init, identical round-9
    republish per iteration, identical dangling handling. edges_sql
    must produce (src, dst)."""
    sql = f"""WITH e AS (SELECT DISTINCT src, dst FROM ({edges_sql})),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
outdeg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT node, round(1.0 / n, 9) AS rank FROM nodes, nn)"""
    prev = "r0"
    for t in range(1, iters + 1):
        sql += f""",
d{t} AS (
  SELECT coalesce(sum(rank), 0.0) AS dmass
  FROM {prev} LEFT JOIN outdeg ON {prev}.node = outdeg.src
  WHERE deg IS NULL
),
c{t} AS (
  SELECT e.dst, sum(r.rank / o.deg) AS c
  FROM {prev} r JOIN outdeg o ON r.node = o.src
  JOIN e ON e.src = r.node
  GROUP BY e.dst
),
r{t} AS (
  SELECT node,
         round((1.0 - {damping!r}) / n
               + {damping!r} * (coalesce(c, 0.0) + dmass / n), 9)
             AS rank
  FROM nodes LEFT JOIN c{t} ON nodes.node = c{t}.dst, nn, d{t}
)"""
        prev = f"r{t}"
    return sql + f"\nSELECT node, round(rank, 6) AS rank FROM {prev}"


# ---------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis-Spirakis)
# ---------------------------------------------------------------------------


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-n weighted sample without replacement: the A-Res scheme
    (Efraimidis & Spirakis 2006) with the "random" draw derandomized
    to the portable md5-prefix hash — u = (hash60(id)+1)/(2^60+1) in
    (0,1], key = ln(u)/weight, keep the n largest keys. Reproducible
    across runs, partitionings, AND engines: a last-ulp ln()
    difference can only flip a rank when two keys are within ulps of
    each other, which for continuous keys means equal (id-hash,
    weight) pairs — and exact ties break by id. Inclusion probability
    is proportional to weight, the standard quality-weighted corpus
    draw. Output: sampled rows + their sample_rank.

    Scale: narrow per-row key, one global top-n (n is small by
    definition of a sample; for huge n switch to the hash-threshold
    pattern of stratified_sample_hash)."""
    u = (hash60(F.col(id_col).cast("string")) + 1) / F.lit(
        float((1 << 60) + 1)
    )
    key = F.log(u) / F.col(weight_col).cast("double")
    # orderBy().limit() -> TakeOrderedAndProject: per-partition top-n
    # + an n-row merge, never the single-partition global window a
    # partitionBy-less row_number would force; the rank is then a
    # window over just the n selected rows
    top = df.withColumn("_k", key).orderBy(
        F.col("_k").desc(), F.col(id_col).asc()
    ).limit(n)
    w = Window.orderBy(F.col("_k").desc(), F.col(id_col).asc())
    return (
        top.withColumn("sample_rank", F.row_number().over(w)).drop("_k")
    )


def weighted_sample_sql_duckdb(
    table: str,
    weight_col: str,
    n: int,
    select_cols: list[str],
    id_col: str = "doc_id",
) -> str:
    h = hash60_duckdb(f"cast({id_col} AS VARCHAR)")
    key = (
        f"ln((({h}) + 1) / {float((1 << 60) + 1)!r}) / "
        f"cast({weight_col} AS DOUBLE)"
    )
    cols = ", ".join(select_cols)
    return f"""
SELECT {cols}, sample_rank FROM (
  SELECT {cols},
         cast(row_number() OVER (ORDER BY {key} DESC, {id_col}) AS INTEGER) AS sample_rank
  FROM {table}
) WHERE sample_rank <= {n}
"""


# ---------------------------------------------------------------------------
# DSIR: Data Selection via Importance Resampling (Xie et al., 2023)
# ---------------------------------------------------------------------------


def _dsir_grams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Hashed-n-gram feature stream: one row per unigram/bigram
    INSTANCE (counts matter in DSIR, so no dedup). Tokens are the
    non-empty ``[a-z0-9]+`` runs of the lowercased text; bigrams are
    adjacent pairs of that filtered sequence."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda x: F.length(x) > 0,
    )

    # tokenize ONCE per row (let-binding) and build bigrams by zipping
    # the array with its own shift — element_at(toks, i) inside a
    # per-index lambda would re-run the tokenizer per element, O(L^2)
    def grams(t: Column) -> Column:
        n = F.size(t)
        bi = F.when(
            n >= 2,
            F.zip_with(
                F.slice(t, 1, n - 1),
                F.slice(t, 2, n - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(t, bi)

    return _spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(let(toks, grams)).alias("g"),
    )


def _dsir_grams_sql_duckdb(table: str, text_col: str, id_col: str) -> str:
    toks = (
        f"list_filter(string_split_regex(lower({text_col}), "
        f"'[^a-z0-9]+'), x -> length(x) > 0)"
    )
    return f"""
  SELECT {id_col} AS doc_id,
         unnest(list_concat(
           t,
           list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
         )) AS g
  FROM (SELECT {id_col}, {toks} AS t FROM {table})
"""


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    target_is_subset: bool = False,
) -> DataFrame:
    """Per-document DSIR log importance weight: how much more likely
    the document is under a small target-domain language model than
    under the raw-corpus model, both estimated as add-one-smoothed
    multinomials over ``n_buckets`` hashed n-gram buckets (the
    "hashed n-gram features" estimator of Xie et al. 2023, *Data
    Selection for Language Models via Importance Resampling*).

        w(d) = sum_g  count_g(d) * ( ln p_tgt[h(g)] - ln p_raw[h(g)] )

    Output: (doc_id, weight DOUBLE rounded to 4). Documents with no
    grams get weight 0.

    Engine-exactness: each bucket's log-ratio delta is quantized to
    an INTEGER count of 1e-9 units via floor(x*1e9 + 0.5) — floor on
    a binary double is bit-deterministic across engines, unlike
    round(double, 9), whose Spark implementation rounds the shortest
    decimal string while DuckDB rounds the binary value (a half-way
    delta flipped the 4th decimal at degenerate corpus sizes). The
    per-doc multiply-sum and the final 4-decimal half-away-from-zero
    round then run in exact int64 arithmetic — associative and
    partition-order-independent. Bound: per-doc |sum| < 2^63 units
    of 1e-9, i.e. ~4e8 grams per document at the max |ln ratio|.

    Scale shape (100 TB): the corpus is tokenized ONCE into a gram
    stream; bucket histograms are two fixed-size (n_buckets-row)
    aggregates — the per-partition partial maps are bounded by
    n_buckets regardless of corpus size — joined back by broadcast.
    The only corpus-scale shuffle is the final groupBy(doc_id), which
    carries (doc_id, bucket, count) triples, never text. The target
    sample is small by construction (that is the DSIR premise).

    ``target_is_subset``: promise that every ``target`` row IS a row
    of ``df`` (same ids, same text — e.g. ``df.filter(pred)``), AND
    that ``id_col`` is a unique key of ``df``. The target bucket
    histogram is then derived from the corpus's own per-(doc, bucket)
    counts by a broadcast semi-join on the DISTINCT target ids
    instead of re-tokenizing and re-hashing the target sample —
    bit-identical counts (sum of per-doc bucket counts over the
    target ids == the target gram histogram), one less corpus-scale
    tokenize+hash pass (r11 opt, guide §2.4). The uniqueness
    requirement is load-bearing: if the corpus carried duplicate
    doc_ids and the target selected only some rows of a duplicated
    id (or carried intentional duplicates), the id-keyed derivation
    would count grams the target does not contain (or drop repeats
    it does) — callers with non-unique ids must leave this False."""
    spark = df.sparkSession
    grams = _dsir_grams(df, text_col, id_col)
    b = F.pmod(hash60(F.col("g")), F.lit(n_buckets)).alias("b")
    doc_b = grams.select("doc_id", b).groupBy("doc_id", "b").agg(
        F.count(F.lit(1)).alias("n")
    )
    # doc_b feeds BOTH the corpus histogram and the final scoring
    # join. Materialize it once (lazy localCheckpoint): its (doc_id,
    # bucket, count) triples are a small fraction of the corpus, and
    # without the pin each consumer would re-tokenize the whole
    # corpus (AQE stage reuse is not guaranteed across the broadcast
    # boundary the histogram sits behind).
    doc_b = doc_b.localCheckpoint(eager=False)
    # corpus bucket histogram derived from doc_b, NOT by re-exploding
    # grams: the raw counts are sum-of-per-doc-counts by definition
    raw_cnt = doc_b.groupBy("b").agg(F.sum("n").alias("cr"))
    if target_is_subset:
        # same derivation for the target: its grams are already
        # counted inside doc_b — select them by id (broadcast: the
        # target sample is small by the DSIR premise) and sum
        tids = target.select(F.col(id_col).alias("doc_id")).distinct()
        tgt_cnt = (
            doc_b.join(F.broadcast(tids), "doc_id")
            .groupBy("b")
            .agg(F.sum("n").alias("ct"))
        )
    else:
        tgrams = _dsir_grams(target, text_col, id_col)
        tgt_cnt = tgrams.select(b).groupBy("b").agg(
            F.count(F.lit(1)).alias("ct")
        )
    # dense bucket table 0..B-1 so absent buckets smooth to count 0
    buckets = spark.range(n_buckets).select(F.col("id").alias("b"))
    table = (
        buckets.join(F.broadcast(raw_cnt), "b", "left")
        .join(F.broadcast(tgt_cnt), "b", "left")
        .select(
            "b",
            F.coalesce("cr", F.lit(0)).alias("cr"),
            F.coalesce("ct", F.lit(0)).alias("ct"),
        )
    )
    # totals as window sums over the bucket table itself (a FIXED
    # n_buckets-row frame, so the unpartitioned window is a
    # 256-row single-partition op at any corpus scale) — a separate
    # totals aggregate + cross join would reference `table` twice
    # and duplicate its whole corpus-scan subtree in the plan
    every = Window.partitionBy()
    tr = F.sum("cr").over(every)
    tt = F.sum("ct").over(every)
    delta_i = (
        F.floor(
            (
                F.log(
                    (F.col("ct") + 1.0)
                    / (tt + F.lit(float(n_buckets)))
                )
                - F.log(
                    (F.col("cr") + 1.0)
                    / (tr + F.lit(float(n_buckets)))
                )
            )
            * F.lit(1e9)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("delta_i")
    )
    deltas = table.select("b", delta_i)
    scored = (
        doc_b.join(F.broadcast(deltas), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("n") * F.col("delta_i")).alias("_wi"))
    )
    docs = df.select(F.col(id_col).alias("doc_id"))
    # final 4-decimal round in exact int64 space (half away from
    # zero), then ONE exact double division by 1e4 — no double-space
    # rounding anywhere, so the twin agrees at every corpus size
    return (
        docs.join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_wi"), F.lit(0)).cast("long").alias("_wi"),
        )
        .selectExpr(
            "doc_id",
            "cast(CASE WHEN _wi >= 0 THEN (_wi + 50000) div 100000 "
            "ELSE -((-_wi + 50000) div 100000) END AS DOUBLE) / 10000.0"
            " AS weight",
        )
    )


def dsir_select(
    df: DataFrame,
    target: DataFrame,
    n: int,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    target_is_subset: bool = False,
) -> DataFrame:
    """Top-n corpus documents by DSIR importance weight (the
    deterministic hard-selection variant; for the paper's softened
    gumbel resampling compose ``dsir_weights`` with
    ``weighted_sample`` on exp(weight)). orderBy().limit() compiles
    to TakeOrderedAndProject — per-partition top-n, k-row merge, no
    single-partition window funnel."""
    w = dsir_weights(
        df, target, n_buckets, text_col, id_col,
        target_is_subset=target_is_subset,
    )
    return w.orderBy(F.col("weight").desc(), F.col("doc_id")).limit(n)


def dsir_weights_sql_duckdb(
    table: str,
    target_pred: str,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of dsir_weights where the target sample is
    ``SELECT * FROM table WHERE target_pred``. Identical hashing,
    smoothing, floor-quantized 1e-9 deltas and int64 aggregation."""
    h = hash60_duckdb("g")
    return f"""
WITH grams AS ({_dsir_grams_sql_duckdb(table, text_col, id_col)}),
tgrams AS (
  {_dsir_grams_sql_duckdb(f"(SELECT * FROM {table} WHERE {target_pred})", text_col, id_col)}
),
doc_b AS (
  SELECT doc_id, ({h}) % {n_buckets} AS b, count(*) AS n
  FROM grams GROUP BY 1, 2
),
raw_cnt AS (
  SELECT ({h}) % {n_buckets} AS b, count(*) AS cr FROM grams GROUP BY 1
),
tgt_cnt AS (
  SELECT ({h}) % {n_buckets} AS b, count(*) AS ct FROM tgrams GROUP BY 1
),
buckets AS (SELECT unnest(range({n_buckets})) AS b),
tbl AS (
  SELECT buckets.b,
         coalesce(cr, 0) AS cr, coalesce(ct, 0) AS ct
  FROM buckets
  LEFT JOIN raw_cnt ON buckets.b = raw_cnt.b
  LEFT JOIN tgt_cnt ON buckets.b = tgt_cnt.b
),
deltas AS (
  SELECT b,
         cast(floor(
           (ln((ct + 1.0) / (sum(ct) OVER () + {float(n_buckets)!r}))
            - ln((cr + 1.0) / (sum(cr) OVER () + {float(n_buckets)!r})))
           * 1e9 + 0.5) AS BIGINT) AS delta_i
  FROM tbl
),
scored AS (
  SELECT doc_id, cast(sum(n * delta_i) AS BIGINT) AS _wi
  FROM doc_b JOIN deltas USING (b) GROUP BY doc_id
),
wi AS (
  SELECT t.{id_col} AS doc_id, coalesce(_wi, 0) AS _wi
  FROM {table} t LEFT JOIN scored ON t.{id_col} = scored.doc_id
)
SELECT doc_id,
       cast(CASE WHEN _wi >= 0 THEN (_wi + 50000) // 100000
                 ELSE -((-_wi + 50000) // 100000) END AS DOUBLE)
       / 10000.0 AS weight
FROM wi
"""


def dsir_select_sql_duckdb(
    table: str,
    target_pred: str,
    n: int,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    inner = dsir_weights_sql_duckdb(
        table, target_pred, n_buckets, text_col, id_col
    )
    return f"""
SELECT doc_id, weight FROM ({inner})
ORDER BY weight DESC, doc_id LIMIT {n}
"""


# ---------------------------------------------------------------------------
# C4-style line-level cleaning (Raffel et al., 2020, §2.2)
# ---------------------------------------------------------------------------


def c4_line_filter(
    df: DataFrame,
    min_words: int = 3,
    min_kept_lines: int = 3,
    line_blacklist: tuple[str, ...] = ("javascript",),
    doc_blacklist: tuple[str, ...] = ("lorem ipsum", "{"),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The C4 line-level cleaning heuristics (Raffel et al. 2020,
    *Exploring the Limits of Transfer Learning...*, §2.2): keep only
    lines that end in terminal punctuation (``. ! ? "``) and contain
    at least ``min_words`` words; drop lines mentioning a
    ``line_blacklist`` term; drop the whole document when fewer than
    ``min_kept_lines`` lines survive or the raw text contains a
    ``doc_blacklist`` term (boilerplate/code markers).

    Output: (doc_id, n_kept, n_dropped, keep, text_clean) where
    text_clean re-joins the surviving lines.

    Scale: pure per-row array expressions (split -> transform ->
    filter -> array_join), whole-stage codegen, ZERO shuffles — the
    shape a line-level pass must have at 100 TB."""
    lines = F.transform(
        F.split(F.col(text_col), "\n"), lambda x: F.trim(x)
    )

    def line_ok(line: Column) -> Column:
        cond = (
            line.rlike('[.!?"]$')
            & (F.size(F.split(line, r"\s+")) >= min_words)
        )
        for term in line_blacklist:
            cond = cond & ~F.lower(line).contains(term.lower())
        return cond

    kept = F.filter(lines, line_ok)
    doc_ok = F.size(kept) >= min_kept_lines
    for term in doc_blacklist:
        doc_ok = doc_ok & ~F.lower(F.col(text_col)).contains(
            term.lower()
        )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(kept).alias("n_kept"),
        (F.size(lines) - F.size(kept)).alias("n_dropped"),
        doc_ok.alias("keep"),
        F.when(doc_ok, F.array_join(kept, "\n"))
        .otherwise(F.lit(""))
        .alias("text_clean"),
    )


def c4_line_filter_sql_duckdb(
    table: str,
    min_words: int = 3,
    min_kept_lines: int = 3,
    line_blacklist: tuple[str, ...] = ("javascript",),
    doc_blacklist: tuple[str, ...] = ("lorem ipsum", "{"),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of c4_line_filter (identical trimming, predicates
    and join order)."""
    line_terms = " AND ".join(
        f"NOT contains(lower(l), '{t.lower()}')" for t in line_blacklist
    ) or "TRUE"
    doc_terms = " AND ".join(
        f"NOT contains(lower({text_col}), '{t.lower()}')"
        for t in doc_blacklist
    ) or "TRUE"
    lines = f"list_transform(string_split({text_col}, chr(10)), x -> trim(x))"
    kept = (
        f"list_filter({lines}, l -> regexp_matches(l, '[.!?\"]$') "
        f"AND len(string_split_regex(l, '\\s+')) >= {min_words} "
        f"AND {line_terms})"
    )
    return f"""
SELECT {id_col} AS doc_id,
       cast(len(kept) AS INTEGER) AS n_kept,
       cast(len(lines) - len(kept) AS INTEGER) AS n_dropped,
       (len(kept) >= {min_kept_lines} AND {doc_terms}) AS keep,
       CASE WHEN len(kept) >= {min_kept_lines} AND {doc_terms}
            THEN array_to_string(kept, chr(10)) ELSE '' END AS text_clean
FROM (
  SELECT {id_col}, {text_col},
         {lines} AS lines, {kept} AS kept
  FROM {table}
)
"""


# ---------------------------------------------------------------------------
# Global boilerplate-line removal (RefinedWeb / MassiveText style)
# ---------------------------------------------------------------------------


def strip_boilerplate_lines(
    df: DataFrame,
    max_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove lines that repeat across more than ``max_df`` distinct
    documents — the corpus-global line dedup step of RefinedWeb
    (Penedo et al. 2023) / MassiveText: navigation bars, cookie
    banners and license footers repeat across thousands of pages and
    survive per-document filters, so the df (document frequency) of
    each exact line is the signal.

    Output: (doc_id, n_lines, n_kept, text_clean) — text_clean
    re-joins surviving lines in original order; every input doc
    appears (all-boilerplate docs keep an empty string).

    Scale shape: the line-frequency aggregate shuffles only (line
    hash, doc_id) pairs — never text. The repack shuffles each doc's
    surviving (pos, line) pairs back to their doc — one bounded
    corpus shuffle. When the hot-line set is small enough to collect
    (it is, by definition of boilerplate), the documented scale
    variant broadcasts it and filters the line array in place with
    zero text shuffle (decontaminate's broadcast-gram pattern)."""
    lines = F.split(F.col(text_col), "\n")
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(lines).alias("pos", "line"),
    ).withColumn("lhash", hash60(F.trim(F.col("line"))))
    hot = (
        exploded.groupBy("lhash")
        .agg(F.count_distinct("doc_id").alias("line_df"))
        .filter(F.col("line_df") > max_df)
        .select("lhash")
    )
    kept = exploded.join(F.broadcast(hot), "lhash", "left_anti")
    packed = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "line"))
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text_clean"),
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(lines).alias("n_lines"),
    )
    return base.join(packed, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
    )


def strip_boilerplate_lines_sql_duckdb(
    table: str,
    max_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of strip_boilerplate_lines — identical hashing,
    df threshold and order-preserving repack."""
    h = hash60_duckdb("trim(e['line'])")
    return f"""
WITH lined AS (
  SELECT {id_col} AS doc_id,
         string_split({text_col}, chr(10)) AS lines
  FROM {table}
),
exploded AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(lines) + 1),
                i -> struct_pack(pos := i, line := lines[i]))) AS e
  FROM lined
),
ex2 AS (
  SELECT doc_id, e['pos'] AS pos, e['line'] AS line, {h} AS lhash
  FROM exploded
),
hot AS (
  SELECT lhash FROM (
    SELECT lhash, count(DISTINCT doc_id) AS line_df
    FROM ex2 GROUP BY lhash
  ) WHERE line_df > {max_df}
),
kept AS (
  SELECT * FROM ex2 WHERE lhash NOT IN (SELECT lhash FROM hot)
),
packed AS (
  SELECT doc_id, count(*) AS n_kept,
         array_to_string(list(line ORDER BY pos), chr(10)) AS text_clean
  FROM kept GROUP BY doc_id
)
SELECT l.doc_id AS doc_id,
       cast(len(l.lines) AS INTEGER) AS n_lines,
       coalesce(p.n_kept, 0) AS n_kept,
       coalesce(p.text_clean, '') AS text_clean
FROM lined l LEFT JOIN packed p ON l.doc_id = p.doc_id
"""


# ---------------------------------------------------------------------------
# Triangle counting (degree-ordered, over the near-dup candidate graph)
# ---------------------------------------------------------------------------


def triangle_counts(
    edges: DataFrame,
    left_col: str = "left_id",
    right_col: str = "right_id",
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list — the
    local-clustering signal of a near-dup candidate graph (a dup
    CLUSTER is a clique, so triangle-dense nodes are the cores of
    boilerplate/template families; an isolated false-positive pair
    has none).

    Degree-ordered orientation (the classic MapReduce triangle
    algorithm, Suri & Vassilvitskii WWW 2011): every edge is directed
    from its (degree, id)-smaller endpoint to the larger, wedges are
    built only between OUT-neighbors, and each triangle is counted
    exactly once at its unique two-out-edge node. Out-degrees are
    bounded by O(sqrt(m)), so a celebrity node of degree d costs
    O(sqrt(m)^2) = O(m), never d^2 — the star-node blowup a naive
    lowest-id orientation hits on skewed dup graphs.

    Output: (node, n_triangles) for nodes in >= 1 triangle.

    Scale shape: one degree aggregate, two joins keyed by node ids
    and one keyed by the (v, w) edge pair — everything equi-keyed and
    AQE-skew-splittable; no driver state.
    """
    e = _canonical_edges(edges, left_col, right_col)
    deg = _edge_degrees(e)
    return _triangles_from_canonical(e, deg)


def _canonical_edges(
    edges: DataFrame, left_col: str, right_col: str
) -> DataFrame:
    """Undirected edge list -> canonical deduped (a < b) edges."""
    a = F.least(F.col(left_col), F.col(right_col)).alias("a")
    b = F.greatest(F.col(left_col), F.col(right_col)).alias("b")
    return (
        edges.select(a, b)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _edge_degrees(e: DataFrame) -> DataFrame:
    """(v, d) degree table over canonical (a, b) edges."""
    return (
        e.select(F.col("a").alias("v"))
        .union(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _triangles_from_canonical(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-ordered triangle counting over pre-canonicalized edges
    and a precomputed degree table (shared with
    clustering_coefficient so neither pass runs twice)."""
    wd = (
        e.join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    directed = wd.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    l = directed.alias("l")
    r = directed.alias("r")
    wedge_lt = (F.col("l.dv") < F.col("r.dv")) | (
        (F.col("l.dv") == F.col("r.dv")) & (F.col("l.v") < F.col("r.v"))
    )
    wedges = l.join(r, (F.col("l.u") == F.col("r.u")) & wedge_lt).select(
        F.col("l.u").alias("u"),
        F.col("l.v").alias("v"),
        F.col("r.v").alias("w"),
    )
    closing = directed.select(
        F.col("u").alias("v"), F.col("v").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"])
    return (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def triangle_counts_oracle_sql(edges_sql: str) -> str:
    """DuckDB twin of triangle_counts; ``edges_sql`` must produce
    (left_id, right_id). Identical (degree, id) orientation order."""
    return f"""
WITH raw AS (SELECT * FROM ({edges_sql})),
e AS (
  SELECT DISTINCT least(left_id, right_id) AS a,
         greatest(left_id, right_id) AS b
  FROM raw WHERE left_id <> right_id
),
deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM e UNION ALL SELECT b FROM e
  ) GROUP BY 1
),
wd AS (
  SELECT e.a, e.b, da.d AS da, db.d AS db
  FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v
),
directed AS (
  SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
         CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v,
         CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dv
  FROM wd
),
wedges AS (
  SELECT l.u AS u, l.v AS v, r.v AS w
  FROM directed l JOIN directed r
    ON l.u = r.u AND (l.dv < r.dv OR (l.dv = r.dv AND l.v < r.v))
),
tri AS (
  SELECT w.u, w.v, w.w
  FROM wedges w JOIN directed c ON c.u = w.v AND c.v = w.w
)
SELECT node, count(*) AS n_triangles FROM (
  SELECT u AS node FROM tri
  UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri
) GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Market-basket association rules (co-purchase pairs, Apriori k=2)
# ---------------------------------------------------------------------------


def market_basket_pairs(
    df: DataFrame,
    basket_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    min_support: int = 2,
    max_basket: int = 64,
) -> DataFrame:
    """Pairwise association rules over baskets — the k=2 Apriori
    step: for item pairs co-occurring in >= ``min_support`` baskets,
    emit support, confidence in both directions and lift.

        conf(a->b) = n_ab / n_a        lift = n_ab * N / (n_a * n_b)

    Engine-exactness: all counts are exact integers; the ratios are
    single double divisions of identical integer inputs (identical
    in every engine), rounded to 6.

    Scale shape: items dedupe per basket first (multiplicity is not
    co-occurrence), pairs form via a self-join keyed by the basket
    id — quadratic only within one basket, and baskets larger than
    ``max_basket`` items are dropped before pairing (the same skew
    cap as LSH band buckets: a degenerate mega-basket would
    contribute B^2 pairs and distort every rule it touches). Item
    supports and the basket total are broadcast-sized aggregates.
    """
    b = df.select(
        F.col(basket_col).alias("bk"), F.col(item_col).alias("it")
    ).distinct()
    sizes = b.groupBy("bk").agg(F.count(F.lit(1)).alias("_n"))
    b = b.join(
        sizes.filter(F.col("_n") <= int(max_basket)).select("bk"), "bk"
    )
    nt = b.agg(F.count_distinct("bk").alias("n_total"))
    supp = b.groupBy("it").agg(F.count(F.lit(1)).alias("n_item"))
    pairs = (
        b.alias("l")
        .join(
            b.alias("r"),
            (F.col("l.bk") == F.col("r.bk"))
            & (F.col("l.it") < F.col("r.it")),
        )
        .groupBy(
            F.col("l.it").alias("item_a"), F.col("r.it").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= int(min_support))
    )
    sa = supp.withColumnRenamed("it", "item_a").withColumnRenamed(
        "n_item", "n_a"
    )
    sb = supp.withColumnRenamed("it", "item_b").withColumnRenamed(
        "n_item", "n_b"
    )
    return (
        pairs.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .join(F.broadcast(nt))
        .select(
            "item_a",
            "item_b",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double") / F.col("n_a"), 6
            ).alias("conf_a_to_b"),
            F.round(
                F.col("n_ab").cast("double") / F.col("n_b"), 6
            ).alias("conf_b_to_a"),
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n_total").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


def market_basket_pairs_oracle_sql(
    table: str = "lineitem",
    basket_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    min_support: int = 2,
    max_basket: int = 64,
) -> str:
    """DuckDB twin — identical dedupe, cap, counts and float order."""
    return f"""
WITH b0 AS (
  SELECT DISTINCT {basket_col} AS bk, {item_col} AS it FROM {table}
),
ok AS (
  SELECT bk FROM b0 GROUP BY bk HAVING count(*) <= {int(max_basket)}
),
b AS (SELECT b0.* FROM b0 JOIN ok USING (bk)),
nt AS (SELECT count(DISTINCT bk) AS n_total FROM b),
supp AS (SELECT it, count(*) AS n_item FROM b GROUP BY 1),
pairs AS (
  SELECT l.it AS item_a, r.it AS item_b, count(*) AS n_ab
  FROM b l JOIN b r ON l.bk = r.bk AND l.it < r.it
  GROUP BY 1, 2 HAVING count(*) >= {int(min_support)}
)
SELECT item_a, item_b, n_ab,
       round(cast(n_ab AS DOUBLE) / sa.n_item, 6) AS conf_a_to_b,
       round(cast(n_ab AS DOUBLE) / sb.n_item, 6) AS conf_b_to_a,
       round(cast(n_ab AS DOUBLE) * cast(n_total AS DOUBLE)
             / (cast(sa.n_item AS DOUBLE) * cast(sb.n_item AS DOUBLE)),
             6) AS lift
FROM pairs
JOIN supp sa ON pairs.item_a = sa.it
JOIN supp sb ON pairs.item_b = sb.it, nt
"""


def clustering_coefficient(
    edges: DataFrame,
    left_col: str = "left_id",
    right_col: str = "right_id",
) -> DataFrame:
    """Local clustering coefficient per node over an undirected edge
    list: cc(v) = 2*T(v) / (deg(v) * (deg(v)-1)) — how close each
    node's neighborhood is to a clique. On a near-dup candidate
    graph, cc ~ 1 marks true template families (cliques) while low
    cc flags chain-like false-positive bridges — a cheap precision
    signal before committing to a survivor policy.

    Triangles come from the degree-ordered ``triangle_counts`` (no
    star-node blowup); degrees are one aggregate over the canonical
    edge set. Nodes with degree 1 have cc undefined -> 0 by the
    usual convention. Output: (node, degree, n_triangles, cc).
    """
    e = _canonical_edges(edges, left_col, right_col)
    degs = _edge_degrees(e)
    deg = degs.select(
        F.col("v").alias("node"), F.col("d").alias("degree")
    )
    tri = _triangles_from_canonical(e, degs)
    d = F.col("degree").cast("double")
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias(
                "n_triangles"
            ),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0
                    * F.coalesce(
                        F.col("n_triangles").cast("double"), F.lit(0.0)
                    )
                    / (d * (d - 1.0)),
                ).otherwise(0.0),
                6,
            ).alias("cc"),
        )
    )


def clustering_coefficient_oracle_sql(edges_sql: str) -> str:
    """DuckDB twin; edges_sql must produce (left_id, right_id)."""
    tri = triangle_counts_oracle_sql(edges_sql)
    return f"""
WITH eraw AS (SELECT * FROM ({edges_sql})),
ee AS (
  SELECT DISTINCT least(left_id, right_id) AS a,
         greatest(left_id, right_id) AS b
  FROM eraw WHERE left_id <> right_id
),
degs AS (
  SELECT node, count(*) AS degree FROM (
    SELECT a AS node FROM ee UNION ALL SELECT b FROM ee
  ) GROUP BY 1
),
tri AS ({tri})
SELECT degs.node, degree,
       coalesce(n_triangles, 0) AS n_triangles,
       round(CASE WHEN degree >= 2 THEN
         2.0 * coalesce(cast(n_triangles AS DOUBLE), 0.0)
         / (cast(degree AS DOUBLE) * (cast(degree AS DOUBLE) - 1.0))
       ELSE 0.0 END, 6) AS cc
FROM degs LEFT JOIN tri ON degs.node = tri.node
"""


# ---------------------------------------------------------------------------
# corpus version diff (dataset versioning)
# ---------------------------------------------------------------------------


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dataset-version diff: per document id, whether the new corpus
    version ADDED / REMOVED / CHANGED / kept it UNCHANGED relative to
    the old one — the audit a training-data pipeline runs between
    corpus snapshots before re-tokenizing (what changed, and how
    much, decides whether downstream caches are still valid).

    Output: (doc_id, status STRING) for every id present in either
    version.

    Scale shape (100 TB): each side reduces to (id, content-hash)
    BEFORE the full outer join, so the one shuffle carries two longs
    per document, never text; the join keys are ids (unique per
    side), so no skew. The portable hash60 keeps the twin
    engine-exact."""
    oh = old.select(
        F.col(id_col).alias("doc_id"),
        hash60(F.col(text_col)).alias("_ho"),
    )
    nh = new.select(
        F.col(id_col).alias("doc_id"),
        hash60(F.col(text_col)).alias("_hn"),
    )
    return oh.join(nh, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("_ho").isNull(), F.lit("added"))
        .when(F.col("_hn").isNull(), F.lit("removed"))
        .when(F.col("_ho") == F.col("_hn"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def corpus_diff_sql_duckdb(
    old_sql: str,
    new_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of corpus_diff (identical hash + status ladder)."""
    h = hash60_duckdb(text_col)
    return f"""
WITH oh AS (SELECT {id_col} AS doc_id, {h} AS _ho FROM ({old_sql})),
nh AS (SELECT {id_col} AS doc_id, {h} AS _hn FROM ({new_sql}))
SELECT coalesce(oh.doc_id, nh.doc_id) AS doc_id,
       CASE WHEN _ho IS NULL THEN 'added'
            WHEN _hn IS NULL THEN 'removed'
            WHEN _ho = _hn THEN 'unchanged'
            ELSE 'changed' END AS status
FROM oh FULL OUTER JOIN nh ON oh.doc_id = nh.doc_id
"""
