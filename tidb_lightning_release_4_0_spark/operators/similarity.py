"""Similarity search over embedding columns (array<float>).

Beyond-reference operators (SURVEY.md §7 M7): brute-force cosine
top-k as the exact baseline, plus two scale paths:

- **random-hyperplane LSH bucketing** (deterministic hyperplanes
  derived from hash60, no RNG state): probe only matching buckets —
  turns the n x m cross join into a bucketed join.
- **IVF-style coarse quantization** against k centroid rows
  (broadcast): assign each vector to its nearest centroid, probe
  only same-cell candidates.

All vector math uses built-in higher-order functions
(zip_with/aggregate), evaluated JVM-side; at very large dims a
Pandas-UDF/numpy kernel wins — the operators take a ``dot_impl``
switch for that, defaulting to built-ins so plans stay
codegen-friendly and oracle-verifiable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .partitioning import spread_small_input as _spread


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def dot_sql_duckdb(a: str, b: str, dim: int) -> str:
    """Same sequential fold, element order preserved -> bit-identical."""
    return (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> cast({a}[i] as double) * cast({b}[i] as double)))"
    )


def cosine_sql_duckdb(a: str, b: str, dim: int) -> str:
    d = dot_sql_duckdb(a, b, dim)
    na = f"sqrt({dot_sql_duckdb(a, a, dim)})"
    nb = f"sqrt({dot_sql_duckdb(b, b, dim)})"
    return f"(({d}) / (({na}) * ({nb})))"


def topk_cosine(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k: broadcast the (small) query set
    against the corpus, rank per query.

    100 TB shape: corpus-side scan is embarrassingly parallel; the
    only shuffle is the per-query top-k (tiny — k rows per query per
    partition after partial ranking via AQE)."""
    # per-row norms precomputed once (same arithmetic as cosine():
    # dot / (sqrt*sqrt), so results stay bit-identical to the oracle)
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = c.join(F.broadcast(q), F.col("q_id") != F.col("c_id")).select(
        "q_id",
        "c_id",
        (
            dot(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_norm") * F.col("c_norm"))
        ).alias("_cos"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("_cos").desc(), F.col("c_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            "c_id",
            F.col("rank").cast("int").alias("rank"),
            F.round(F.col("_cos"), 4).alias("cos_sim"),
        )
    )


def topk_cosine_oracle_sql(
    table: str = "embeddings",
    query_pred: str = "vec_id < 3",
    k: int = 5,
    dim: int = 64,
) -> str:
    cos = cosine_sql_duckdb("q.embedding", "c.embedding", dim)
    return f"""
WITH q AS (SELECT vec_id, embedding FROM {table} WHERE {query_pred}),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, {cos} AS _cos
  FROM q JOIN {table} c ON q.vec_id <> c.vec_id
),
ranked AS (
  SELECT q_id, c_id, _cos,
         row_number() OVER (PARTITION BY q_id ORDER BY _cos DESC, c_id ASC) AS rank
  FROM scored
)
SELECT q_id, c_id, cast(rank AS INT) AS rank,
       round(_cos, 4) AS cos_sim
FROM ranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# scale paths
# ---------------------------------------------------------------------------


def _hyperplane(seed: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from hash60-style mixing
    (no RNG state; same plane on every executor)."""
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.md5(f"hp{seed}:{i}".encode()).hexdigest()
        v = int(h[:15], 16) / float(1 << 60)  # [0, 1)
        out.append(v * 2.0 - 1.0)
    return out


def lsh_bucket(vec: Column, dim: int, num_planes: int = 8) -> Column:
    """Random-hyperplane LSH bucket id (sign pattern as an int)."""
    acc = F.lit(0)
    for p in range(num_planes):
        plane = F.lit(_hyperplane(p, dim))
        s = dot(vec, plane)
        acc = acc + F.when(s > 0, F.lit(1 << p)).otherwise(0)
    return acc.cast("int")


def ann_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    dim: int = 64,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: compare only within matching LSH buckets.

    The bucketed join replaces the full cross join: expected work
    drops by ~2^num_planes. Recall is tunable via num_planes (fewer
    planes = bigger buckets = higher recall & cost) and via
    ``multiprobe``: the query side also probes every bucket at
    Hamming distance 1 (one flipped plane) — 1+num_planes probes,
    the standard multi-probe LSH recall boost at ~(planes+1)× the
    candidate cost, still exponentially below brute force."""
    qb = lsh_bucket(F.col(vec_col), dim, num_planes)
    if multiprobe:
        probes = F.array(
            qb, *[qb.bitwiseXOR(F.lit(1 << p)) for p in range(num_planes)]
        )
        q = queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            F.explode(probes).alias("_bucket"),
        )
    else:
        q = queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            qb.alias("_bucket"),
        )
    c = corpus.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        lsh_bucket(F.col(vec_col), dim, num_planes).alias("_bucket"),
    )
    scored = c.join(
        F.broadcast(q), (F.col("q_id") != F.col("c_id")) & (q["_bucket"] == c["_bucket"])
    ).select("q_id", "c_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("_cos"))
    w = Window.partitionBy("q_id").orderBy(F.col("_cos").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            "c_id",
            F.col("rank").cast("int").alias("rank"),
            F.round(F.col("_cos"), 4).alias("cos_sim"),
        )
    )


def ann_topk_lsh_oracle_sql(
    table: str = "embeddings",
    query_pred: str = "vec_id < 3",
    k: int = 5,
    dim: int = 64,
    num_planes: int = 8,
    multiprobe: bool = False,
) -> str:
    """ANSI twin of ann_topk_lsh: the deterministic hyperplanes are
    emitted as literal arrays (repr round-trips doubles exactly)."""
    buckets = []
    for p in range(num_planes):
        plane = ", ".join(repr(x) for x in _hyperplane(p, dim))
        d = (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> cast(e[i] as double) * ([{plane}])[i]))"
        )
        buckets.append(f"CASE WHEN ({d}) > 0 THEN {1 << p} ELSE 0 END")
    bucket_expr = " + ".join(buckets)
    cos = cosine_sql_duckdb("q.embedding", "c.embedding", dim)
    if multiprobe:
        probe_list = "[q0.bkt" + "".join(
            f", xor(q0.bkt, {1 << p})" for p in range(num_planes)
        ) + "]"
        q_cte = (
            f"SELECT q0.vec_id, q0.embedding, unnest({probe_list}) AS pbkt "
            f"FROM b q0 WHERE {query_pred}"
        )
    else:
        q_cte = f"SELECT vec_id, embedding, bkt AS pbkt FROM b WHERE {query_pred}"
    return f"""
WITH b AS (
  SELECT vec_id, embedding,
         (SELECT {bucket_expr} FROM (SELECT embedding AS e) __t) AS bkt
  FROM {table}
),
q AS ({q_cte}),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, {cos} AS _cos
  FROM q JOIN b c ON q.vec_id <> c.vec_id AND q.pbkt = c.bkt
),
ranked AS (
  SELECT q_id, c_id, _cos,
         row_number() OVER (PARTITION BY q_id ORDER BY _cos DESC, c_id ASC)
             AS rank
  FROM scored
)
SELECT q_id, c_id, cast(rank AS INT) AS rank, round(_cos, 4) AS cos_sim
FROM ranked WHERE rank <= {k}
"""


def _py_dot(a: list[float], b: list[float]) -> float:
    """Sequential left-fold dot — the same IEEE operation order as
    dot()/list_sum, so driver-side values bit-match both engines."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _collect_centroids(
    corpus: DataFrame, n_cells: int, id_col: str, vec_col: str
) -> list[tuple[int, list[float]]]:
    """The deterministic IVF centroid choice: n_cells lowest-id rows
    (O(n_cells) driver-side metadata)."""
    return [
        (r[0], [float(x) for x in r[1]])
        for r in corpus.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(n_cells)
        .collect()
    ]


def _dlit_sql(x: float) -> str:
    """Exact double literal for Spark SQL (repr round-trips; the
    string->double cast is correctly rounded in both engines)."""
    return f"cast('{repr(float(x))}' as double)"


def _arr_sql(vals: list[float]) -> str:
    return "array(" + ", ".join(_dlit_sql(x) for x in vals) + ")"


def _dot_sql_spark(a: str, b: str) -> str:
    """Spark-SQL spelling of dot(): identical Catalyst expressions
    (aggregate over zip_with, sequential left fold in double), but
    built with ONE F.expr parse instead of hundreds of py4j calls —
    Column-API construction of the PQ/IVF literal trees spent ~2s per
    query call in py4j round trips before any data moved."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> cast(x as double) * cast(y as double)), "
        f"cast(0.0 as double), (acc, x) -> acc + x)"
    )


def _cell_sims(cents: list[tuple[int, list[float]]], vec_col: str) -> Column:
    """The n_cells cosine similarities as ONE array expression.

    Callers must materialize this array in its OWN projection and
    derive the cell id from the column REFERENCE (`_cell_from_sims`)
    in a second projection: inlining the array into both operands of
    array_position(sims, array_max(sims)) duplicates every dot
    product. Catalyst keeps the split — CollapseProject refuses to
    inline a non-cheap alias referenced more than once.

    Deliberately NOT an iterative when(d > best, ...) chain: each
    when() step embeds the previous best-so-far expression twice, so
    the tree grows ~2^n_cells-fold. Centroid norms are pre-folded
    driver-side with the engines' exact fold order, so only
    dot(vec, cent) and norm(vec) remain per row."""
    import math

    nv = f"sqrt({_dot_sql_spark(vec_col, vec_col)})"
    return F.expr(
        "array(" + ", ".join(
            f"{_dot_sql_spark(vec_col, _arr_sql(cv))}"
            f" / ({nv} * {_dlit_sql(math.sqrt(_py_dot(cv, cv)))})"
            for _, cv in cents
        ) + ")"
    )


def _cell_from_sims(sims_col: str) -> Column:
    """First-maximum cell id from a MATERIALIZED sims array column —
    identical tie-break to the oracle's ORDER BY cos DESC, ci ASC;
    array_max/array_position over the column reference cost
    O(n_cells) comparisons, not a re-evaluation."""
    return F.expr(
        f"cast(array_position({sims_col}, array_max({sims_col})) - 1 "
        "as int)"
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize against n_cells
    centroid vectors, probe only the query's nearest cell.

    Centroids are the ``n_cells`` lowest-id corpus vectors — a
    DETERMINISTIC choice (orderBy id, not an arbitrary limit), so the
    operator is oracle-verifiable (ivf_topk_oracle_sql picks the same
    rows). The collect is O(n_cells) driver-side metadata, inlined as
    literal vectors into the plan. At 100 TB the centroids come from
    a sampled k-means job instead; the plan shape is identical —
    broadcast centroids, narrow cell-assignment projection, candidate
    join shuffles only same-cell rows."""
    cents = _collect_centroids(corpus, n_cells, id_col, vec_col)

    q = (
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            norm(F.col(vec_col)).alias("q_norm"),
            _cell_sims(cents, vec_col).alias("_sims"),
        )
        .withColumn("_cell", _cell_from_sims("_sims"))
        .drop("_sims")
    )
    c = (
        corpus.select(
            F.col(id_col).alias("c_id"),
            F.col(vec_col).alias("c_vec"),
            norm(F.col(vec_col)).alias("c_norm"),
            _cell_sims(cents, vec_col).alias("_sims"),
        )
        .withColumn("_cell", _cell_from_sims("_sims"))
        .drop("_sims")
    )
    scored = c.join(
        F.broadcast(q),
        (F.col("q_id") != F.col("c_id")) & (q["_cell"] == c["_cell"]),
    ).select(
        "q_id",
        "c_id",
        (
            dot(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_norm") * F.col("c_norm"))
        ).alias("_cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("_cos").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            "c_id",
            F.col("rank").cast("int").alias("rank"),
            F.round(F.col("_cos"), 4).alias("cos_sim"),
        )
    )


def ivf_topk_oracle_sql(
    table: str = "embeddings",
    query_pred: str = "vec_id < 3",
    k: int = 5,
    n_cells: int = 8,
    dim: int = 64,
) -> str:
    """ANSI twin of ivf_topk: centroids are the same deterministic
    rows (lowest ``n_cells`` ids), and the argmax tie-break matches
    the Spark side's iterate-ascending strictly-greater update
    (ORDER BY cos DESC, ci ASC LIMIT 1 = first maximum)."""
    cell_cos = cosine_sql_duckdb("e.embedding", "c.embedding", dim)
    cos = cosine_sql_duckdb("q.embedding", "c.embedding", dim)
    return f"""
WITH cents AS (
  SELECT vec_id AS ci, embedding
  FROM {table} ORDER BY vec_id ASC LIMIT {n_cells}
),
assigned AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.ci AS cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {cell_cos} DESC, c.ci ASC) AS _rn
    FROM {table} e CROSS JOIN cents c
  ) WHERE _rn = 1
),
q AS (SELECT * FROM assigned WHERE {query_pred}),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, {cos} AS _cos
  FROM q JOIN assigned c ON q.vec_id <> c.vec_id AND q.cell = c.cell
),
ranked AS (
  SELECT q_id, c_id, _cos,
         row_number() OVER (PARTITION BY q_id ORDER BY _cos DESC, c_id ASC)
             AS rank
  FROM scored
)
SELECT q_id, c_id, cast(rank AS INT) AS rank, round(_cos, 4) AS cos_sim
FROM ranked WHERE rank <= {k}
"""


def cosine_dup_pairs(
    df: DataFrame,
    block_col: str = "label",
    threshold: float = 0.95,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs: cosine >= threshold within blocks
    (block = label here; LSH bucket at scale)."""
    # norms are projected once per row per join side; no persist — a
    # cached-but-never-unpersisted frame leaks executor memory across
    # calls, and recomputing the narrow norm projection is cheaper
    # than the leak (at scale: a checkpointed "normalized embeddings"
    # TABLE serves every downstream similarity job instead)
    d = _spread(df).select(
        F.col(id_col).alias("_id"),
        F.col(block_col).alias("_blk"),
        F.col(vec_col).alias("_v"),
        norm(F.col(vec_col)).alias("_n"),
    )
    pairs = (
        d.alias("l")
        .join(
            d.alias("r"),
            (F.col("l._blk") == F.col("r._blk")) & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("left_id"),
            F.col("r._id").alias("right_id"),
            (
                dot(F.col("l._v"), F.col("r._v"))
                / (F.col("l._n") * F.col("r._n"))
            ).alias("_cos"),
        )
        .filter(F.col("_cos") >= threshold)
        .select(
            "left_id",
            "right_id",
            F.round(F.col("_cos"), 4).alias("cos_sim"),
        )
    )
    return pairs


def cosine_dup_pairs_oracle_sql(
    table: str = "embeddings",
    block_col: str = "label",
    threshold: float = 0.95,
    dim: int = 64,
) -> str:
    cos = cosine_sql_duckdb("l.embedding", "r.embedding", dim)
    return f"""
SELECT l.vec_id AS left_id, r.vec_id AS right_id,
       round({cos}, 4) AS cos_sim
FROM {table} l JOIN {table} r
  ON l.{block_col} = r.{block_col} AND l.vec_id < r.vec_id
WHERE {cos} >= {threshold}
"""


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

_PQ_M = 4       # subspaces
_PQ_K = 8       # centroids per subspace
_PQ_SUB = 16    # dims per subspace (M * SUB = embedding dim)


def _pq_centroid(m: int, j: int, subdim: int = _PQ_SUB) -> list[float]:
    """Deterministic codebook entry (hash-derived like _hyperplane;
    at 100 TB codebooks come from sampled k-means per subspace and are
    broadcast — literal vectors keep the operator oracle-checkable)."""
    import hashlib

    out = []
    for i in range(subdim):
        h = hashlib.md5(f"pq{m}:{j}:{i}".encode()).hexdigest()
        v = int(h[:15], 16) / float(1 << 60)  # [0, 1)
        out.append((v - 0.5) * 0.5)
    return out


def _sq_l2_sql(vec_col: str, m: int, j: int) -> str:
    """Sequential-fold squared L2 between subspace m of the vector and
    literal codebook centroid (m, j) — Spark-SQL string for one-parse
    plan construction (see _dot_sql_spark), same Catalyst operators
    and fold order as the previous Column-API spelling. (An unrolled
    Add/Multiply chain was tried in r5 and REVERTED: past a few
    hundred nodes codegen falls back to interpreted node-at-a-time
    eval with boxing, ~4x slower than the HOF loop — the vectorized
    scale path is pq_encode_np, not bigger expressions.)"""
    sub = f"slice({vec_col}, {m * _PQ_SUB + 1}, {_PQ_SUB})"
    arr = _arr_sql(_pq_centroid(m, j))
    return (
        f"aggregate(zip_with({sub}, {arr}, "
        f"(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
        f"cast(0.0 as double), (acc, x) -> acc + x)"
    )


def _pq_dist_arrays(vec_col: str) -> list[Column]:
    """Per-subspace arrays of the K codebook distances. Same two-step
    contract as _cell_sims: materialize in one projection, take the
    code from the column reference in the next (_pq_code_from) — the
    old single-expression shape inlined each array into BOTH
    array_position and array_min, doubling the interpreted
    higher-order-function work that dominates PQ encode."""
    return [
        F.expr(
            "array(" + ", ".join(
                _sq_l2_sql(vec_col, m, j) for j in range(_PQ_K)
            ) + ")"
        )
        for m in range(_PQ_M)
    ]


def _pq_code_from(dist_col: str) -> Column:
    """1-based nearest-centroid code from a MATERIALIZED distance
    array (first-minimum tie-break, same both engines)."""
    return F.expr(
        f"cast(array_position({dist_col}, array_min({dist_col})) as int)"
    )


def _np_corpus_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Arrow-vectorized corpus-side encode -> (c_id[, _cell],
    _code0.._codeM-1): one BLAS matmul per Arrow batch replaces
    ~K*dim interpreted lambda steps per row — the scale path for
    big corpora (the expression encode costs ~200ns per vector
    element interpreted; this is ~100x cheaper at 50k vectors).

    NOT oracle-bit-exact: numpy's SIMD/pairwise summation differs
    from the SQL engines' sequential fold in the last ulp, which
    could flip an argmin on an exact tie — the oracle-checked
    registry entries keep the expression path (encode='sql').
    Deterministic across runs and partitionings (per-row math only);
    first-minimum/first-maximum tie-breaks match array_position."""
    import numpy as np
    import pandas as pd

    cb = [
        np.array(
            [_pq_centroid(m, j) for j in range(_PQ_K)], dtype=np.float64
        )
        for m in range(_PQ_M)
    ]
    cmat = (
        np.array([cv for _, cv in cents], dtype=np.float64)
        if cents
        else None
    )
    cnorm = (
        np.sqrt((cmat * cmat).sum(axis=1)) if cmat is not None else None
    )
    fields = [f"{id_col} long"] + (
        ["_cell int"] if cents else []
    ) + [f"_code{m} int" for m in range(_PQ_M)]
    out_schema = ", ".join(fields)

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            out = {id_col: pdf[id_col].astype("int64")}
            if cmat is not None:
                dots = v @ cmat.T
                vn = np.sqrt((v * v).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = dots / (vn[:, None] * cnorm[None, :])
                sims = np.where(np.isfinite(sims), sims, -np.inf)
                out["_cell"] = sims.argmax(axis=1).astype("int32")
            for m in range(_PQ_M):
                sub = v[:, m * _PQ_SUB : (m + 1) * _PQ_SUB]
                # ||x-c||^2 = ||x||^2 - 2x.c + ||c||^2 (argmin-safe)
                d = (
                    (sub * sub).sum(axis=1)[:, None]
                    - 2.0 * (sub @ cb[m].T)
                    + (cb[m] * cb[m]).sum(axis=1)[None, :]
                )
                out[f"_code{m}"] = (d.argmin(axis=1) + 1).astype("int32")
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(enc, out_schema).select(
        F.col(id_col).alias("c_id"),
        *(["_cell"] if cents else []),
        *[f"_code{m}" for m in range(_PQ_M)],
    )


def _vec_matrix(arr, nb: int, name: str):
    """(nb, dim) float64 from an Arrow list<float> column: one flatten
    + one astype (a zero-copy view of the values buffer; float32 ->
    float64 widening is exact). The kernel needs one dimension per
    batch, so a null or ragged row raises ValueError naming the column
    instead of reaching the matrix math; zero-length vectors give an
    (nb, 0) matrix."""
    import numpy as np
    import pyarrow.compute as pc

    if arr.null_count:
        raise ValueError(
            f"vector column {name!r}: {arr.null_count} of {nb} rows are "
            "NULL; the numpy kernel needs a vector in every row"
        )
    lens = pc.list_value_length(arr).to_numpy()
    if nb and lens.min() != lens.max():
        raise ValueError(
            f"vector column {name!r} is ragged: lengths {lens.min()} to "
            f"{lens.max()} in one batch; the numpy kernel needs one "
            "dimension"
        )
    dim = int(lens[0]) if nb else 0
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(nb, dim)


def _np_pq_topk_fused(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    q_ids: list[int],
    q_tabs,  # (nq, M, K) float64 ADC lookup tables (driver-built)
    cents: list[tuple[int, list[float]]] | None = None,
    q_cells=None,  # (nq, n_probe) int cell ids when IVF-probing
) -> DataFrame:
    """Fused Arrow pass for the ``encode="numpy"`` scale path (r11
    opt, guide §2.3/§8): corpus encode, ADC scoring against the
    driver-built per-query lookup tables, and PER-TASK top-k
    selection run inside ONE Arrow map — the previous plan joined
    the 50k-row code table against every query (3.2M scored rows at
    the bench's 64-query cell) and shuffled ALL of them into a
    row_number window, which profiled at ~1.7 s of the 2.6 s query.
    Each task now emits at most nq*k rows, so the window ranks a few
    thousand rows instead of millions.

    r12 (guide §4.2): the pass is ``mapInArrow``, not mapInPandas —
    a quiet-box breakdown showed the whole 50k-corpus kernel math at
    ~0.3 s while the fused job measured 0.7-1.0 s; the difference
    was the Python boundary materializing the list<float> column as
    50k per-row numpy objects (Spark's arrow->pandas conversion plus
    our re-stack). The embedding matrix now comes straight from the
    Arrow list values buffer (one zero-copy flatten + one astype;
    0.004 s for the same 50k rows); a null or ragged row raises
    (see _vec_matrix). float32 -> float64 is exact, so the kernel
    sees bit-identical inputs.

    Exactness contract (same results as the join+window plan):
    - the ADC sum adds the M table entries in the JVM fold order
      (((0 + t0) + t1) + ...), element-wise float64 — bit-identical;
    - selection uses the SAME total order as the window's
      orderBy(_ad asc, c_id asc) via lexsort, so quantized-distance
      ties (PQ has only K^M distinct sums) break identically;
    - per-task top-k then global top-k is exact for any k because
      top-k is distributive over unions;
    - self-pairs and unprobed cells are masked with +inf and dropped
      after selection (ADC distances are finite sums of finite
      table entries, so +inf cannot collide with a real candidate).
    """
    import numpy as np

    cb = [
        np.array(
            [_pq_centroid(m, j) for j in range(_PQ_K)], dtype=np.float64
        )
        for m in range(_PQ_M)
    ]
    cmat = (
        np.array([cv for _, cv in cents], dtype=np.float64)
        if cents
        else None
    )
    cnorm = (
        np.sqrt((cmat * cmat).sum(axis=1)) if cmat is not None else None
    )
    qid_arr = np.asarray(q_ids, dtype=np.int64)
    nq = len(qid_arr)
    # reshape keeps the empty-query case rectangular (asarray of []
    # is 1-D and would break the axis indexing below) — for BOTH
    # driver-built inputs: tabs feeds tabs[:, m, :] and probe feeds
    # probe[None, :, :], so each must stay n-D at nq == 0
    tabs = np.asarray(q_tabs, dtype=np.float64).reshape(nq, _PQ_M, _PQ_K)
    probe = None
    if q_cells is not None:
        probe = np.asarray(q_cells, dtype=np.int64)
        probe = probe.reshape(nq, probe.size // nq if nq else 0)

    def fused(batches):
        import pyarrow as pa

        acc_q: list = []
        acc_c: list = []
        acc_d: list = []
        for rb in batches:
            nb = rb.num_rows
            if not nb:
                continue
            names = rb.schema.names
            v = _vec_matrix(rb.column(names.index(vec_col)), nb, vec_col)
            c_ids = (
                rb.column(names.index(id_col))
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            if cmat is not None:
                dots = v @ cmat.T
                vn = np.sqrt((v * v).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = dots / (vn[:, None] * cnorm[None, :])
                sims = np.where(np.isfinite(sims), sims, -np.inf)
                cell = sims.argmax(axis=1).astype(np.int64)
            codes = np.empty((nb, _PQ_M), np.int64)
            for m in range(_PQ_M):
                sub = v[:, m * _PQ_SUB : (m + 1) * _PQ_SUB]
                d = (
                    (sub * sub).sum(axis=1)[:, None]
                    - 2.0 * (sub @ cb[m].T)
                    + (cb[m] * cb[m]).sum(axis=1)[None, :]
                )
                codes[:, m] = d.argmin(axis=1)
            # ADC: dist[i, q] = sum_m tabs[q, m, codes[i, m]] with the
            # JVM's left-fold add order
            dist = tabs[:, 0, :].T[codes[:, 0]]  # (nb, nq)
            for m in range(1, _PQ_M):
                dist = dist + tabs[:, m, :].T[codes[:, m]]
            # mask self-pairs (and unprobed cells for IVF)
            dist[c_ids[:, None] == qid_arr[None, :]] = np.inf
            if probe is not None:
                probed = (
                    cell[:, None, None] == probe[None, :, :]
                ).any(axis=2)
                dist[~probed] = np.inf
            # per-batch exact top-k per query
            for qi in range(nq):
                dq = dist[:, qi]
                fin = np.isfinite(dq)
                nfin = int(fin.sum())
                if not nfin:
                    continue
                cand_c = c_ids[fin]
                cand_d = dq[fin]
                if nfin > k:
                    part = np.argpartition(cand_d, k - 1)
                    # tie-safe: keep everything <= the k-th distance
                    kth = cand_d[part[k - 1]]
                    keep = cand_d <= kth
                    cand_c, cand_d = cand_c[keep], cand_d[keep]
                order = np.lexsort((cand_c, cand_d))[:k]
                acc_q.append(np.full(len(order), qid_arr[qi]))
                acc_c.append(cand_c[order])
                acc_d.append(cand_d[order])
        if acc_q:
            allq = np.concatenate(acc_q)
            allc = np.concatenate(acc_c)
            alld = np.concatenate(acc_d)
            outq, outc, outd = [], [], []
            for qi in range(nq):
                m = allq == qid_arr[qi]
                if not m.any():
                    continue
                cc, dd = allc[m], alld[m]
                order = np.lexsort((cc, dd))[:k]
                outq.append(np.full(len(order), qid_arr[qi]))
                outc.append(cc[order])
                outd.append(dd[order])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(outq), pa.int64()),
                    pa.array(np.concatenate(outc), pa.int64()),
                    pa.array(np.concatenate(outd), pa.float64()),
                ],
                names=["q_id", "c_id", "_ad"],
            )

    # spread a few-file corpus scan before the fused pass (r12,
    # guide §2.6/§6): the bench's 50k-vector corpus is ONE parquet
    # file -> ONE row group -> ONE task, so the whole encode+ADC+topk
    # kernel ran on a single core at local[32]. The gate reads scan
    # metadata only and is a no-op on any well-partitioned corpus
    # (a 100 TB corpus has >> cores input splits). Results are
    # partitioning-invariant: per-task top-k is distributive and the
    # final window imposes the global (_ad, c_id) order.
    from .partitioning import spread_small_input as _spread

    return _spread(corpus.select(id_col, vec_col)).mapInArrow(
        fused, "q_id long, c_id long, _ad double"
    )


def pq_encode_df(
    df: DataFrame, vec_col: str, keep: list[Column]
) -> DataFrame:
    """(keep..., _code0.._codeM-1) via the two-step projection."""
    staged = df.select(
        *keep,
        *[
            arr.alias(f"_pqd{m}")
            for m, arr in enumerate(_pq_dist_arrays(vec_col))
        ],
    )
    drop = [f"_pqd{m}" for m in range(_PQ_M)]
    for m in range(_PQ_M):
        staged = staged.withColumn(
            f"_code{m}", _pq_code_from(f"_pqd{m}")
        )
    return staged.drop(*drop)


def ann_topk_pq(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encode: str = "sql",
) -> DataFrame:
    """Approximate top-k via PQ codes + ADC scoring.

    The corpus is stored as M small codes per vector (here 4 bytes
    instead of 256 — the memory-compression scale path: a 100 TB
    corpus of raw floats becomes ~1.5 TB of codes that fit the
    cluster's RAM). Queries stay exact; each candidate's distance is
    approximated by summing the query-to-centroid distances selected
    by the candidate's codes (ADC, Jegou et al. 2011). Scoring reads
    M lookup-table entries per pair — no full-vector math against
    the corpus."""
    # ADC proper: the per-query lookup tables (M x K distances) are
    # precomputed once on the driver — queries are a handful by
    # definition — with the SAME sequential fold order as the engine
    # expressions, so the estimates stay oracle-exact. Scoring then
    # reads 4 literal-array entries per pair; no per-pair vector math.
    def py_sq_l2(sub: list[float], cent: list[float]) -> float:
        acc = 0.0
        for x, y in zip(sub, cent):
            d = x - y
            acc += d * d
        return acc

    rows = []
    for r in queries.select(id_col, vec_col).collect():
        vec = [float(x) for x in r[vec_col]]
        tabs = [
            [
                py_sq_l2(
                    vec[m * _PQ_SUB : (m + 1) * _PQ_SUB],
                    _pq_centroid(m, j),
                )
                for j in range(_PQ_K)
            ]
            for m in range(_PQ_M)
        ]
        rows.append((int(r[id_col]), *tabs))
    # encode="sql": oracle-bit-exact expression encode (the checked
    # registry entries); "numpy": the fused Arrow/BLAS scale path —
    # encode + ADC + per-task top-k in one pass (_np_pq_topk_fused's
    # docstring has the exactness argument and the measured win)
    if encode == "numpy":
        scored = _np_pq_topk_fused(
            corpus, vec_col, id_col, k,
            [r[0] for r in rows], [r[1:] for r in rows],
        )
    else:
        c = pq_encode_df(corpus, vec_col, [F.col(id_col).alias("c_id")])
        spark = corpus.sparkSession
        q = spark.createDataFrame(
            rows,
            "q_id bigint, "
            + ", ".join(f"_qt{m} array<double>" for m in range(_PQ_M)),
        )
        approx = F.lit(0.0)
        for m in range(_PQ_M):
            approx = approx + F.element_at(
                F.col(f"_qt{m}"), F.col(f"_code{m}")
            )
        scored = c.join(
            F.broadcast(q), F.col("q_id") != F.col("c_id")
        ).select("q_id", "c_id", approx.alias("_ad"))
    w = Window.partitionBy("q_id").orderBy(
        F.col("_ad").asc(), F.col("c_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            "c_id",
            F.col("rank").cast("int").alias("rank"),
            F.round(F.col("_ad"), 4).alias("approx_dist"),
        )
    )


def ann_topk_pq_oracle_sql(
    table: str = "embeddings",
    query_pred: str = "vec_id < 3",
    k: int = 5,
) -> str:
    """ANSI twin: identical literal codebooks, folds, and ADC sums."""

    def sq_l2(vec_expr: str, m: int, j: int) -> str:
        lits = ", ".join(repr(float(x)) for x in _pq_centroid(m, j))
        base = m * _PQ_SUB
        t = (
            f"(cast({vec_expr}[{base} + i] as double) - ([{lits}])[i])"
        )
        return (
            f"list_sum(list_transform(range(1, {_PQ_SUB + 1}), "
            f"i -> {t} * {t}))"
        )

    code_cols = []
    for m in range(_PQ_M):
        dlist = ", ".join(
            sq_l2("embedding", m, j) for j in range(_PQ_K)
        )
        code_cols.append(
            f"list_position(list_value({dlist}), "
            f"list_min(list_value({dlist}))) AS code{m}"
        )
    adc_terms = []
    for m in range(_PQ_M):
        qd = ", ".join(sq_l2("q.embedding", m, j) for j in range(_PQ_K))
        adc_terms.append(f"(list_value({qd}))[c.code{m}]")
    adc = " + ".join(adc_terms)
    return f"""
        WITH codes AS (
          SELECT vec_id AS c_id, {", ".join(code_cols)}
          FROM {table}
        ), q AS (
          SELECT vec_id AS q_id, embedding FROM {table}
          WHERE {query_pred}
        ), scored AS (
          SELECT q.q_id, c.c_id, ({adc}) AS _ad
          FROM q JOIN codes c ON q.q_id != c.c_id
        )
        SELECT q_id, c_id, cast(rank AS INTEGER) AS rank,
               round(_ad, 4) AS approx_dist
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY _ad ASC, c_id ASC) AS rank
          FROM scored
        ) WHERE rank <= {k}
        ORDER BY q_id, rank
    """


def ann_topk_ivfpq(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encode: str = "sql",
) -> DataFrame:
    """IVF-PQ: coarse-quantize the corpus into ``n_cells`` inverted
    lists, store each vector as M PQ codes, score candidates by ADC
    against only the query's ``n_probe`` nearest cells (Jegou et al.
    2011's IVFADC).

    This composes the two scale paths that were previously separate:
    ``ann_topk_pq`` compresses memory 64x but scans EVERY code per
    query; ``ivf_topk`` prunes to ~1/n_cells of the corpus but keeps
    raw vectors. Here the candidate set shrinks ~n_cells/n_probe-fold
    AND each candidate costs M lookup-table reads — at 100 TB the
    corpus is ~1.5 TB of (cell, codes) rows, the probe join touches
    only matching cells, and nothing re-reads raw vectors.

    Determinism recipe (oracle-exact like both parents): centroids
    are the ``n_cells`` lowest-id corpus vectors; the query-side cell
    ranking and ADC lookup tables are computed driver-side with the
    same sequential-fold IEEE arithmetic the engine expressions use,
    so DuckDB reproduces every value bit-for-bit."""
    cents = _collect_centroids(corpus, n_cells, id_col, vec_col)

    # corpus side: one narrow TWO-STEP projection -> (id, cell, M
    # codes); the raw vector is dropped here and never touched again,
    # and every distance/sims array is evaluated exactly once (see
    # _cell_sims for why the split matters). encode="numpy" runs the
    # fused Arrow/BLAS scale path below instead (same results, not
    # oracle-bit-exact in the encode).
    if encode == "numpy":
        c = None
    else:
        c = corpus.select(
            F.col(id_col).alias("c_id"),
            _cell_sims(cents, vec_col).alias("_sims"),
            *[
                arr.alias(f"_pqd{m}")
                for m, arr in enumerate(_pq_dist_arrays(vec_col))
            ],
        ).select(
            "c_id",
            _cell_from_sims("_sims").alias("_cell"),
            *[
                _pq_code_from(f"_pqd{m}").alias(f"_code{m}")
                for m in range(_PQ_M)
            ],
        )

    # query side (a handful of rows by definition): ADC tables and the
    # n_probe nearest cells, computed driver-side with the engines'
    # exact fold order (sequential acc+x in double, first-maximum
    # tie-break ascending)
    def py_sq_l2(sub: list[float], cent: list[float]) -> float:
        acc = 0.0
        for x, y in zip(sub, cent):
            d = x - y
            acc += d * d
        return acc

    import math

    rows = []
    for r in queries.select(id_col, vec_col).collect():
        vec = [float(x) for x in r[vec_col]]
        tabs = [
            [
                py_sq_l2(
                    vec[m * _PQ_SUB : (m + 1) * _PQ_SUB],
                    _pq_centroid(m, j),
                )
                for j in range(_PQ_K)
            ]
            for m in range(_PQ_M)
        ]
        vnorm = math.sqrt(_py_dot(vec, vec))

        def _cell_cos(cv: list[float]) -> float:
            # cosine is undefined for zero-norm vectors (padding /
            # failed-encoder rows): rank them last instead of raising
            # ZeroDivisionError on the driver — the engine-side
            # expressions degrade to NaN/Inf for the same rows
            den = vnorm * math.sqrt(_py_dot(cv, cv))
            return (
                _py_dot(vec, cv) / den if den > 0.0 else float("-inf")
            )

        scored_cells = [
            (i, _cell_cos(cv)) for i, (_, cv) in enumerate(cents)
        ]
        probed = sorted(scored_cells, key=lambda t: (-t[1], t[0]))
        rows.append(
            (int(r[id_col]), tabs, [i for i, _ in probed[:n_probe]])
        )
    if encode == "numpy":
        # fused Arrow pass: encode + cell assign + probe filter + ADC
        # + per-task top-k in one mapInPandas (r11 opt — see
        # _np_pq_topk_fused)
        # pad probe lists to a rectangle (a corpus with fewer cells
        # than n_probe yields short lists); -1 matches no cell id
        width = max((len(r[2]) for r in rows), default=0)
        scored = _np_pq_topk_fused(
            corpus, vec_col, id_col, k,
            [r[0] for r in rows], [r[1] for r in rows],
            cents=cents,
            q_cells=[r[2] + [-1] * (width - len(r[2])) for r in rows],
        )
    else:
        spark = corpus.sparkSession
        q = spark.createDataFrame(
            [
                (qid, cell_i, *tabs)
                for qid, tabs, cells in rows
                for cell_i in cells
            ],
            "q_id bigint, _cell int, "
            + ", ".join(f"_qt{m} array<double>" for m in range(_PQ_M)),
        )
        approx = F.lit(0.0)
        for m in range(_PQ_M):
            approx = approx + F.element_at(
                F.col(f"_qt{m}"), F.col(f"_code{m}")
            )
        # each corpus row lives in exactly one cell and the probed
        # cells per query are distinct, so no (q, c) pair is scored
        # twice
        scored = c.join(
            F.broadcast(q),
            (F.col("q_id") != F.col("c_id"))
            & (q["_cell"] == c["_cell"]),
        ).select("q_id", "c_id", approx.alias("_ad"))
    w = Window.partitionBy("q_id").orderBy(
        F.col("_ad").asc(), F.col("c_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            "c_id",
            F.col("rank").cast("int").alias("rank"),
            F.round(F.col("_ad"), 4).alias("approx_dist"),
        )
    )


def ann_topk_ivfpq_oracle_sql(
    table: str = "embeddings",
    query_pred: str = "vec_id < 3",
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    dim: int = 64,
) -> str:
    """ANSI twin of ann_topk_ivfpq: same lowest-id centroids, same
    cosine cell ranking (rn=1 assigns the corpus, rn<=n_probe probes
    for queries), same literal codebooks and ADC sums."""
    cell_cos = cosine_sql_duckdb("e.embedding", "c.embedding", dim)

    def sq_l2(vec_expr: str, m: int, j: int) -> str:
        lits = ", ".join(repr(float(x)) for x in _pq_centroid(m, j))
        base = m * _PQ_SUB
        t = f"(cast({vec_expr}[{base} + i] as double) - ([{lits}])[i])"
        return (
            f"list_sum(list_transform(range(1, {_PQ_SUB + 1}), "
            f"i -> {t} * {t}))"
        )

    code_cols = []
    for m in range(_PQ_M):
        dlist = ", ".join(
            sq_l2("a.embedding", m, j) for j in range(_PQ_K)
        )
        code_cols.append(
            f"list_position(list_value({dlist}), "
            f"list_min(list_value({dlist}))) AS code{m}"
        )
    adc_terms = []
    for m in range(_PQ_M):
        qd = ", ".join(sq_l2("q.embedding", m, j) for j in range(_PQ_K))
        adc_terms.append(f"(list_value({qd}))[c.code{m}]")
    adc = " + ".join(adc_terms)
    return f"""
WITH cents AS (
  SELECT vec_id AS ci, embedding
  FROM {table} ORDER BY vec_id ASC LIMIT {n_cells}
),
assigned AS (
  SELECT e.vec_id, e.embedding, c.ci AS cell,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cell_cos} DESC, c.ci ASC) AS _rn
  FROM {table} e CROSS JOIN cents c
),
codes AS (
  SELECT a.vec_id AS c_id, a.cell, {", ".join(code_cols)}
  FROM assigned a WHERE a._rn = 1
),
q AS (
  SELECT vec_id AS q_id, embedding, cell
  FROM assigned WHERE _rn <= {n_probe} AND {query_pred}
),
scored AS (
  SELECT q.q_id, c.c_id, ({adc}) AS _ad
  FROM q JOIN codes c ON q.q_id != c.c_id AND q.cell = c.cell
)
SELECT q_id, c_id, cast(rank AS INTEGER) AS rank,
       round(_ad, 4) AS approx_dist
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY q_id ORDER BY _ad ASC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
ORDER BY q_id, rank
"""


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (dimensionality reduction)
# ---------------------------------------------------------------------------


def _jl_row(seed: int, dim: int) -> list[float]:
    """Deterministic projection row, scaled 1/sqrt(out_dim) at the
    call site; hash-derived like _hyperplane (no RNG state)."""
    return _hyperplane(1000 + seed, dim)


def random_project(
    df: DataFrame,
    out_dim: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """JL random projection: embed dim-d vectors into out_dim
    dimensions with a literal hash-derived matrix — pairwise
    distances are preserved within (1 +/- eps) w.h.p., so downstream
    dedup/ANN run on 8 doubles instead of 64 floats (the storage- and
    shuffle-compression step a 100 TB embedding corpus applies before
    clustering). Pure narrow projection: no shuffle, no Python, and
    the literal matrix makes every output value oracle-checkable."""
    import math

    # entries are uniform[-1,1) (variance 1/3), so the JL-preserving
    # scale is sqrt(3/out_dim) — 1/sqrt(out_dim) would shrink every
    # projected distance by sqrt(3) and break absolute thresholds
    # calibrated in the original space
    scale = math.sqrt(3.0 / out_dim)
    cols = [F.col(id_col)]
    for j in range(out_dim):
        row = F.lit(_jl_row(j, dim))
        cols.append(
            F.round(
                dot(F.col(vec_col), row) * F.lit(scale), 4
            ).alias(f"p{j}")
        )
    # no orderBy: the projection stays a map-only narrow plan (the
    # driver's oracle compare is order-insensitive)
    return df.select(*cols)


def random_project_oracle_sql(
    table: str = "embeddings",
    out_dim: int = 8,
    dim: int = 64,
) -> str:
    import math

    scale = repr(math.sqrt(3.0 / out_dim))
    cols = ["vec_id"]
    for j in range(out_dim):
        lits = ", ".join(repr(x) for x in _jl_row(j, dim))
        d = (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> cast(embedding[i] as double) * ([{lits}])[i]))"
        )
        cols.append(f"round(({d}) * {scale}, 4) AS p{j}")
    return (
        f"SELECT {', '.join(cols)} FROM {table} ORDER BY vec_id"
    )


# ---------------------------------------------------------------------------
# k-means clustering (SemDeDup-style semantic grouping)
# ---------------------------------------------------------------------------


def _sq_l2_spark(a: str, b: str) -> str:
    """Spark-SQL squared L2 between two array expressions — the same
    sequential left fold as _dot_sql_spark, so the DuckDB twin
    (_sq_l2_duckdb) is bit-identical."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> (cast(x as double) - cast(y as double)) * "
        f"(cast(x as double) - cast(y as double))), "
        f"cast(0.0 as double), (acc, x) -> acc + x)"
    )


def _sq_l2_duckdb(a: str, b: str, dim: int) -> str:
    return (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> (cast({a}[i] as double) - cast({b}[i] as double)) * "
        f"(cast({a}[i] as double) - cast({b}[i] as double))))"
    )


def kmeans_assign(
    df: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd k-means over an embedding column, fully deterministic:
    (id, cluster) after `iters` assign->update rounds plus a final
    assignment against the updated centroids. The semantic-dedup /
    corpus-diversification primitive (SemDeDup, Abbas et al. 2023
    groups near-duplicates by k-means cell before intra-cell cosine).

    Determinism contract (what makes the DuckDB twin exact):
    - init = the k lowest-id embeddings (same rule as IVF);
    - assignment = first-minimum over cid-ordered centroids (ties
      break to the lowest cid on both engines);
    - updated centroids round to 6 decimals BEFORE re-use, so both
      engines feed IDENTICAL literals into the next distance fold
      (cross-row avg is the one op whose ulps an engine may reorder).

    Scale shape: per iteration, one narrow posexplode->groupBy over
    (cluster, dim) — k*dim cells of partial-aggregable state, no
    row-vs-row joins anywhere; centroids are O(k*dim) driver
    metadata, re-broadcast as literals (the py4j lesson: ONE F.expr
    parse per projection). Iterations are driver-sequenced like the
    reference-grade IVF trainer; `iters` is small and fixed."""
    cents = [
        (i, [float(x) for x in vec])
        for i, (_, vec) in enumerate(
            _collect_centroids(df, k, id_col, vec_col)
        )
    ]

    def assign(centroids) -> DataFrame:
        dists = "array(" + ", ".join(
            _sq_l2_spark(vec_col, _arr_sql(cv)) for _, cv in centroids
        ) + ")"
        cids = "array(" + ", ".join(str(c) for c, _ in centroids) + ")"
        return df.select(
            F.col(id_col), F.expr(dists).alias("_d")
        ).select(
            id_col,
            F.expr(
                f"element_at({cids}, "
                f"cast(array_position(_d, array_min(_d)) as int))"
            ).alias("cluster"),
        )

    for _ in range(iters):
        a = assign(cents)
        rows = (
            df.join(a, id_col)
            .select("cluster", F.posexplode(F.col(vec_col)))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg(F.col("col").cast("double")), 6).alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cid.setdefault(int(r["cluster"]), {})[int(r["pos"])] = float(
                r["m"]
            )
        cents = [
            (cid, [dims[p] for p in sorted(dims)])
            for cid, dims in sorted(by_cid.items())
        ]
    return assign(cents)


def kmeans_assign_sql_duckdb(
    table: str,
    k: int = 4,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Unrolled DuckDB twin: same init, same first-min tie-break
    (row_number ORDER BY dist, cid), same round-to-6 centroid update
    — the iteration count is fixed, so the loop unrolls to a static
    CTE chain the oracle harness can run without parameters."""

    def assign_cte(name: str, cfrom: str) -> str:
        d = _sq_l2_duckdb(f"e.{vec_col}", "c.cv", dim)
        return f"""
{name} AS (
  SELECT {id_col}, cid AS cluster FROM (
    SELECT e.{id_col}, c.cid,
           row_number() OVER (PARTITION BY e.{id_col}
               ORDER BY {d} ASC, c.cid ASC) AS rk
    FROM {table} e CROSS JOIN {cfrom} c
  ) WHERE rk = 1
)"""

    sql = f"""WITH c0 AS (
  SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS cid,
         {vec_col} AS cv
  FROM {table} ORDER BY {id_col} LIMIT {k}
)"""
    prev = "c0"
    for t in range(1, iters + 1):
        sql += "," + assign_cte(f"a{t}", prev)
        sql += f""",
c{t} AS (
  SELECT cid, list(m ORDER BY dim) AS cv FROM (
    SELECT cluster AS cid, dim, round(avg(val), 6) AS m FROM (
      SELECT a.cluster,
             unnest(list_transform(e.{vec_col},
                                   v -> cast(v AS DOUBLE))) AS val,
             generate_subscripts(e.{vec_col}, 1) AS dim
      FROM a{t} a JOIN {table} e USING ({id_col})
    ) GROUP BY cid, dim
  ) GROUP BY cid
)"""
        prev = f"c{t}"
    sql += "," + assign_cte("afinal", prev)
    return sql + f"\nSELECT {id_col}, cluster FROM afinal"


def semantic_dedup(
    df: DataFrame,
    k: int = 4,
    iters: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) end-to-end: k-means cells bound
    the quadratic step, then within each cell a row is a duplicate if
    a LOWER-ID member sits at cosine >= threshold; survivors keep
    their cluster for downstream mixture logic. Output:
    (id, cluster, is_kept).

    Engine-exactness: the cell assignment is kmeans_assign's
    deterministic contract, and both engines compute cosine with the
    same sequential fold over identical floats, so the >= threshold
    verdict is bit-reproducible. Scale shape: ONE shuffle by cluster;
    the pairwise step is O(cell^2) inside each cell — exactly the
    bound k controls (SemDeDup's point: pick k so cells fit a
    worker). Self-pairs and cross-cell pairs never materialize."""
    assign = kmeans_assign(df, k=k, iters=iters, id_col=id_col,
                           vec_col=vec_col)
    v = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).join(assign.select(F.col(id_col).alias("_id"), "cluster"), "_id")
    a = v.select(
        F.col("_id").alias("a_id"), F.col("_v").alias("a_v"), "cluster"
    )
    b = v.select(
        F.col("_id").alias("b_id"), F.col("_v").alias("b_v"), "cluster"
    )
    cos = F.expr(
        f"{_dot_sql_spark('a_v', 'b_v')} / "
        f"(sqrt({_dot_sql_spark('a_v', 'a_v')}) * "
        f"sqrt({_dot_sql_spark('b_v', 'b_v')}))"
    )
    dup_ids = (
        a.join(b, "cluster")
        .filter(F.col("b_id") < F.col("a_id"))
        .filter(cos >= F.lit(threshold))
        .select(F.col("a_id").alias("_id"))
        .distinct()
    )
    return (
        v.join(dup_ids.withColumn("_dup", F.lit(True)), "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "cluster",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("is_kept"),
        )
    )


def semantic_dedup_sql_duckdb(
    table: str,
    k: int = 4,
    iters: int = 2,
    threshold: float = 0.95,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    km = kmeans_assign_sql_duckdb(
        table, k=k, iters=iters, dim=dim, id_col=id_col, vec_col=vec_col
    )
    cos = (
        f"({dot_sql_duckdb(f'ea.{vec_col}', f'eb.{vec_col}', dim)}) / "
        f"(sqrt({dot_sql_duckdb(f'ea.{vec_col}', f'ea.{vec_col}', dim)}) * "
        f"sqrt({dot_sql_duckdb(f'eb.{vec_col}', f'eb.{vec_col}', dim)}))"
    )
    return f"""{km.replace(f'SELECT {id_col}, cluster FROM afinal', '')},
asg AS (SELECT {id_col}, cluster FROM afinal),
dups AS (
  SELECT DISTINCT a.{id_col} AS did
  FROM asg a JOIN asg b USING (cluster)
  JOIN {table} ea ON ea.{id_col} = a.{id_col}
  JOIN {table} eb ON eb.{id_col} = b.{id_col}
  WHERE b.{id_col} < a.{id_col} AND ({cos}) >= {threshold!r}
)
SELECT asg.{id_col}, cluster,
       (dups.did IS NULL) AS is_kept
FROM asg LEFT JOIN dups ON asg.{id_col} = dups.did
"""


# ---------------------------------------------------------------------------
# Exact covariance matrix over an embedding column (PCA/whitening prep)
# ---------------------------------------------------------------------------


def embedding_covariance(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact (population) covariance matrix of a ``dim``-dimensional
    embedding column — the distributed half of PCA/whitening: compute
    the d x d second-moment sums on the cluster, run the O(d^3)
    eigendecomposition wherever the tiny result lands.

    Upper triangle only (cov is symmetric): one row per (i, j), i<=j,
    cov_ij = (S_ij - S_i*S_j/n) / n from raw moment sums — no
    mean-subtraction pass over the data.

    Engine-exactness: components are rounded to 6 decimals as
    DECIMAL(12,6) (float32 widens to double exactly, so both engines
    round the same value), products are DECIMAL(25,12) — exact in
    both engines — and all sums are decimal. The only float steps are
    the final one-row-per-cell divisions from identical exact inputs.

    Scale shape: rows explode to (i, j, product) with the product
    projected BEFORE the exchange, so the hash aggregate map-side
    combines to at most d(d+1)/2 keys per task and the shuffle
    carries d(d+1)/2 rows per partition regardless of corpus size;
    the d marginal sums come from their own d-key aggregate (NOT
    carried per cell — that would triple the accumulator state) and
    join back broadcast. The per-row cost is O(d^2) decimal
    multiplies; for very large d swap to the documented mapInPandas
    partial-outer-product kernel (one float64 d x d partial per
    Arrow batch) and accept float rounding in exchange for BLAS
    speed.
    """
    sums = _moment_sums(df, dim, vec_col)
    n = F.col("n").cast("double")
    # + 0.0 collapses IEEE negative zero (round can yield -0.0 for a
    # tiny negative covariance; the engines disagree on which zero
    # they produce and a value-hash of the rendering distinguishes
    # "-0.0" from "0.0"). Mirrored in the DuckDB twin.
    return sums.select(
        "i",
        "j",
        (
            F.round(
                (
                    F.col("sij").cast("double")
                    - F.col("si").cast("double")
                    * F.col("sj").cast("double")
                    / n
                )
                / n,
                6,
            )
            + F.lit(0.0)
        ).alias("cov"),
    )


def _moment_sums(
    df: DataFrame, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """Exact decimal moment sums shared by embedding_covariance and
    pca_project: one distributed plan producing, per upper-triangle
    cell, (i, j, n, sij, si, sj) where sij is the pair-product sum
    and si/sj the per-dimension marginal sums (computed once per
    DIMENSION in a d-key aggregate and joined back broadcast)."""
    d6 = "decimal(12,6)"
    e6 = F.transform(
        F.col(vec_col),
        lambda v: F.round(v.cast("double"), 6).cast(d6),
    )
    base = _spread(df).filter(
        F.size(F.col(vec_col)) == int(dim)
    ).select(e6.alias("_e"))
    marg = (
        base.select(F.posexplode(F.col("_e")).alias("k", "x"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    )
    ij = base.select(
        "_e",
        F.explode(F.sequence(F.lit(0), F.lit(int(dim) - 1))).alias("i"),
    ).select(
        "_e", "i",
        F.explode(
            F.sequence(F.col("i"), F.lit(int(dim) - 1))
        ).alias("j"),
    )
    prods = ij.select(
        "i",
        "j",
        (
            F.element_at(F.col("_e"), F.col("i") + 1)
            * F.element_at(F.col("_e"), F.col("j") + 1)
        ).alias("p"),
    )
    cells = prods.groupBy("i", "j").agg(F.sum("p").alias("sij"))
    mi = marg.select(
        F.col("k").alias("i"), F.col("n").alias("n"),
        F.col("s").alias("si"),
    )
    mj = marg.select(
        F.col("k").alias("j"), F.col("s").alias("sj")
    )
    return cells.join(F.broadcast(mi), "i").join(F.broadcast(mj), "j")


def embedding_covariance_sql_duckdb(
    table: str = "embeddings", dim: int = 64, vec_col: str = "embedding"
) -> str:
    """DuckDB twin — identical rounding, decimal accumulation and
    final float expression order."""
    return f"""
WITH x AS (
  SELECT list_transform({vec_col},
         v -> cast(round(cast(v AS DOUBLE), 6) AS DECIMAL(12,6))) AS e
  FROM {table} WHERE len({vec_col}) = {int(dim)}
),
marg AS (
  SELECT k, count(*) AS n, sum(e[k+1]) AS s
  FROM x, range(0, {int(dim)}) tk(k) GROUP BY 1
),
cells AS (
  SELECT i, j, sum(e[i+1] * e[j+1]) AS sij
  FROM x, range(0, {int(dim)}) ti(i), range(0, {int(dim)}) tj(j)
  WHERE j >= i
  GROUP BY 1, 2
),
s AS (
  SELECT i, j, mi.n AS n, sij, mi.s AS si, mj.s AS sj
  FROM cells JOIN marg mi ON cells.i = mi.k
  JOIN marg mj ON cells.j = mj.k
)
SELECT i, j,
       round((cast(sij AS DOUBLE)
              - cast(si AS DOUBLE) * cast(sj AS DOUBLE)
                / cast(n AS DOUBLE)) / cast(n AS DOUBLE), 6)
       + 0.0 AS cov
FROM s
"""


def pca_project(
    df: DataFrame,
    dim: int,
    k: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Project embeddings onto their top-``k`` principal components —
    the whitening/visualization step on top of
    ``embedding_covariance``: the d x d covariance is computed
    DISTRIBUTED (decimal moment sums, d(d+1)/2-key shuffle), the
    O(d^3) eigendecomposition runs driver-side on that tiny matrix
    (numpy eigh — symmetric, deterministic for a fixed input), and
    the projection returns to the cluster as a broadcast literal
    matrix folded into a JVM-side expression (no UDF: each component
    is a linear combination built from array element references).

    Sign convention: each eigenvector is oriented so its
    largest-|coefficient| entry is positive — eigenvectors are only
    defined up to sign, and pinning it makes the output reproducible
    across LAPACK builds in the common (non-degenerate) case.

    Output: (vec_id, pc1..pck rounded to 6, centered projection).
    No SQL oracle (eigendecomposition is not SQL-expressible):
    registry coverage is rows-only; correctness is pinned by the
    numpy cross-check in tests (projected variances == eigenvalues).
    """
    # ONE distributed job: the shared moment-sums plan yields both
    # the covariance matrix AND the exact per-dimension means (the
    # marginal decimal sums / n — deterministic, unlike a float avg)
    sums = _moment_sums(df, dim, vec_col).collect()
    W, mu = _pca_basis(sums, dim, k)
    base = df.filter(F.size(F.col(vec_col)) == int(dim)).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_e")
    )
    cols = []
    for c in range(W.shape[1]):
        expr = F.lit(0.0)
        for i in range(dim):
            w = float(W[i, c])
            if w != 0.0:
                expr = expr + F.lit(w) * (
                    F.element_at(F.col("_e"), i + 1).cast("double")
                    - F.lit(float(mu[i]))
                )
        cols.append((F.round(expr, 6) + F.lit(0.0)).alias(f"pc{c + 1}"))
    return base.select("vec_id", *cols)


def _pca_basis(sum_rows, dim: int, k: int):
    """Shared eigensolve for pca_project and its oracle twin: given
    the (i, j, n, sij, si, sj) moment-sum rows — from Spark's
    collect() OR the identical DuckDB aggregation — build the
    covariance matrix with the SAME float conversions and return the
    sign-pinned top-k basis W (d x k) and the exact mean vector mu.
    Both callers run numpy's eigh on this machine, so the basis is
    bit-identical between the query and the oracle."""
    import numpy as np

    C = np.zeros((dim, dim))
    mu = np.zeros(dim)
    for r in sum_rows:
        n = float(r["n"])
        cov = (float(r["sij"]) - float(r["si"]) * float(r["sj"]) / n) / n
        C[r["i"], r["j"]] = cov
        C[r["j"], r["i"]] = cov
        if r["i"] == r["j"]:
            mu[r["i"]] = float(r["si"]) / n
    evals, evecs = np.linalg.eigh(C)
    order = np.argsort(evals)[::-1][: int(k)]
    W = evecs[:, order]  # d x k
    for c in range(W.shape[1]):
        piv = int(np.argmax(np.abs(W[:, c])))
        if W[piv, c] < 0:
            W[:, c] = -W[:, c]
    return W, mu


def pca_project_sql_duckdb(
    sf_dir: str,
    table: str = "embeddings",
    dim: int = 64,
    k: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str | None:
    """DuckDB twin of ``pca_project`` — an INDEPENDENT projection of
    the same table, with only the tiny (d x k) basis baked in as
    literals.

    The eigendecomposition itself is not SQL-expressible, but it is a
    deterministic function of the moment sums, and the moment sums
    are themselves oracle-paired (``embedding_covariance``). So the
    twin recomputes the SAME decimal moment sums in DuckDB at
    generation time, runs the SAME ``_pca_basis`` eigensolve, and
    emits SQL whose projection replicates Spark's expression shape
    term-for-term: ``0.0 + w_0*(e_1 - mu_0) + w_1*(e_2 - mu_1) + …``
    left-to-right in IEEE double, zero-weight terms skipped, rounded
    to 6 with negative zero collapsed. Identical input bits + an
    identical operation sequence → identical hashes.

    Returns None when the parquet is absent (the registry then keeps
    the entry rows-only rather than failing oracle_sql()).
    """
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    if not os.path.exists(path):
        return None
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')"
    )
    sums = con.execute(
        f"""
WITH x AS (
  SELECT list_transform({vec_col},
         v -> cast(round(cast(v AS DOUBLE), 6) AS DECIMAL(12,6))) AS e
  FROM {table} WHERE len({vec_col}) = {int(dim)}
),
marg AS (
  SELECT k, count(*) AS n, sum(e[k+1]) AS s
  FROM x, range(0, {int(dim)}) tk(k) GROUP BY 1
),
cells AS (
  SELECT i, j, sum(e[i+1] * e[j+1]) AS sij
  FROM x, range(0, {int(dim)}) ti(i), range(0, {int(dim)}) tj(j)
  WHERE j >= i GROUP BY 1, 2
)
SELECT i, j, mi.n AS n, sij, mi.s AS si, mj.s AS sj
FROM cells JOIN marg mi ON cells.i = mi.k
JOIN marg mj ON cells.j = mj.k
"""
    ).fetchall()
    rows = [
        {"i": i, "j": j, "n": n, "sij": sij, "si": si, "sj": sj}
        for (i, j, n, sij, si, sj) in sums
    ]
    con.close()
    W, mu = _pca_basis(rows, dim, k)
    cols = []
    for c in range(W.shape[1]):
        terms = ["0.0"]
        for i in range(dim):
            w = float(W[i, c])
            if w != 0.0:
                terms.append(
                    f"({w!r}) * (CAST({vec_col}[{i + 1}] AS DOUBLE)"
                    f" - ({float(mu[i])!r}))"
                )
        expr = " + ".join(terms)
        cols.append(f"round({expr}, 6) + 0.0 AS pc{c + 1}")
    col_sql = ",\n       ".join(cols)
    return f"""
SELECT {id_col} AS vec_id,
       {col_sql}
FROM {table}
WHERE len({vec_col}) = {int(dim)}
"""


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion (hybrid sparse+dense retrieval)
# ---------------------------------------------------------------------------


def rrf_fuse(
    rankings: list[DataFrame],
    k0: int = 60,
    k: int = 10,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR
    2009) of several rankers' top-k lists — the standard hybrid
    retrieval combiner (BM25 + embedding ANN):

        rrf(d) = sum_r 1 / (k0 + rank_r(d))

    Engine-exactness: each reciprocal is rounded to 9 decimals and
    summed as DECIMAL (the per-term double division of identical
    integer inputs is identical in every engine; the SUM order is
    then irrelevant because decimal addition is exact), and the
    final top-k cuts on (score desc, id) — no float tie ambiguity.

    Scale shape: inputs are already top-k lists (k rows per ranker
    per query), so everything here is small by construction; the
    union + hash aggregate is the whole plan. Output:
    (doc_id, rrf_score, n_rankers).
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        r.select(
            F.col(id_col).alias("doc_id"),
            F.round(
                F.lit(1.0) / (F.lit(int(k0)) + F.col(rank_col)), 9
            )
            .cast("decimal(20,9)")
            .alias("_c"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("doc_id").agg(
        F.sum("_c").alias("_s"),
        F.count(F.lit(1)).alias("n_rankers"),
    )
    return (
        fused.orderBy(F.col("_s").desc(), F.col("doc_id"))
        .limit(int(k))
        .select(
            "doc_id",
            F.round(F.col("_s").cast("double"), 9).alias("rrf_score"),
            "n_rankers",
        )
    )
