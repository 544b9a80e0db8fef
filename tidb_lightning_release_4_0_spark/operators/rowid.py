"""F4/T5: deterministic row-id assignment.

One chain per table, as the reference's MakeTableRegions: each data
file, in dump order, reserves size / divisor ids past the previous
file's range (prevRowIDMax, lightning/mydump/region.go:146-170; the
divisor is the column count, + 2 for a non-CSV file), and its rows
count up from that base (parser.go:429, csv_parser.go:97).
``plan_row_ids`` is the only place that decides a lane's divisor, a
file's base and the chain's end; every byte-estimate reader takes its
bases and divisor from it, so a table's formats share one chain.
Each reader has one stamp: ``assign_rowid_by_range`` for every JVM
text scan (whole-file and strict-format CSV, strict-format JSONL:
base + the block's ``split_chunk_base`` + the row's index in its
block, zero extra jobs on one-block-per-task sessions),
``csv_blocks.read_blocks`` for block-grain engines (the same
formula over an explicit block list), ``csv_strict.read_csv_strict``
and ``sql_dump_source.read_sql_dump`` (a split .sql file counts from
base + statement offset // divisor). Ids are unique and monotonic in
dump order, with gaps between files. Sources whose bytes cannot bound
their rows (gzip, parquet, JSONL outside a strict-format table of
plain .jsonl parts) take ``assign_rowid_mono``'s capacity scheme, in
bands past the chain's end.

``assign_rowid_dense``: exact dense 1..N ids given a total order key —
two passes (per-partition counts, then offsets), mirroring how the
reference gets exact continuation for auto-increment rebase.
Range-partitioned, never a single-partition window; its
``monotonically_increasing_id`` low 33 bits serve only as the row's
index within its partition.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyarrow import ArrowException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.types import _make_type_verifier
from pyspark.sql.window import Window

from .permutation import session_plan_cache

ROWID = "_row_id"


def metadata_df(spark, rows: list, schema, slices: int = 1) -> DataFrame:
    """Driver-sized metadata frame with an EXPLICIT slice count:
    plain createDataFrame splits even a 32-row list across
    defaultParallelism partitions (a broadcast build then schedules
    32 near-empty tasks as an extra job per restore), and a
    .repartition to fix the layout is a shuffle AQE materializes as
    its own job. slices=1 for broadcast tables; slices=len(rows) for
    one-task-per-row read plans (the reference's one restore task per
    chunk, mydump/region.go:87-170).

    The slices=1 (broadcast) path converts through pandas/Arrow: the
    Arrow batch is built in this process, so materializing the
    broadcast costs ~half the wall of the 1-task RDD scan (measured
    0.52 -> 0.24 s per build at 32 rows; one build per table per
    restore). pandas stores an integer column holding a None as
    float64, which rounds every value above 2^53: such rows take the
    row path.

    The row path makes the JVM calls of pyspark's own
    createDataFrame(list) without its Python hop: each row is checked
    by the schema's type verifier (a wrong-typed value raises before
    any job starts) and converted to its internal form here, then the
    JVM unpickles the parallelized list (SerDeUtil) and applies the
    schema. createDataFrame(parallelize(rows)) would put a PythonRDD
    identity map (RDD._pickled) under the plan: one more Python runner
    in every task of a .sql, strict-CSV or block read."""
    if slices == 1 and rows and not _int_nulls(rows, schema):
        try:
            names = [f.name for f in schema.fields]
            return spark.createDataFrame(
                pd.DataFrame(rows, columns=names), schema
            )
        except (ArrowException, TypeError, ValueError, OverflowError):
            pass  # arrow/pandas conversion edge: the row path below
    verify = _make_type_verifier(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(row))
    jvm = spark._jvm
    jrdd = spark.sparkContext.parallelize(internal, max(slices, 1))._jrdd
    objects = jvm.SerDeUtil.toJavaArray(jvm.SerDeUtil.pythonToJava(jrdd, True))
    return DataFrame(
        spark._jsparkSession.applySchemaToPythonRDD(
            objects.rdd(), schema.json()
        ),
        spark,
    )


def _int_nulls(rows: list, schema) -> bool:
    """Whether any integral column of ``schema`` holds a None."""
    idx = [
        i for i, f in enumerate(schema.fields)
        if isinstance(f.dataType, T.IntegralType)
    ]
    return any(r[i] is None for r in rows for i in idx)


# 2^33 rows per partition capacity: 8.5B rows/chunk never overflows
# at 100 TB with <= 2^30 partitions.
_PARTITION_CAPACITY = 1 << 33


def _with_local_index(df: DataFrame) -> DataFrame:
    """Add _pid + _local_idx without shuffling or Python: the low 33
    bits of monotonically_increasing_id are the row's index within its
    partition (the capacity scheme, as in assign_rowid_by_range)."""
    return df.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_local_idx",
        F.monotonically_increasing_id().bitwiseAND(
            F.lit(_PARTITION_CAPACITY - 1)
        ),
    )


# a capacity-scheme lane read as several column-list groups gives
# group i the band from start + i * MONO_GROUP_STRIDE (2^20 partitions
# of 2^33 rows each)
MONO_GROUP_STRIDE = 1 << 53


def assign_rowid_mono(df: DataFrame, start: int = 1) -> DataFrame:
    """Capacity-scheme row-ids with ZERO extra passes (all-JVM):
    ``monotonically_increasing_id`` IS ``pid * 2^33 +
    row_index_in_partition``, which is exactly the capacity scheme —
    used here ONLY for uniqueness (compressed/columnar sources where
    byte-estimate bases are unsafe), never for density or dump-order
    claims (the module-docstring caveat about mono-id is about those
    claims). Callers separate concurrent sources into disjoint id
    lanes via ``start``."""
    return df.withColumn(
        ROWID, F.monotonically_increasing_id() + F.lit(int(start))
    )


# a JSON-Lines row is at least "{}" and its newline
JSONL_MIN_LINE_BYTES = 3


@dataclass(frozen=True)
class RowIdPlan:
    """``bases[path]``: the id before a file's first row;
    ``divisor[lane]``: the lane's minimum row bytes, also the offset
    term of its split reads (split_chunk_base); every id the chain
    assigns is below ``end``."""

    bases: dict[str, int]
    divisor: dict[str, int]
    end: int


def plan_row_ids(
    files: list[tuple[str, int, str]],
    widths: dict[str, int],
    split_bytes: int | None = None,
) -> RowIdPlan:
    """A table's one row-id chain: ``files`` are (path, size, lane) in
    dump order, and each reserves ``size // divisor`` ids past the
    previous file's range. The divisor is a lower bound on a row's
    bytes, from ``widths[lane]``, the field count of the lane's
    narrowest column list: the width for "csv" (k fields take k - 1
    separators and a newline), the width + 2 for "sql" (the
    reference's non-CSV divisor; a tuple takes 2k + 2 bytes) and
    JSONL_MIN_LINE_BYTES for "jsonl".

    ``split_bytes``: the csv and jsonl files are read in byte ranges of
    that size. A range reads through the line straddling its end, so
    each such file reserves one more id per range; a split .sql file
    needs none, as its ranges realign at statement markers."""
    divisor = {
        lane: JSONL_MIN_LINE_BYTES if lane == "jsonl"
        else max(widths[lane] + (2 if lane == "sql" else 0), 1)
        for lane in {*widths, *(f[2] for f in files)}
    }
    bases: dict[str, int] = {}
    base = 0
    for path, size, lane in files:
        bases[path] = base
        base += max(size // divisor[lane], 1) + 1
        if split_bytes and lane != "sql":
            base += max(-(-size // split_bytes), 1)
    # one spare id per file past the chain: where the capacity-scheme
    # lanes have always started, so their ids do not move
    return RowIdPlan(bases, divisor, base + len(files) + 1)


def _file_aliases(spark, bases: dict[str, int]) -> dict[str, int]:
    """``bases`` keyed by every name a row's file can carry: the raw
    path (a caller-materialized ``_fname``) and input_file_name()'s
    URI. Spark reports a local file as Hadoop's ``Path.toUri()``
    string, so the alias is built by that same conversion: a space,
    '%', '#' or non-ASCII character is encoded exactly as the scan
    encodes it (a hand-built "file://" + path would match no row of
    such a file and give it base 0)."""
    to_path = spark._jvm.org.apache.hadoop.fs.Path
    out: dict[str, int] = {}
    for k, v in bases.items():
        out[k] = int(v)
        if "://" not in k:
            out["file://" + to_path(k).toUri().toString()] = int(v)
    return out


def _file_base_rowids(
    df: DataFrame,
    bases: dict[str, int],
    in_file_index: Column,
) -> DataFrame:
    """rowid = plan-time per-file base + ``in_file_index`` + 1, with
    the base broadcast-joined on ``_fname``: input_file_name(), or the
    raw path a caller materialized itself (the block reader, the
    packed-session window fallback).

    Shared by the range stamp (index = [split_chunk_base +] in-block
    row index) and the block reader (index = split_chunk_base +
    the row index it emits). Map keys are normalized to both aliases at
    PLAN time (_file_aliases) so no per-row regexp runs — the rowid
    expression gets inlined into multiple downstream projections
    (CollapseProject duplicates it), so per-row cost matters doubly.
    The base table is a broadcast join, not a literal create_map:
    codegen rebuilds a literal map PER ROW (measurably slower even at
    32 files), while the hash probe is O(1) — and still zero
    data-plane aggregation jobs."""
    if not bases:
        return df.withColumn(ROWID, in_file_index + F.lit(1))
    spark = df.sparkSession
    # the tiny bases frame is memoized in the session plan memo: the
    # createDataFrame round trips (~70ms at 32 files) would otherwise
    # repeat for every engine batch of every run of the same dump
    cache = session_plan_cache(spark)
    key = ("bases", tuple(sorted(bases.items())))
    bmap = cache.get(key) if cache is not None else None
    if bmap is None:
        bmap_schema = T.StructType(
            [
                T.StructField("_fname", T.StringType()),
                T.StructField("_fbase", T.LongType()),
            ]
        )
        bmap = metadata_df(
            spark, list(_file_aliases(spark, bases).items()), bmap_schema
        )
        if cache is not None:
            cache[key] = bmap
    # a caller that already materialized _fname keeps its column (the
    # packed-session window fallback must: input_file_name() is only
    # defined inside the file-scan stage, not above the window's
    # shuffle); otherwise evaluate it here, in the scan stage
    d = df if "_fname" in df.columns else df.withColumn(
        "_fname", F.input_file_name()
    )
    return (
        d.withColumn("_local", in_file_index)
        .join(F.broadcast(bmap), "_fname", "left")
        .withColumn(
            ROWID,
            F.coalesce(F.col("_fbase"), F.lit(0))
            + F.col("_local")
            + F.lit(1),
        )
        .drop("_fname", "_local", "_fbase")
    )


def _conf_bytes(v: str) -> int:
    # JavaUtils.byteStringAsBytes subset: bare bytes or k/m/g/t
    # with optional trailing 'b' ("128m", "128mb", "134217728")
    v = str(v).strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
        ("tb", 1 << 40), ("k", 1 << 10), ("m", 1 << 20),
        ("g", 1 << 30), ("t", 1 << 40), ("b", 1),
    ):
        if v.endswith(suf):
            v = v[: -len(suf)]
            mult = m
            break
    return int(float(v) * mult)


def split_bytes_lower_bound(spark) -> int:
    """A plan-time LOWER bound on Spark's actual file-split size:
    maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    bytesPerCore)) >= min(maxPartitionBytes, openCostInBytes)
    (FilePartition.maxSplitBytes). Used for the per-block row-id
    cushion — a lower bound on split size is an UPPER bound on block
    count, which keeps the cushion safe under any conf."""
    mpb = _conf_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    oc = _conf_bytes(spark.conf.get("spark.sql.files.openCostInBytes"))
    return max(min(mpb, max(oc, 1)), 1)


def split_chunk_base(offset: Column, divisor: int, split_bytes: int) -> Column:
    """The row-id base of the byte-range block at ``offset`` within
    its file, ``floor(off / divisor) + floor(off / S)``: the
    SplitLargeFile rule (see assign_rowid_by_range). Every
    byte-range reader takes its offset term from here, so a block's
    ids do not depend on which reader produced them."""
    return (
        F.floor(offset / F.lit(max(int(divisor), 1)))
        + F.floor(offset / F.lit(max(int(split_bytes), 1)))
    ).cast("long")


def assign_rowid_by_range(
    df: DataFrame,
    bases: dict[str, int],
    divisor: int,
    split_bytes: int | None = None,
) -> DataFrame:
    """Row-ids for a JVM text scan of byte-estimate files (CSV, JSON
    Lines): each byte-range block gets the reserved base

        rowid = file_base + floor(off / divisor) + floor(off / S) + i + 1

    with ``off`` the block's byte offset, ``S`` = ``split_bytes`` and
    ``i`` the row index inside the block — the reference's
    SplitLargeFile scheme (mydump/region.go:87-143:
    chunk.PrevRowIDMax = offset/divisor). The floor(off/S) term spends
    the one id per preceding block that plan_row_ids reserves for the
    line a block absorbs from beyond its range (the reference
    re-aligns chunk offsets to line boundaries at plan time; Spark
    re-syncs at READ time). ``bases`` and ``divisor`` must come from
    a plan_row_ids call given the same split_bytes. Without
    ``split_bytes`` the read is whole-file (multiLine CSV: every block
    starts at offset 0), so the offset term is dropped and
    rowid = file_base + i + 1 (parser.go:429).

    Fast path: one block per task — the session's huge
    openCostInBytes makes every split (or whole file) its own
    FilePartition, so the low 33 bits of monotonically_increasing_id
    ARE the in-block row index and ``off`` comes from
    input_file_block_start(): no extra job, scan or shuffle.

    A session that PACKS blocks (openCostInBytes < maxPartitionBytes:
    Spark bin-packs several splits or small files into one
    FilePartition, and the mono id keeps counting across them) takes
    an exact fallback instead: the in-block index comes from a window
    partitioned by (file, block start) ordered by the mono id, which
    is exact under any packing, at the cost of one shuffle of the
    projected columns."""
    conf = df.sparkSession.conf
    oc = _conf_bytes(conf.get("spark.sql.files.openCostInBytes"))
    if oc >= _conf_bytes(conf.get("spark.sql.files.maxPartitionBytes")):
        local = F.monotonically_increasing_id().bitwiseAND(
            F.lit(_PARTITION_CAPACITY - 1)
        )
        offset = F.expr("input_file_block_start()")
    else:
        # the mono id is monotone within a task, hence within each
        # packed block, so ordering by it keeps the in-block physical
        # row order. Every file-context expression is materialized at
        # SCAN time: above the window's shuffle, input_file_name() and
        # input_file_block_start() have no file context and silently
        # return constants.
        df = (
            df.withColumn("_fname", F.input_file_name())
            .withColumn("_boff", F.expr("input_file_block_start()"))
            .withColumn("_mono", F.monotonically_increasing_id())
        )
        local = (
            F.row_number().over(
                Window.partitionBy("_fname", "_boff").orderBy("_mono")
            )
            - F.lit(1)
        ).cast("long")
        offset = F.col("_boff")
    if split_bytes:
        local = split_chunk_base(offset, divisor, split_bytes) + local
    return _file_base_rowids(df, bases, local).drop("_boff", "_mono")


def assign_rowid_dense(
    df: DataFrame, order_by: list[str], start: int = 1, num_partitions: int | None = None
) -> DataFrame:
    """Exact dense ids 1..N in the total order given by ``order_by``.

    Plan: range-repartition on the key -> sort within partitions ->
    local index (no shuffle) -> tiny per-partition count agg ->
    broadcast-join cumulative bases. Both passes scan the shuffled
    data; at scale, persist the sorted frame if it is reused.
    """
    cols = [F.col(c) for c in order_by]
    d = df.repartitionByRange(*( [num_partitions] if num_partitions else [] ), *cols)
    d = d.sortWithinPartitions(*cols)
    d = _with_local_index(d)

    counts = (
        d.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt")).collect()
    )  # O(partitions) rows on the driver
    base, bases = 0, []
    for row in sorted(counts, key=lambda r: r["_pid"]):
        bases.append((row["_pid"], base))
        base += row["_cnt"]
    spark = df.sparkSession
    bases_schema = T.StructType(
        [
            T.StructField("_pid", T.IntegerType()),
            T.StructField("_base", T.LongType()),
        ]
    )
    bases_df = metadata_df(
        spark, [(int(p), int(b)) for p, b in bases], bases_schema
    )

    return (
        d.join(F.broadcast(bases_df), "_pid")
        .withColumn(ROWID, F.col("_base") + F.col("_local_idx") + F.lit(start))
        .drop("_pid", "_local_idx", "_base")
    )
