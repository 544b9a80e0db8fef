"""SparkSession factory tuned for the ingest engine.

Mirrors the reference's concurrency/batching surface
(lightning/config/config.go:211-217, tidb-lightning.toml:21-34) onto
Spark's own knobs: region-concurrency -> cores / shuffle partitions,
read-block-size & batch-size -> file split sizing, io-concurrency ->
Spark's own IO scheduling.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

# Defaults chosen for a single-node local[N] harness; on a real cluster
# only `shuffle_partitions` and `max_partition_bytes` matter (the rest
# come from the cluster manager).
_DEF_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# spark.sql.codegen.hugeMethodLimit: HotSpot's JIT limit (see get_spark;
# the 8000-vs-65535 A/B is in docs/HML_AB_r12.md)
HUGE_METHOD_LIMIT = "8000"


def get_spark(
    app_name: str = "tidb-lightning-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    max_partition_bytes: str = "128m",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Scale notes (100 TB design):
    - AQE on: runtime coalescing of the per-table shuffle plans and
      skew-join splitting replace the reference's hand-tuned worker
      pools (lightning/worker/worker.go:23-65).
    - `spark.sql.files.maxPartitionBytes` plays the role of the
      reference's chunk splitter (lightning/mydump/parser.go:502-535):
      one input split == one "chunk".
    - Arrow enabled for the few pandas-UDF kernels (crc64, multimodal
      decode) so Python exchange is columnar, not per-row pickling.
    - Session timezone pinned to UTC so timestamp canonicalization is
      deterministic across engines (checksum parity).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or _DEF_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.files.maxPartitionBytes", max_partition_bytes)
        # Align Spark's whole-stage-codegen bailout with HotSpot's JIT
        # limit (r11 opt, guide §7.2/§1.2): the MySQL cast ladder over
        # a wide table compiles to ONE WSCG projection method —
        # measured 35 KB of bytecode on lineitem's 11 columns — and
        # HotSpot silently refuses to JIT any method past 8000 bytes
        # (-XX:DontCompileHugeMethods), so the whole hot path ran in
        # the JVM *interpreter*. Spark's default bailout (65535) never
        # triggered. At 8000, stages whose generated method would be
        # un-JIT-able fall back to per-operator projections, whose
        # expression code splits into small JIT-friendly methods:
        # measured 2-5x on the ingest scan->cast stage at sf0.1, and
        # the same reasoning holds on any executor JVM at 100 TB.
        .config("spark.sql.codegen.hugeMethodLimit", HUGE_METHOD_LIMIT)
        # one FILE (or byte-range split) per partition: a huge
        # per-file open cost stops FilePartition bin-packing, so every
        # task of a text scan owns exactly one block and the low 33
        # bits of monotonically_increasing_id are the exact in-block
        # row index (rowid.assign_rowid_by_range fast path — no extra
        # job; a session that packs takes its window fallback).
        # Splittable formats still split at maxPartitionBytes; only
        # small-file packing is lost.
        .config("spark.sql.files.openCostInBytes", str(1 << 40))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate may return a pre-existing session whose builder confs
    # were ignored; re-apply the runtime-settable invariants the engine
    # depends on (rowid fast path needs openCostInBytes; checksum
    # canonicalization needs UTC)
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 40))
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.codegen.hugeMethodLimit", HUGE_METHOD_LIMIT)
    return spark


def settle_import_caches() -> None:
    """Drop the ``zipimporter`` finders from ``sys.path_importer_cache``.

    Call it first in every Python function a restore ships to the
    workers. Before each task a reused worker runs
    ``importlib.invalidate_caches()`` (pyspark's ``setup_spark_files``),
    and on CPython 3.11 every cached ``zipimporter`` then re-reads its
    archive's central directory: with pyspark imported from
    ``pyspark.zip`` that measured 0.16-0.27 s of CPU per Python runner
    per task on a 4-core box, more than a small ``.sql`` part's parse
    plus its kv_crc64 kernel. The cache is only a cache: the next
    import that searches a dropped path builds a new finder from
    ``zipimport._zip_directory_cache`` without touching the archive.
    The first task of a new worker still pays once.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


def derived_shuffle_partitions(
    est_rows: int,
    row_bytes: int = 48,
    target_bytes: int = 64 << 20,
    floor: int | None = None,
    cap: int = 4096,
) -> int:
    """Partition count for a shuffle stage sized to the DATA flowing
    through it, not the session's static ``spark.sql.shuffle.partitions``.

    The engine rule (docs/SCALE.md finding 3, promoted here per the
    round-10 review): a shuffle stage should hold ~``target_bytes``
    (default 64 MiB) of rows per partition so per-partition sort state
    fits executor memory without spilling. AQE coalesces DOWN when a
    stage turns out small, but never splits UP past the configured
    count — so stages whose volume is *derivable up front* (candidate
    generators whose banded-row count is n_rows x n_keys, exploders
    with a known fan-out) must request enough partitions themselves.

    Returns ``clamp(ceil(est_rows * row_bytes / target_bytes),
    floor, cap)`` where ``floor`` defaults to the active session's
    ``spark.sql.shuffle.partitions`` (never LOWER parallelism below
    the session default — AQE handles the small case) and ``cap``
    bounds scheduler overhead. At 100 TB a caller feeds this the
    stage's estimated row count (e.g. ``n_docs * n_band_keys``) and
    the shuffle scales with the corpus instead of walking into the
    fixed-partition spill cliff measured at 1024x in r10.
    """
    if floor is None:
        floor = _DEF_SHUFFLE_PARTITIONS
        active = SparkSession.getActiveSession()
        if active is not None:
            try:
                floor = int(active.conf.get("spark.sql.shuffle.partitions"))
            except Exception:
                pass
    need = -(-max(int(est_rows), 0) * row_bytes // target_bytes)
    return max(min(need, cap), floor, 1)
