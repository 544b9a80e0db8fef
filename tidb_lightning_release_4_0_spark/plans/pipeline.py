"""The restore controller: the reference's fixed 6-step "plan"
(RestoreController.Run, lightning/restore/restore.go:252-287)
re-expressed as per-table Spark jobs.

    [1] preflight checks        (restore.go:1117-1134)
    [2] restore schema          (restore.go:289-333)
    [3] restore tables          (restore.go:563-685)
    [4] full compact            (restore.go:1056-1070)  -> sink finalize
    [5] switch to normal mode   (restore.go:1088-1091)  -> n/a
    [6] clean checkpoints       (restore.go:1217-1236)

Per table, the reference fans out engines/chunks/encode/deliver
goroutines (restore.go:736-852,1557-1803); all of that collapses
into one Spark stage pipeline per table:
``read (S3/S4) -> permutation/cast/rowid (F3,F4,T3-T5) -> sink
write (K3) -> checksum verify (C1-C3)``. Tables are submitted
smallest-first (O3, loader.go:213-220); failures collect into the
per-table error summary (O12, restore.go:89-129).
"""

from __future__ import annotations

import concurrent.futures as cf
import datetime as _dt
import functools
import logging
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from ..config import Config, strict_sql_mode
from ..functions.checksum import Checksum
from ..operators.permutation import apply_permutation, session_plan_cache
from ..operators.rowid import RowIdPlan, plan_row_ids
from ..sinks.base import Sink, reject_duplicate_keys
from ..sinks.memory_sink import MemorySink
from ..sinks.parquet_sink import ParquetSink
from ..sources import literal_paths
from ..sources.csv_source import read_csv
from ..sources.csv_strict import read_csv_strict, read_header
from ..sources.mydump_loader import MDTableMeta, discover_cfg
from ..sources.schema_reader import TableSchema, load_table_schema
from ..sources.sql_dump_source import (
    MISSING_FIELD,
    probe_insert_columns,
    read_sql_dump,
)
from .checkpoints import CheckpointStore, Status, invalid, metric_name

log = logging.getLogger("tidb_lightning_spark")


class CheckpointInvalidError(RuntimeError):
    """Raised at run start when a previous run left errored (invalid)
    checkpoints — the reference stops the whole task to prevent data
    loss (restore.go:597-653) and prints the ctl action that resolves
    each table."""

    def __init__(self, tables: dict[str, int]):
        self.tables = tables
        lines = [
            '["TiDB Lightning has failed last time. To prevent data '
            'loss, this run will stop now. Please resolve errors '
            f'first"] [count={len(tables)}]'
        ]
        for name, status in sorted(tables.items()):
            failed_step = status * 10
            # ignore suffices for post-import steps; earlier failures
            # may have left partial data -> destroy (restore.go:629-637)
            action = (
                "ignore"
                if failed_step
                in (Status.ALTERED_AUTO_INC, Status.ANALYZED)
                else "destroy"
            )
            lines.append(
                f"[-] [table={name}] [status={status}] "
                f"[failedStep={metric_name(failed_step)}] "
                f'[recommendedAction="./ctl.py checkpoint-error-'
                f"{action} --table='{name}' ...\"]"
            )
        lines.append(
            "You may also run `./ctl.py checkpoint-error-destroy "
            "--table=all ...` to start from scratch"
        )
        lines.append(
            "For details of this failure, read the log file from the "
            "PREVIOUS run"
        )
        super().__init__("\n".join(lines))


@dataclass
class TableResult:
    table: str
    status: str  # "restored" | "failed" | "skipped"
    rows: int = 0
    checksum: Checksum | None = None
    alloc_base: int = 0
    error: str | None = None
    failed_step: int | None = None  # Status the failed step targeted
    seconds: float = 0.0
    source_bytes: int = 0


@dataclass
class RunSummary:
    """O12 error summary (restore.go:89-129)."""

    tables: dict[str, TableResult] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return all(t.status != "failed" for t in self.tables.values())

    def report(self) -> str:
        lines = []
        failed = [r for r in self.tables.values() if r.status == "failed"]
        if failed:
            # restore.go:104-118 error summary header + per-table line
            lines.append(
                f'["tables failed to be imported"] [count={len(failed)}]'
            )
        for name, r in sorted(self.tables.items()):
            if r.status == "failed":
                step = metric_name(r.failed_step or 0)
                lines.append(
                    f'[-] [table={name}] [status={step}] '
                    f'[error="{r.error}"]'
                )
            else:
                mibs = (
                    r.source_bytes / r.seconds / (1 << 20) if r.seconds else 0
                )
                lines.append(
                    f"[+] [table: {name}] rows={r.rows} "
                    f"alloc_base={r.alloc_base} speed={mibs:.1f} MiB/s"
                )
        return "\n".join(lines)


def plan_engines(
    chunks: list[tuple[str, int, int]], batch_size: int
) -> list[list[tuple[str, int, int]]]:
    """S7: group a table's (path, offset, length) chunks into engines
    of ~``batch_size`` cumulative bytes (region.go:64-133; the dynamic
    batch ramp is dropped per SURVEY §2.1 S7). A chunk is a whole file
    ``(path, 0, size)`` or a byte-range block; each engine is the unit
    of idempotent delivery and checkpoint resume."""
    engines: list[list[tuple[str, int, int]]] = []
    cur: list[tuple[str, int, int]] = []
    size = 0
    for c in chunks:
        cur.append(c)
        size += c[2]
        if size >= batch_size:
            engines.append(cur)
            cur, size = [], 0
    if cur:
        engines.append(cur)
    return engines


@dataclass
class EnginePlan:
    """How pass 1 delivers one table: engines of (path, offset,
    length) chunks (restore.go:736-852).

    ``grain`` is "table" (one ``sink.write`` job, table-grain resume),
    "file" (one ``write_engine`` job per batch of whole files) or
    "block" (one ``write_engine`` job per batch of byte-range blocks
    of a strict-format CSV/JSONL table, split at ``split_bytes``).
    ``reason`` names the gate that chose the grain."""

    grain: str
    engines: list[list[tuple[str, int, int]]]
    reason: str
    split_bytes: int | None = None


class _ProgressTicker:
    """O7: periodic progress logging — restored bytes / total, speed
    and ETA on a daemon timer (the reference's logProgress ticker,
    restore.go:443-501). ``add`` is called per delivered engine."""

    def __init__(self, total_bytes: int, interval: float):
        self.total = max(int(total_bytes), 1)
        self.done = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._t0 = time.monotonic()
        self._thread = threading.Thread(
            target=self._loop, args=(float(interval),), daemon=True
        )

    def start(self) -> "_ProgressTicker":
        self._thread.start()
        return self

    def add(self, nbytes: int) -> None:
        with self._lock:
            self.done += int(nbytes)

    def _loop(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self.emit()

    def emit(self) -> None:
        with self._lock:
            done = self.done
        dt = max(time.monotonic() - self._t0, 1e-9)
        mib = 1 << 20
        pct = min(100.0 * done / self.total, 100.0)
        speed = done / dt / mib
        if done:
            eta = f"{(self.total - done) / (done / dt):.0f}s"
        else:
            eta = "..."
        log.info(
            "progress: %.1f%% (%.1f/%.1f MiB), speed %.2f MiB/s, ETA %s",
            pct, done / mib, self.total / mib, speed, eta,
        )

    def stop(self) -> None:
        self._stop.set()


class RestoreController:
    def __init__(
        self,
        spark: SparkSession,
        cfg: Config,
        sink: Sink | None = None,
        checkpoints: CheckpointStore | None = None,
        pauser=None,
        progress=None,
        cancel_event: threading.Event | None = None,
        job_group: str | None = None,
    ):
        self.spark = spark
        self.cfg = cfg.adjust()
        # O4: cooperative pause gate, honored before each table and
        # each engine batch (NewRestoreControllerWithPauser,
        # restore.go:158-161; deliver-loop wait restore.go:1692)
        self.pauser = pauser
        # task preemption (server DELETE of the running task,
        # lightning.go:427-441): the event aborts at table/engine
        # boundaries; the Spark job group lets cancelJobGroup kill
        # the in-flight job itself
        self.cancel_event = cancel_event
        self.job_group = job_group
        # web-progress broadcaster (server.TaskProgress; the analog
        # of web.Broadcast* calls in restore.go) — optional
        self.progress = progress
        self.sink = sink or self._default_sink()
        self.cp = checkpoints or CheckpointStore(
            cfg.checkpoint_path or None, enabled=cfg.checkpoint_enable
        )
        # freeze CURRENT_TIMESTAMP once per TASK, not per controller:
        # a resumed task must fill identical default timestamps
        # (reference stores the task checkpoint's timestamp —
        # tests/checkpoint_timestamp/run.sh asserts one distinct ts
        # across a crash-resume cycle)
        saved_ts = self.cp.task_meta("job_timestamp")
        if saved_ts:
            self.job_timestamp = _dt.datetime.fromisoformat(saved_ts)
        else:
            self.job_timestamp = _dt.datetime.now(_dt.timezone.utc).replace(
                tzinfo=None, microsecond=0
            )
            self.cp.set_task_meta(
                "job_timestamp", self.job_timestamp.isoformat()
            )
        self._ticker: _ProgressTicker | None = None
        # the table worker pool's bound (config.go:373-386): tables in
        # flight, and engine deliveries in flight across all tables
        self._table_workers = max(int(self.cfg.table_concurrency), 1)
        self._engine_slots = threading.BoundedSemaphore(self._table_workers)

    def _default_sink(self) -> Sink:
        if self.cfg.backend == "parquet":
            return ParquetSink(
                self.cfg.target_dir,
                self.cfg.on_duplicate,
                sorted_output=self.cfg.sorted_output,
                bucket_buckets=self.cfg.bucket_buckets,
                incremental=self.cfg.incremental,
                zorder_columns=self.cfg.zorder_columns,
            )
        if self.cfg.backend == "jdbc":
            from ..sinks.jdbc_sink import JDBCSink

            t = self.cfg.tidb
            return JDBCSink(
                url=f"jdbc:mysql://{t.host}:{t.port}",
                user=t.user,
                password=t.password,
                on_duplicate=self.cfg.on_duplicate,
            )
        if self.cfg.backend == "memory":
            return MemorySink(self.cfg.on_duplicate)
        raise ValueError(f"unknown backend: {self.cfg.backend!r}")

    # -- [2] schema restore ------------------------------------------------
    def load_schemas(self) -> dict[str, tuple[MDTableMeta, TableSchema]]:
        out = {}
        for db in discover_cfg(self.cfg):
            for tbl in db.tables.values():
                name = f"{db.name}.{tbl.name}"
                if self.cfg.mydumper.no_schema:
                    # no-schema mode: the target table already exists;
                    # take its schema from the sink (config.go:143,
                    # tests/no_schema/run.sh)
                    schema = self._schema_from_sink(name)
                    if schema is None:
                        log.warning("no target table for %s (no-schema)", name)
                        continue
                elif tbl.schema_file is None:
                    log.warning("missing schema file for %s", name)
                    continue
                else:
                    schema = load_table_schema(
                        tbl.schema_file, self.cfg.mydumper.character_set
                    )
                out[name] = (tbl, schema)
        return out

    def _schema_from_sink(self, name: str) -> TableSchema | None:
        """Build a TableSchema from an existing sink table's Spark
        schema (the LoadSchemaInfo-from-target analog,
        lightning/restore/tidb.go:154-208)."""
        from ..sources.schema_reader import ColumnSpec
        from pyspark.sql import types as T

        try:
            df = self.sink.read_back(self.spark, name)
        except Exception:
            return None
        spark_to_mysql = {
            T.ByteType: "tinyint", T.ShortType: "smallint",
            T.IntegerType: "int", T.LongType: "bigint",
            T.FloatType: "float", T.DoubleType: "double",
            T.StringType: "varchar", T.BinaryType: "blob",
            T.TimestampType: "datetime", T.DateType: "date",
            T.BooleanType: "tinyint",
        }
        cols = []
        for f in df.schema.fields:
            if f.name.startswith("_"):
                continue
            mysql_t = (
                "decimal"
                if isinstance(f.dataType, T.DecimalType)
                else spark_to_mysql.get(type(f.dataType), "varchar")
            )
            cols.append(
                ColumnSpec(
                    name=f.name,
                    mysql_type=mysql_t,
                    spark_type=f.dataType,
                    nullable=f.nullable,
                )
            )
        return TableSchema(name=name.split(".")[-1], columns=cols)

    # -- [3] per-table restore --------------------------------------------
    def read_table(
        self,
        meta: MDTableMeta,
        schema: TableSchema,
        only: set[str] | None = None,
    ) -> DataFrame:
        """Source read + permutation/cast/rowid; one Spark plan.

        ``only`` restricts the READ to a subset of the table's data
        files (one engine batch) while row-id bases stay computed
        over the FULL file list — a file's ids must not depend on
        which other files ride along, or checkpoint resume would
        renumber rows (restore.go:861-870 parity). Every lane maps its
        files' own column lists through _by_file_columns, except JSONL,
        whose lines name their keys (_jsonl_frame)."""

        def by_ext(*exts: str) -> list:
            return [f for f in meta.data_files if f.path.lower().endswith(exts)]

        def pick(files: list) -> list:
            return [f for f in files if only is None or f.path in only]

        all_csv, all_sql = by_ext(".csv", ".csv.gz"), by_ext(".sql")
        csv_files, sql_files = pick(all_csv), pick(all_sql)
        pq_files = pick(by_ext(".parquet"))
        jsonl_files = pick(by_ext(".jsonl", ".jsonl.gz"))
        strict = strict_sql_mode(self.cfg.tidb.sql_mode)
        frames: list[DataFrame] = []

        from ..operators.rowid import split_bytes_lower_bound

        _split_bytes = (
            split_bytes_lower_bound(self.spark)
            if self.cfg.mydumper.csv.strict_format
            else None
        )
        # each .sql file's column list, from its first INSERT (64 KiB
        # driver-side peek, no Spark job; None: table order), and each
        # header CSV's (None without a header): the row-id widths
        charset = self.cfg.mydumper.character_set
        sql_columns = {
            f.path: probe_insert_columns(f.path, charset) for f in all_sql
        }
        csv_cfg = self.cfg.mydumper.csv
        csv_columns = {f.path: read_header(f.path, csv_cfg) for f in all_csv}
        jl_chain = self._jsonl_on_chain(meta)
        # the strict parser reads whole CSV files
        split = (
            None if csv_cfg.strict_parser and not jl_chain else _split_bytes
        )
        ids = self._row_id_plan(meta, schema, split, csv_columns | sql_columns)
        # capacity-scheme id lanes for sources without safe byte-
        # estimate bases (parquet, gzip): each lane starts past the
        # table's row-id chain AND in its own band, so mixed-source
        # unions can never collide
        GZ_LANE = ids.end + 1
        PQ_LANE = ids.end + (1 << 61) + 1
        JSONL_LANE = ids.end + (1 << 62) + 1

        if pq_files:
            # Spark-native source extension: columnar dumps are
            # already typed, so their columns take apply_permutation's
            # typed branch (try_cast; under strict sql_mode a value
            # the cast nulls raises, so narrowing corruption still
            # errors; numeric values parquet already holds are
            # otherwise trusted — documented deviation for this
            # beyond-reference format). The footer names each file's
            # columns. Row-ids use the capacity scheme in the parquet
            # LANE: the byte estimate is UNSAFE for compressed
            # columnar files, where a row can occupy less than a byte.
            # Documented deviation: replace/ignore dup "arrival order"
            # for parquet rows follows the scan's partition order, not
            # the dump's file sequence the CSV/SQL paths guarantee —
            # columnar dumps carry no inherent row sequence.
            import pyarrow.parquet as pq

            frames.append(
                self._by_file_columns(
                    schema,
                    pq_files,
                    lambda path: pq.read_schema(path).names,
                    lambda cols, group: self.spark.read.parquet(
                        *literal_paths([f.path for f in group])
                    ),
                    mono_start=PQ_LANE,
                )
            )

        if jsonl_files:
            # Beyond-reference source: JSON-Lines parts (the
            # training-data handoff format; curation.export_jsonl is
            # the matching writer), read as text through the JVM. A
            # strict-format table of plain .jsonl parts takes the
            # table's chain through the range stamp with the JSONL
            # divisor: the ids its block-grain engines assign, so
            # _tidb_rowid (and kv_crc64) does not depend on whether
            # checkpointing is on. Other JSONL parts (gzip, or mixed
            # with other formats) take the capacity scheme in their
            # own lane (documented like the parquet lane).
            from ..operators.rowid import (
                assign_rowid_by_range,
                assign_rowid_mono,
            )
            from ..sources.jsonl_source import read_jsonl_lines

            df = read_jsonl_lines(
                self.spark,
                [f.path for f in jsonl_files],
                [c.name for c in schema.columns],
            )
            df = (
                assign_rowid_by_range(
                    df, ids.bases, ids.divisor["jsonl"], _split_bytes
                )
                if jl_chain
                else assign_rowid_mono(df, start=JSONL_LANE)
            )
            frames.append(self._jsonl_frame(schema, df))
        if csv_files:
            has_gz = any(f.path.lower().endswith(".gz") for f in csv_files)
            if has_gz and csv_cfg.strict_parser:
                raise ValueError(
                    "strict_parser reads raw bytes and does not "
                    "decompress; gunzip .csv.gz parts first or disable "
                    "csv.strict-parser"
                )
            lane = {}
            if csv_cfg.strict_parser:
                # read_csv_strict marks short rows with the sentinel:
                # LOAD DATA fills defaults for missing trailing fields
                lane["missing_sentinel"] = MISSING_FIELD

                def read(cols, group):
                    return read_csv_strict(
                        self.spark, [f.path for f in group], csv_cfg, cols,
                        ids.bases,
                    )
            else:
                from ..operators.rowid import assign_rowid_by_range

                # compressed sizes cannot bound row counts, so the
                # byte-estimate bases are unsafe: gz parts take the gz
                # lane's capacity-scheme ids (unique, zero extra jobs;
                # mono_start below). Documented deviation:
                # replace/ignore "arrival order" then follows scan
                # partition order, not the dump part sequence —
                # gunzip the parts when logical dup order matters.
                # Plain parts take the range stamp: strict-format
                # files are chunk-split at byte ranges (multiLine=false,
                # one huge CSV fans out across tasks) and each block
                # takes the reference's SplitLargeFile offset/divisor
                # base; multiLine reads are whole-file (no offset term)
                rowids = (
                    (lambda df: df)
                    if has_gz
                    else functools.partial(
                        assign_rowid_by_range,
                        bases=ids.bases,
                        divisor=ids.divisor["csv"],
                        split_bytes=_split_bytes,
                    )
                )
                # typed fast path for headerless files whose null
                # sentinel is not the empty string (not-null mode has
                # none). Strict sql_mode keeps it for ints/dates (every
                # natively-rejected token re-parses through
                # mysql_cast(strict=True), which raises exactly like
                # the string path) but float/double columns drop to the
                # string path: Double.parseDouble accepts
                # NaN/Infinity/hex-float literals strict MySQL must
                # reject — see native_read_type. Documented deviation
                # (both lanes): an unquoted empty token reads as NULL,
                # as univocity substitutes the null sentinel for it on
                # the string path (MySQL LOAD DATA: 0 with warning /
                # strict error).
                if (
                    not csv_cfg.header
                    and not csv_cfg.not_null
                    and csv_cfg.null != ""
                ):
                    # vectorized JVM parse for clean rows; corrupt-
                    # record fallback through mysql_cast. Headerless
                    # files make one group
                    from ..sources.csv_source import read_csv_native

                    nf = read_csv_native(
                        self.spark,
                        [f.path for f in csv_files],
                        csv_cfg,
                        schema.columns,
                        strict=strict,
                    )
                    lane["native_frame"] = nf

                    def read(cols, group):
                        return rowids(nf.df)
                else:

                    def read(cols, group):
                        return rowids(
                            read_csv(
                                self.spark, [f.path for f in group],
                                csv_cfg, cols,
                            )
                        )
            # a header row names (and orders) each file's columns;
            # without one the fields come in table order
            frames.append(
                self._by_file_columns(
                    schema,
                    csv_files,
                    csv_columns.get,
                    read,
                    mono_start=GZ_LANE if has_gz else None,
                    source_latin1=True,
                    **lane,
                )
            )
        if sql_files:
            # row-id bases and the split size come from the full file
            # list, whatever the group
            frames.append(
                self._by_file_columns(
                    schema,
                    sql_files,
                    sql_columns.get,
                    lambda cols, group: read_sql_dump(
                        self.spark,
                        [(f.path, f.size) for f in group],
                        charset,
                        columnar=True,
                        all_files=[(f.path, f.size) for f in all_sql],
                        column_names=cols,
                        bases=ids.bases,
                        divisor=ids.divisor["sql"],
                    ),
                    missing_sentinel=MISSING_FIELD,
                )
            )
        if not frames:
            # schema-only (empty) table, or a data file with zero
            # rows: the table must still be created in the target
            # (reference tests/tool_241 — dumps full of empty tables).
            # Shape must match what apply_permutation would emit —
            # including the hidden _tidb_rowid for tables without an
            # integer PK — so the delivered schema equals the
            # catalog registration.
            from ..operators.permutation import ROWID_COL

            struct = schema.struct_type
            if not schema.has_int_pk:
                struct = struct.add(ROWID_COL, T.LongType(), False)
            struct = struct.add("_row_id", T.LongType())
            return self.spark.createDataFrame([], schema=struct)
        return functools.reduce(DataFrame.unionByName, frames)

    def _observe_write(
        self,
        df: DataFrame,
        name: str,
        cols: list[str],
        schema: TableSchema,
        want_checksum: bool,
        tag: str = "",
    ):
        """Attach an Observation computing (C1 checksum triple?, row
        count, max alloc-id) INSIDE the write job — the Spark analog
        of the reference computing checksums in the deliver loop
        (restore.go:1557-1638): no separate source scan, ever."""
        from pyspark.sql import Observation

        df, metrics = self._write_metric_exprs(
            df, cols, schema, want_checksum
        )
        obs = Observation(f"write:{name}{tag}")
        df = df.observe(obs, *metrics).drop(
            *[c for c in ("_h", "_len") if c in df.columns]
        )
        return df, obs

    def _write_metric_exprs(
        self,
        df: DataFrame,
        cols: list[str],
        schema: TableSchema,
        want_checksum: bool,
    ):
        """The (df', aggregate exprs) pair behind both metric paths:
        observed inside the write job (DataFrame-action sinks) or
        aggregated eagerly (foreachPartition sinks, whose RDD action
        never fires an Observation listener)."""
        metrics = []
        if want_checksum:
            # row hash projected ONCE into _h (+_len for the
            # kv_crc64 modes); the aggregates only touch those
            # columns, so hashing runs once per row
            df = self._with_row_hash(df, cols, schema)
            metrics += [
                F.bit_xor(F.col("_h")).alias("crc_xor"),
                (
                    F.sum("_len").cast("long")
                    if "_len" in df.columns
                    else F.lit(-1).cast("long")
                ).alias("total_bytes"),
            ]
        metrics.append(F.count(F.lit(1)).alias("total_kvs"))
        id_col = self._alloc_id_column(df, schema)
        if id_col:
            metrics.append(F.max(F.col(id_col).cast("long")).alias("max_id"))
        return df, metrics

    def _eager_write_metrics(
        self,
        df: DataFrame,
        cols: list[str],
        schema: TableSchema,
        want_checksum: bool,
    ) -> dict:
        """Metrics for sinks whose write is NOT a DataFrame action
        (JDBC foreachPartition delivery): a DataFrame Observation
        would never fire there — obs.get blocks forever — so the
        same aggregates run as their own job before delivery. One
        extra source scan, paid only on the SQL-statement path (the
        reference's tidb backend is likewise its slow path; the bulk
        path keeps the in-write observe) — and only when something
        beyond the row count is needed: with checksum off and no
        alloc-id column, the delivery accumulator already counts
        rows, so no job runs at all."""
        if not want_checksum and self._alloc_id_column(df, schema) is None:
            return {}
        mdf, metrics = self._write_metric_exprs(
            df, cols, schema, want_checksum
        )
        row = mdf.agg(*metrics).first()
        return row.asDict()

    def _check_cancelled(self) -> None:
        if self.cancel_event is not None and self.cancel_event.is_set():
            raise RuntimeError("task cancelled")

    def _gate(self) -> None:
        """Pause gate that stays cancellable: a DELETE of a PAUSED
        task must not leave the worker parked forever (the
        reference's context cancellation interrupts Pauser.Wait,
        pause.go:108-115)."""
        self._check_cancelled()
        if self.pauser is None:
            return
        while not self.pauser.wait(timeout=0.2):
            self._check_cancelled()

    # Byte-semantics version per checksum algo: bump when an algo's
    # bytes change without a rename (r7 added index KVs + CanSkip +
    # the NilFlag empty row to kv_crc64/kv_crc64_v2; r8 added the
    # ENUM/SET/BIT/JSON/TIME datum kinds — a type previously
    # rejected, so r8 values where r7 produced any are identical, but
    # the version records the contract). Algos not listed are
    # version None (stable since introduction). The delivered-table
    # checksum is recorded in the sink under (algo, codec_version).
    _CHECKSUM_CODEC_VERSION = {"kv_crc64": 2, "kv_crc64_v2": 2}

    def _dedup_may_drop(self, schema: TableSchema) -> bool:
        """Keyed replace/ignore dedup and incremental merges change the
        delivered row set, so rows and alloc_base must come from the
        read-back aggregate and the table is rewritten as a whole."""
        return (
            bool(schema.primary_key)
            and self.cfg.on_duplicate in ("replace", "ignore")
        ) or self.cfg.incremental

    def _plan_delivery(
        self, name: str, meta: MDTableMeta, schema: TableSchema
    ) -> EnginePlan:
        """Choose the table's delivery grain: block, then file, else one
        table-grain engine. Runs no Spark job.

        Engine grains need a checkpoint store to record progress in, a
        sink with idempotent engine delivery, and a table that is not
        rewritten as a whole: replace/ignore dedup and incremental
        merges cross engines (dup=error is verified post-hoc instead),
        a bucketed write repartitions everything, and the strict
        parser reads the table in one pass."""
        whole = [(f.path, 0, f.size) for f in meta.data_files]
        csv_cfg = self.cfg.mydumper.csv
        for blocked, reason in (
            (not self.cp.enabled, "checkpoints off"),
            (self._dedup_may_drop(schema), "whole-table dedup or merge"),
            (self.cfg.bucket_buckets, "bucketed layout"),
            (csv_cfg.strict_parser, "strict parser"),
            (
                type(self.sink).write_engine is Sink.write_engine,
                "sink has no engine delivery",
            ),
        ):
            if blocked:
                return EnginePlan("table", [whole], reason)
        paths = [f.path.lower() for f in meta.data_files]
        # BLOCK grain: a strict-format table larger than batch_size
        # splits into byte-range engines, so a mid-FILE crash resumes
        # from the last delivered block range instead of re-running
        # whole files (checkpoints.go chunk keys; restore.go:1265-1266).
        # Plain .csv or plain .jsonl only (the byte-range reader seeks
        # uncompressed files; JSONL is line-delimited, hence splittable
        # under the same Hadoop line geometry; block row-id bases are
        # one scheme per table), and no header (a header row is
        # file-scoped state a block can't see).
        if (
            csv_cfg.strict_format
            and not csv_cfg.header
            and paths
            and (
                all(p.endswith(".csv") for p in paths)
                or all(p.endswith(".jsonl") for p in paths)
            )
        ):
            from ..operators.rowid import split_bytes_lower_bound
            from ..sources.csv_blocks import (
                files_use_supported_terminators,
                plan_file_blocks,
            )

            # BOTH geometry inputs are pinned in the checkpoint: a
            # resume MUST re-plan the exact block geometry, id bases,
            # AND engine grouping of the first run even if the session
            # conf or config changed in between — otherwise delivered
            # chunk keys would not match, row-id bases would shift,
            # and (for batch_size) old engine records would be merged
            # onto engines now holding DIFFERENT blocks, duplicating or
            # losing rows
            skey, bkey = f"split_bytes:{name}", f"block_batch_size:{name}"
            pinned_split = self.cp.task_meta(skey)
            pinned_batch = self.cp.task_meta(bkey)
            split = int(pinned_split or split_bytes_lower_bound(self.spark))
            batch = int(pinned_batch or self.cfg.mydumper.batch_size)
            sizes = [(f.path, f.size) for f in meta.data_files]
            engines = plan_engines(plan_file_blocks(sizes, split), batch)
            if len(engines) > 1:
                if files_use_supported_terminators(sizes):
                    if not pinned_split:
                        self.cp.set_task_meta(skey, str(split))
                    if not pinned_batch:
                        self.cp.set_task_meta(bkey, str(batch))
                    return EnginePlan(
                        "block", engines, "strict-format byte ranges", split
                    )
                # lone-\r line endings: the block reader's line
                # geometry would diverge from the native splittable
                # scan — fall through to file grain
                log.warning(
                    "table %s: CR line terminators detected; "
                    "block-grain resume disabled for this table",
                    name,
                )
        # parquet, gzip and off-chain jsonl sources have no plan-time
        # per-file id bases (byte estimates are unsafe for compressed
        # or columnar files), so their capacity-scheme ids are only
        # unique within ONE read — engine-split reads would collide
        if not self._jsonl_on_chain(meta) and any(
            p.endswith((".parquet", ".csv.gz", ".jsonl", ".jsonl.gz"))
            for p in paths
        ):
            return EnginePlan("table", [whole], "capacity-scheme row ids")
        engines = plan_engines(whole, self.cfg.mydumper.batch_size)
        if len(engines) < 2:
            return EnginePlan("table", [whole], "single engine")
        return EnginePlan("file", engines, "whole-file batches")

    def _deliver(
        self,
        name: str,
        meta: MDTableMeta,
        schema: TableSchema,
        cols: list[str],
        plan: EnginePlan,
    ):
        """Pass 1: one write job per engine of ``plan`` (the reference's
        deliver loop, restore.go:1557-1803), the checksum triple, row
        count and max alloc-id observed inside each write.

        Engine grains persist an engine record (rows, max id,
        checksum-so-far, chunks) and then mark the engine's (path,
        offset) chunks ALL_WRITTEN (checkpoints.go:92-130); a resumed
        run skips delivered engines without re-reading their data
        (restore.go:861-870), rebuilding the table's local checksum
        from the stored triples. Table grain writes no engine record
        (table-grain resume).

        The pending engines run as pool tasks, as the reference's
        restoreEngines starts one goroutine per engine
        (restore.go:770-809). Each holds one of the controller's
        ``table_concurrency`` engine slots while it runs (the
        reference's rc.tableWorkers), so no more write jobs run at
        once than tables may; at one slot the engines run serially in
        id order. The first failure cancels the engines not yet
        started; the in-flight ones finish, each still writing and
        then recording, and the first error is raised (the reference's
        OnceError). Each task inherits the calling thread's Spark
        local properties, so its jobs stay in the task's job group
        (cancelJobGroup) and carry its description. Records fold in
        engine-id order."""
        engine_grain = plan.grain != "table"
        recs: dict[int, dict] = {}
        pending = []
        for eid, chunks in enumerate(plan.engines):
            rec = self.cp.engine_state(name, eid) if engine_grain else None
            if rec is not None and all(
                self.cp.chunk_status(name, p, off) >= Status.ALL_WRITTEN
                for p, off, _ in chunks
            ):
                log.info(
                    "[table: %s] engine %d already delivered, skipping "
                    "%d chunk(s)", name, eid, len(chunks)
                )
                recs[eid] = rec
            else:
                pending.append((eid, chunks))

        failed = threading.Event()
        errors: list[Exception] = []

        def deliver(eid, chunks):
            with self._engine_slots:
                if failed.is_set():
                    return None  # cancelled: a sibling engine failed
                try:
                    self._gate()  # park between engines (cancellable)
                    return self._deliver_engine(
                        name, meta, schema, cols, plan, eid, chunks
                    )
                except Exception as e:
                    errors.append(e)
                    failed.set()
                    raise

        if pending:
            self.cp.set_table_status(name, Status.LOADED)
            workers = min(len(pending), self._table_workers)
            with cf.ThreadPoolExecutor(max_workers=workers) as pool:
                futs = [
                    (eid, pool.submit(
                        inheritable_thread_target(self.spark)(deliver),
                        eid, chunks,
                    ))
                    for eid, chunks in pending
                ]
            if errors:
                raise errors[0]
            for eid, fut in futs:
                if (rec := fut.result()) is not None:
                    recs[eid] = rec
        total: Checksum | None = None
        rows = 0
        max_id: int | None = None
        for eid in sorted(recs):
            rec = recs[eid]
            if self.cfg.checksum and rec.get("crc_xor") is not None:
                ck = Checksum(
                    rec["crc_xor"], rec["total_bytes"], rec["total_kvs"]
                )
                total = ck if total is None else total.add(ck)
            rows += int(rec.get("rows") or 0)
            if rec.get("max_id") is not None:
                v = int(rec["max_id"])
                max_id = v if max_id is None else max(max_id, v)
        return total, rows, max_id

    def _deliver_engine(
        self,
        name: str,
        meta: MDTableMeta,
        schema: TableSchema,
        cols: list[str],
        plan: EnginePlan,
        eid: int,
        chunks: list[tuple[str, int, int]],
    ) -> dict:
        """One engine: read plan -> observe -> write -> engine record
        -> chunk marks -> progress. Returns the engine record."""
        want_cs = self.cfg.checksum
        engine_grain = plan.grain != "table"
        if plan.grain == "table":
            df = self.read_table(meta, schema)
        elif plan.grain == "file":
            df = self.read_table(meta, schema, only={p for p, _, _ in chunks})
        else:
            df = self._block_frame(meta, schema, chunks, plan.split_bytes)
        obs = None
        if self.sink.observes_write_action:
            df, obs = self._observe_write(
                df, name, cols, schema, want_cs,
                tag=f":{plan.grain}{eid}" if engine_grain else "",
            )
        else:
            m = self._eager_write_metrics(df, cols, schema, want_cs)
        if engine_grain:
            res = self.sink.write_engine(df, name, eid)
        else:
            res = self.sink.write(df, name)
        if obs is not None:
            m = obs.get
        rec = {
            "rows": res.rows if res.rows >= 0 else m.get("total_kvs", -1),
            "max_id": m.get("max_id"),
            # engine -> chunk mapping for the /progress/table marshal
            # (the reference's TableCheckpoint.Engines)
            "chunks": [[p, off] for p, off, _ in chunks],
        }
        if want_cs:
            rec.update(
                crc_xor=m["crc_xor"] or 0,
                total_bytes=m["total_bytes"],
                total_kvs=m["total_kvs"] * self._kv_mult(schema),
            )
        if engine_grain:
            # write THEN record, like the reference's deliver loop
            # (restore.go:1601-1634): a crash in between re-runs the
            # engine, whose directory-replace delivery is idempotent
            self.cp.set_engine_state(name, eid, rec)
        self.cp.mark_chunks(
            name, [(p, off) for p, off, _ in chunks], Status.ALL_WRITTEN
        )
        nbytes = sum(ln for _, _, ln in chunks)
        if self._ticker:
            self._ticker.add(nbytes)
        if self.progress:
            self.progress.table_written(name, nbytes)
        return rec

    def _jsonl_on_chain(self, meta: MDTableMeta) -> bool:
        """Whether the table's .jsonl parts take its byte-estimate
        chain: a strict-format table of plain .jsonl parts only (one
        id scheme per table, as its block-grain engines read it)."""
        return (
            self.cfg.mydumper.csv.strict_format
            and bool(meta.data_files)
            and all(
                f.path.lower().endswith(".jsonl") for f in meta.data_files
            )
        )

    def _row_id_plan(
        self, meta: MDTableMeta, schema: TableSchema,
        split_bytes: int | None, columns: dict,
    ) -> RowIdPlan:
        """The table's one row-id chain (rowid.plan_row_ids) over its
        byte-estimate data files in dump order: .csv, .csv.gz (its rows
        take the gz capacity lane, but it keeps its place in the chain)
        and .sql, plus .jsonl when _jsonl_on_chain. A lane's width is
        its narrowest list in ``columns`` (path -> probed list or
        None), at most the DDL width."""
        ncols = len(schema.columns)
        jsonl = self._jsonl_on_chain(meta)
        files, widths = [], {}
        for f in meta.data_files:
            p = f.path.lower()
            lane = (
                "csv" if p.endswith((".csv", ".csv.gz"))
                else "sql" if p.endswith(".sql")
                else "jsonl" if jsonl and p.endswith(".jsonl")
                else None
            )
            if lane is None:
                continue
            files.append((f.path, f.size, lane))
            cols = columns.get(f.path)
            widths[lane] = min(widths.get(lane, ncols), len(cols or ()) or ncols)
        return plan_row_ids(files, widths, split_bytes)

    def _block_frame(
        self,
        meta: MDTableMeta,
        schema: TableSchema,
        blocks: list[tuple[str, int, int]],
        split_bytes: int,
    ) -> DataFrame:
        """The read->permute->cast ladder over an explicit byte-range
        block list of a plain .csv or plain .jsonl table
        (csv_blocks.read_blocks): the same all-string shape,
        SplitLargeFile row-id formula and cast ladder as the table-grain
        strict-format scans — so an engine produces identical rows
        whether it ran in the first attempt or in a mid-file resume.
        JSONL blocks go through the table lane's _jsonl_frame and take
        the JSONL minimum-line divisor."""
        from ..sources.csv_blocks import read_blocks

        names = [c.name for c in schema.columns]
        jsonl = meta.data_files[0].path.lower().endswith(".jsonl")
        # bases over the FULL file list: a block's ids must not
        # depend on which blocks ride along (resume-renumber parity,
        # as read_table's `only` contract)
        ids = self._row_id_plan(meta, schema, split_bytes, {})
        read = functools.partial(
            read_blocks, self.spark, bases=ids.bases,
            divisor=ids.divisor["jsonl" if jsonl else "csv"],
            split_bytes=split_bytes,
        )
        if not jsonl:
            df = read(blocks, names, csv=self.cfg.mydumper.csv)
            return self._permute(df, schema, names, source_latin1=True)
        return self._jsonl_frame(schema, read(blocks, names))

    def _by_file_columns(
        self,
        schema: TableSchema,
        files: list,
        probe,
        read,
        mono_start: int | None = None,
        **lane,
    ) -> DataFrame:
        """The one column mapping of every read lane, decided per data
        file (the reference's per-chunk ColumnPermutation,
        initializeColumns restore.go:1356-1406): ``probe(path)`` reads
        the file's own column list driver-side (None: table order),
        ``files`` that share a list are read together by
        ``read(columns, files)``, each group goes through _permute
        under its list with the ``lane`` flags, and the groups are
        unioned. Probing only the first file would map a later file
        that orders or omits columns differently onto the wrong
        columns. ``mono_start`` gives a capacity-scheme lane its ids
        here, one disjoint band per group."""
        from ..operators.rowid import MONO_GROUP_STRIDE, assign_rowid_mono

        names = tuple(c.name for c in schema.columns)
        groups: dict[tuple, list] = {}
        for f in files:
            groups.setdefault(tuple(probe(f.path) or names), []).append(f)
        if mono_start is not None and len(groups) > 256:
            raise ValueError(
                f"{len(groups)} column lists in one table: more than "
                "its capacity-scheme id lane holds (256)"
            )
        frames = []
        for band, cols in enumerate(sorted(groups)):
            df = read(list(cols), groups[cols])
            if mono_start is not None:
                df = assign_rowid_mono(
                    df, start=mono_start + band * MONO_GROUP_STRIDE
                )
            frames.append(self._permute(df, schema, list(cols), **lane))
        return functools.reduce(DataFrame.unionByName, frames)

    def _jsonl_frame(self, schema: TableSchema, df: DataFrame) -> DataFrame:
        """JSONL read ``df`` with its ``_row_id``, shared by the table
        and block lanes: the DDL columns as strings, each line's keys
        matched case-insensitively (jsonl_source.json_line_map), so
        extra keys are ignored and missing keys arrive NULL, and a line
        whose keys match NO target column fails the job; they run the
        same MySQL cast ladder as CSV, and the text is real UTF-8, so
        the latin1 re-decode stays off. JSON cannot distinguish an
        absent key from an explicit null; for NOT NULL columns a null
        is invalid anyway, so it maps to the missing sentinel and takes
        the column DEFAULT (the absent-trailing-field CSV semantics);
        nullable columns keep real NULLs."""
        names = [c.name for c in schema.columns]
        nulls = {
            c.name: F.coalesce(F.col(c.name), F.lit(MISSING_FIELD))
            for c in schema.columns
            if not c.nullable
        }
        if nulls:
            df = df.withColumns(nulls)
        return self._permute(df, schema, names, missing_sentinel=MISSING_FIELD)

    def _permute(
        self, df: DataFrame, schema: TableSchema, file_columns, **lane
    ) -> DataFrame:
        """The one apply_permutation call of every read lane: this
        task's ``_row_id`` column, job timestamp, sql_mode and charset.
        ``lane`` carries the per-lane flags only (source_latin1,
        missing_sentinel, native_frame); charset is read by mysql_cast
        only under source_latin1."""
        return apply_permutation(
            df,
            schema,
            file_columns,
            rowid=F.col("_row_id"),
            job_timestamp=self.job_timestamp,
            strict=strict_sql_mode(self.cfg.tidb.sql_mode),
            keep=["_row_id"],
            charset=self.cfg.mydumper.character_set,
            **lane,
        )

    def restore_table(
        self, name: str, meta: MDTableMeta, schema: TableSchema
    ) -> TableResult:
        """One table's restore as (ideally) two data passes:

        pass 1 — read -> transform -> WRITE (one job per engine
        batch; a single batch for most tables), with the C1 checksum
        triple + row count + max alloc-id computed *during* the write
        via ``df.observe``;

        pass 2 — sink read-back computing (checksum, row count) in a
        single aggregate: C2 remote checksum + C4 AllocBase together
        (restore.go:998-1053 runs these as separate post-process
        steps against TiDB; one scan serves both here). When checksum
        verification is off and no dedup mode can drop rows, pass 2
        is SKIPPED entirely — the write job's observation already
        carries rows + max-id, so the restore is one data pass.
        """
        t0 = time.monotonic()
        # The step being attempted, as its success status: a failure
        # records invalid(attempt) = attempt/10 in the checkpoint
        # (saveStatusCheckpoint + StatusCheckpointMerger.SetInvalid,
        # restore.go:345-358) so the next run can refuse to proceed
        # and recommend the matching ctl action.
        attempt = Status.IMPORTED
        try:
            if self.job_group:
                # per-thread: table_concurrency workers each set the
                # group so cancelJobGroup reaches their jobs too
                self.spark.sparkContext.setJobGroup(
                    self.job_group, f"restore {name}", True
                )
            self._gate()
            if self.progress:
                self.progress.table_start(name)
                # expose this table's checkpoint ladder to the task
                # server (GET /progress/table?t=, lightning.go:466-476
                # — BroadcastTableCheckpoint analog; marshal-on-read
                # instead of a broadcast copy)
                attach = getattr(
                    self.progress, "attach_checkpoints", None
                )
                if attach:
                    attach(name, self.cp)
            if self.cp.table_status(name) >= Status.CHECKSUMMED:
                if self.progress:
                    self.progress.table_end(name)
                return TableResult(table=name, status="skipped")
            cols = [c.name for c in schema.columns]
            keys = schema.primary_key
            if isinstance(self.sink, ParquetSink):
                if keys:
                    self.sink.key_columns[name] = keys
                if schema.partition_col and schema.partition_count:
                    # PARTITION BY HASH/KEY target -> partitioned
                    # parquet layout (tests/partitioned-table)
                    self.sink.partition_spec[name] = (
                        schema.partition_col,
                        schema.partition_count,
                    )
            dedup_may_drop = self._dedup_may_drop(schema)
            algo = self.cfg.checksum_algo
            ck_tag = (algo, self._CHECKSUM_CODEC_VERSION.get(algo))
            prior_ck = None
            if self.cfg.incremental and self.cfg.checksum:
                # read BEFORE the sink rewrites the table (the merge
                # replaces the recorded checksum with the directory)
                prior_ck = self.sink.delivered_checksum(name, ck_tag)

            plan = self._plan_delivery(name, meta, schema)
            log.info("table %s: %s grain (%s)", name, plan.grain, plan.reason)
            local, rows, obs_max_id = self._deliver(
                name, meta, schema, cols, plan
            )
            self.cp.set_table_status(name, Status.IMPORTED)
            attempt = Status.CHECKSUMMED

            # pass 2 (only when something must be read back)
            need_remote = self.cfg.checksum and local is not None
            post_dup_check = plan.grain != "table" and bool(keys) and (
                self.cfg.on_duplicate == "error"
            )
            base = 1
            inc_verifiable = False
            expected_ck = local
            if need_remote or dedup_may_drop or post_dup_check:
                back = self.sink.read_back(self.spark, name)
                if post_dup_check:
                    reject_duplicate_keys(back, keys)
                id_col = self._alloc_id_column(back, schema)
                # incremental C2/C3: when the merge cannot drop rows
                # (error mode rejects overlap; PK-less appends), the
                # delivered table's checksum must equal prior XOR
                # batch — the same monoid the reference's local/remote
                # comparison rests on (checksum.go:77-86)
                inc_verifiable = (
                    prior_ck is not None
                    and local is not None
                    and (self.cfg.on_duplicate == "error" or not keys)
                )
                expected_ck = prior_ck.add(local) if inc_verifiable else local
                want_remote = need_remote and (
                    not dedup_may_drop or inc_verifiable
                )
                if want_remote or id_col or dedup_may_drop:
                    # the same checksum/count/max-id aggregates pass 1
                    # observed, as one job over the read-back
                    proj, aggs = self._write_metric_exprs(
                        back, cols, schema, want_remote
                    )
                    row = proj.agg(*aggs).collect()[0]
                    if dedup_may_drop or rows < 0:
                        # observation counted pre-dedup rows (or none);
                        # report the sink's actual row count instead
                        rows = row["total_kvs"]
                    if want_remote:
                        remote = Checksum(
                            row["crc_xor"] or 0,
                            row["total_bytes"],
                            row["total_kvs"] * self._kv_mult(schema),
                        )
                        expected_ck.verify(remote)
                    if id_col:
                        base = (row["max_id"] or 0) + 1
            elif obs_max_id is not None:
                # no read-back needed: nothing was dropped, so the
                # write job's observed max id IS the alloc base (C4
                # with zero extra jobs)
                base = int(obs_max_id) + 1
            # persist the delivered-table checksum so the NEXT
            # incremental run can verify prior XOR batch == read-back;
            # replace/ignore merges drop rows, so theirs is unknown — a
            # stale record would make a later error-mode increment
            # fail C3
            if self.cfg.checksum and local is not None:
                self.sink.record_checksum(
                    name,
                    ck_tag,
                    None if dedup_may_drop and not inc_verifiable
                    else expected_ck,
                )
            self.cp.set_alloc_base(name, base)
            if self.cfg.checksum:
                self.cp.set_table_status(name, Status.CHECKSUMMED)
            else:
                self.cp.set_table_status(name, Status.CHECKSUM_SKIPPED)
            attempt = Status.ANALYZED
            if self.cfg.index_engine:
                self._write_index_engines(name, schema)
            if self.cfg.compact:
                # post-restore full compaction is opt-in, like the
                # reference (config.go:122-123 default false)
                self.sink.finalize(self.spark, name)
            # C5: ANALYZE actually runs (restore.go:1038-1050) — the
            # ANALYZED status is only recorded when the sink computed
            # statistics. analyze_mode="auto": when this run already
            # holds an exact delivered row count (write-job observe,
            # or the checksum read-back which counts every row), the
            # row-count scan of a full ANALYZE is a redundant THIRD
            # pass over the table — size-only NOSCAN stats suffice
            # and cost zero jobs.
            noscan = (
                self.cfg.analyze_mode == "auto"
                and rows >= 0
            )
            if self.cfg.analyze and self.sink.analyze(
                self.spark, name, noscan=noscan
            ):
                self.cp.set_table_status(name, Status.ANALYZED)
            else:
                self.cp.set_table_status(name, Status.ANALYZE_SKIPPED)
            if self.progress:
                self.progress.table_end(name)
            return TableResult(
                table=name,
                status="restored",
                rows=rows,
                checksum=local,
                alloc_base=base,
                seconds=time.monotonic() - t0,
                source_bytes=meta.total_size,
            )
        except Exception as e:  # O12: collect, don't abort the run
            log.exception("restore failed for %s", name)
            # record the aborted step (status/10) so the next run
            # refuses to continue until ctl resolves it
            # (restore.go:352-358, checkpoints.go:55-57)
            self.cp.set_table_status(name, invalid(attempt))
            if self.progress:
                self.progress.table_end(name, str(e))
            return TableResult(
                table=name,
                status="failed",
                error=str(e),
                failed_step=int(attempt),
                seconds=time.monotonic() - t0,
            )

    def _write_index_engines(self, name: str, schema) -> None:
        """T8: deliver each secondary index as its own sorted engine
        (the reference classifies row KVs vs index KVs and ships them
        to separate engines, sql2kv.go:218-239). The projection reads
        the DELIVERED table (one sink scan per index), keyed by the
        handle — int PK when present, else `_tidb_rowid`."""
        from ..operators.permutation import ROWID_COL

        sink = self.sink
        if not hasattr(sink, "write_index"):
            return
        secondary = [ix for ix in schema.indexes if not ix.primary]
        if not secondary:
            return
        delivered = sink.read_back(self.spark, name)
        pk = schema.primary_key
        if schema.has_int_pk and pk and pk[0] in delivered.columns:
            handle = pk[0]
        elif ROWID_COL in delivered.columns:
            handle = ROWID_COL
        else:
            handle = None
        for ix in secondary:
            cols = [c for c in ix.columns if c in delivered.columns]
            if not cols:
                continue
            extra = [handle] if handle and handle not in cols else []
            sink.write_index(
                delivered.select(*cols, *extra), name, ix.name, cols
            )

    def _kv_index_specs(self, schema: TableSchema | None):
        """The secondary indexes the kv_crc64 encode emits a KV for,
        as (index_id, columns, unique): every DDL index except a
        PK-is-handle primary (which lives in the record key and
        consumes no index id). Ids are 1-based in DDL order, exactly
        how TiDB allocates them at CREATE TABLE; a non-int-handle
        PRIMARY KEY is a unique index like the reference's
        non-clustered tables."""
        if schema is None:
            return []
        specs = []
        iid = 0
        for ix in schema.indexes:
            if ix.primary and schema.has_int_pk:
                continue
            iid += 1
            ents = [
                (c, pl) if (pl := ix.prefix_len(i)) is not None else c
                for i, c in enumerate(ix.columns)
            ]
            specs.append((iid, ents, ix.unique or ix.primary))
        return specs

    def _kv_mult(self, schema: TableSchema | None) -> int:
        """KV pairs per row: 1 data KV + one per emitted index KV.
        The reference's total_kvs counts every pair across the data
        and index engines (ClassifyAndAppend updates both checksums,
        sql2kv.go:218-239), while the pipeline's count(*) aggregate
        counts rows — this is the bridge."""
        algo = self.cfg.checksum_algo
        if algo in ("kv_crc64", "kv_crc64_v2"):
            return 1 + len(self._kv_index_specs(schema))
        return 1

    def _with_row_hash(
        self, df: DataFrame, cols: list[str], schema: TableSchema | None = None
    ) -> DataFrame:
        """Project the per-row checksum hash `_h` (+ `_len` for the
        kv_crc64 modes) — C1's map side.

        Modes (cfg.checksum_algo):
        - ``xxdirect`` (default, the 100 TB path): xxhash64 straight
          over the typed columns — no string canonicalization at all;
          byte accounting not tracked (total_bytes = -1). Valid
          because both sides of the compare (observe vs read-back)
          use the identical function.
        - ``kv_crc64`` / ``kv_crc64_v2``: FULL reference parity — the
          row is encoded into the exact TiKV KV bytes: the record KV
          (row format v1 / v2 with the tables.CanSkip NULL-default
          rule, functions/kv_codec.py, golden-tested against
          sql2kv_test.go fixtures) plus one index KV per DDL
          secondary index (tablecodec index keys, '0'/handle
          values), each pair hashed with crc64-ECMA like
          verification/checksum.go:47-75 — the same pair set the
          reference's data+index engines checksum
          (sql2kv.go:218-239), encoded by the vectorized kernel
          behind kv_hash_columns.
        """
        algo = self.cfg.checksum_algo
        if algo in ("kv_crc64", "kv_crc64_v2"):
            from ..functions.kv_codec import kv_hash_columns
            from ..operators.permutation import ROWID_COL

            if schema is not None and schema.has_int_pk and schema.primary_key:
                handle = schema.primary_key[0]
            elif ROWID_COL in df.columns:
                handle = ROWID_COL
            else:
                raise ValueError(
                    "kv_crc64 checksum needs a handle column "
                    "(single-int PK or _tidb_rowid)"
                )
            # PKIsHandle semantics: the handle lives in the KEY, so
            # the row VALUE encodes every column except it — but a
            # DDL column keeps its DDL-position id even when it is
            # the handle (TiDB ids are 1..N in creation order)
            ddl_ids = (
                {c.name: i + 1 for i, c in enumerate(schema.columns)}
                if schema is not None
                else {c: i + 1 for i, c in enumerate(cols)}
            )
            value_cols = [
                c for c in cols if c != handle and c != ROWID_COL
            ]
            # CanSkip rule 2 (tables.CanSkip via sql2kv.go:202's
            # AddRecord): NULL datums in columns whose DDL default is
            # NULL (no DEFAULT clause / DEFAULT NULL) are dropped from
            # the encoded value. CURRENT_TIMESTAMP and literal
            # defaults are non-NULL, so those columns keep their NULL
            # datums in the encoding.
            if schema is not None:
                default_null_ids = frozenset(
                    ddl_ids[c.name]
                    for c in schema.columns
                    if c.name in ddl_ids
                    and not (
                        c.has_default
                        and (c.default is not None or c.default_current_ts)
                    )
                )
            else:
                default_null_ids = None  # no DDL: every default NULL
            # the reference reads real table ids from the target
            # cluster; here an explicit per-table mapping (for
            # ADMIN CHECKSUM comparability against a live TiDB) can
            # be supplied via cfg.kv_table_ids, defaulting to 1
            tid = 1
            if schema is not None:
                ids = self.cfg.kv_table_ids or {}
                # keys may be bare table names or db-qualified
                tid = ids.get(schema.name) or next(
                    (
                        v
                        for k, v in ids.items()
                        if k.endswith("." + schema.name)
                    ),
                    1,
                )
            # BIGINT UNSIGNED columns ride Spark as DecimalType(20,0)
            # but encode as KindUint64 datums
            # ANY unsigned integer column is a KindUint64 datum in
            # TiDB (not just BIGINT UNSIGNED): `Age int(10) UNSIGNED`
            # in the reference's own tbl_multi_index example encodes
            # uvarint/uintFlag, never signed varint. Non-bigint
            # unsigned columns ride Spark as the next-wider signed
            # type, so their values are always in uint64 range.
            uint64_cols = (
                frozenset(
                    c.name
                    for c in schema.columns
                    if c.unsigned
                    and c.mysql_type
                    in (
                        "tinyint", "smallint", "mediumint",
                        "int", "integer", "bigint",
                    )
                )
                if schema is not None
                else frozenset()
            )
            # ENUM/SET/BIT/JSON/TIME columns ride Spark as strings
            # (longs for BIT) but encode as their KindMysqlX datums —
            # the kinds the reference's cast layer hands its encoder
            # (tests/various_types covers all of them)
            mysql_kinds = {}
            if schema is not None:
                for c in schema.columns:
                    if c.mysql_type in ("enum", "set"):
                        mysql_kinds[c.name] = (
                            c.mysql_type, tuple(c.enum_members),
                        )
                    elif c.mysql_type == "bit":
                        mysql_kinds[c.name] = ("bit",)
                    elif c.mysql_type == "json":
                        mysql_kinds[c.name] = ("json",)
                    elif c.mysql_type == "time":
                        mysql_kinds[c.name] = ("time",)
            # the pair Column is plan-independent: build it once per
            # table shape (session_plan_cache, as apply_permutation's
            # projection) instead of once per engine and read-back;
            # every input that shapes it is in the key
            col_ids = [ddl_ids[c] for c in value_cols]
            specs = self._kv_index_specs(schema)
            types = dict(df.dtypes)
            memo_key = (
                "kv_pair",
                tuple(value_cols),
                handle,
                tuple(col_ids),
                tid,
                algo,
                default_null_ids,
                tuple((iid, tuple(ents), u) for iid, ents, u in specs),
                uint64_cols,
                tuple(sorted(mysql_kinds.items())),
                tuple(types[c] for c in (handle, *value_cols)),
            )
            cache = session_plan_cache(df.sparkSession)
            pair = cache.get(memo_key) if cache is not None else None
            if pair is None:
                pair = kv_hash_columns(
                    df,
                    value_cols,
                    handle,
                    col_ids=col_ids,
                    table_id=tid,
                    row_format_version=2 if algo.endswith("v2") else 1,
                    default_null_ids=default_null_ids,
                    indexes=specs,
                    uint64_cols=uint64_cols,
                    mysql_kinds=mysql_kinds,
                )
                if cache is not None:
                    cache[memo_key] = pair
            return (
                df.withColumn("_kvp", pair)
                .withColumn("_h", F.col("_kvp.h"))
                .withColumn("_len", F.col("_kvp.n").cast("long"))
                .drop("_kvp")
            )
        return df.withColumn("_h", F.xxhash64(*[F.col(c) for c in cols]))

    @staticmethod
    def _alloc_id_column(df: DataFrame, schema: TableSchema) -> str | None:
        """Column feeding AllocBase (C4): auto-inc, _tidb_rowid, or
        the single-int PK (allocator.go:40-52 semantics)."""
        from ..operators.permutation import ROWID_COL

        for c in (schema.auto_increment_column, ROWID_COL):
            if c and c in df.columns:
                return c
        pk = schema.primary_key
        if pk and schema.has_int_pk and pk[0] in df.columns:
            return pk[0]
        return None

    def run(self) -> RunSummary:
        """[3] restoreTables: small-first submission (O3), up to
        ``table_concurrency`` tables in flight (O1: the reference's
        table worker pool, config.go:373-386 — here Spark's scheduler
        multiplexes the concurrent jobs across executor cores)."""
        # [1] preflight requirement checks (O10, restore.go:1117-1134):
        # fail the whole task early if the sink is unreachable, instead
        # of recording one failure per table
        self.sink.probe(self.spark)

        summary = RunSummary()
        schemas = self.load_schemas()
        # refuse to continue over errored checkpoints from a previous
        # run (restore.go:597-653): partial data may exist and blind
        # re-import could lose or duplicate rows
        bad = {
            name: st
            for name in schemas
            if 0 < (st := self.cp.table_status(name)) <= Status.MAX_INVALID
        }
        if bad:
            err = CheckpointInvalidError(bad)
            log.error("%s", err)
            raise err
        # [2] schema restore (K5, restore.go:329-373): apply each
        # dump DDL to the target catalog before any data lands
        if not self.cfg.mydumper.no_schema:
            for name, (meta, schema) in schemas.items():
                # resume: a completed table's catalog entry carries the
                # DELIVERED schema + ANALYZE stats (finalize) — do not
                # drop/recreate it from the DDL prediction
                if self.cp.table_status(name) >= Status.CHECKSUMMED:
                    continue
                self.sink.init_schema(
                    self.spark, name, schema, getattr(schema, "raw_ddl", None)
                )
        ordered = sorted(
            schemas.items(), key=lambda kv: kv[1][0].total_size
        )
        if self.progress:
            # BroadcastStartTask + BroadcastInitProgress
            # (web/progress.go:116-146)
            self.progress.start_task(
                {name: meta.total_size for name, (meta, _s) in ordered}
            )
        interval = float(self.cfg.progress_interval or 0)
        if interval > 0 and ordered:
            self._ticker = _ProgressTicker(
                sum(meta.total_size for _, (meta, _s) in ordered), interval
            ).start()
        try:
            conc = self._table_workers
            if conc == 1 or len(ordered) <= 1:
                for name, (meta, schema) in ordered:
                    summary.tables[name] = self.restore_table(
                        name, meta, schema
                    )
            else:
                with cf.ThreadPoolExecutor(max_workers=conc) as pool:
                    futs = {
                        pool.submit(
                            self.restore_table, name, meta, schema
                        ): name
                        for name, (meta, schema) in ordered
                    }
                    for fut in cf.as_completed(futs):
                        summary.tables[futs[fut]] = fut.result()
        finally:
            if self._ticker:
                self._ticker.emit()  # final progress line
                self._ticker.stop()
                self._ticker = None
            if self.progress:
                failed = [
                    n
                    for n, r in summary.tables.items()
                    if r.status == "failed"
                ]
                self.progress.end_task(
                    f"tables failed: {', '.join(sorted(failed))}"
                    if failed
                    else ""
                )
        if summary.ok:
            self.cp.clean()  # [6]
        return summary
