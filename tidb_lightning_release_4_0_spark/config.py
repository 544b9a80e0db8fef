"""Job configuration mirroring the reference's TOML surface.

The reference's unit of work is one TOML ``Config``
(lightning/config/config.go:83-97) validated/defaulted by
``(*Config).Adjust`` (config.go:347-509). We mirror the subset that
affects dataflow semantics; TiKV-physical knobs (importer address,
region split, …) are intentionally absent (SURVEY.md §2.4 K2).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Literal

# System databases always excluded at discovery time
# (lightning/config/config.go:427-432).
SYSTEM_DBS = frozenset(
    {"mysql", "information_schema", "performance_schema", "sys"}
)

# accepted Config.checksum_algo values (post-restore checksum-algo)
CHECKSUM_ALGOS = ("xxdirect", "kv_crc64", "kv_crc64_v2")


@dataclass
class CSVConfig:
    """MySQL LOAD DATA-flavored CSV dialect.

    Mirrors config.CSVConfig (lightning/config/config.go:128-136) and
    the defaults in tidb-lightning.toml:105-128. Near-1:1 mapping to
    spark.read.csv options (SURVEY.md §2.1 S4).
    """

    separator: str = ","
    delimiter: str = '"'  # quote char
    header: bool = False
    not_null: bool = False  # True => no NULL values, sentinel is literal
    null: str = "\\N"
    backslash_escape: bool = True
    trim_last_sep: bool = False
    # fidelity switch: Spark-native reader (fast, covers the common
    # dialect) vs the exact MySQL state-machine parser (csv_strict.py)
    strict_parser: bool = False
    # BEYOND-REFERENCE EXTENSION modeled on later tidb-lightning
    # versions' mydumper.strict-format / SplitLargeFile (the pinned
    # release-4.0 reference has no chunk splitting): the user
    # guarantees no field contains an unquoted newline, so files may
    # be CHUNK-SPLIT at byte ranges.
    # Here that maps to multiLine=false — Spark's CSV reader becomes
    # splittable and one huge file fans out across the cluster at
    # maxPartitionBytes-sized blocks instead of one task; row-ids use
    # the reference's per-chunk byte-offset bases
    # (rowid.assign_rowid_by_range). Plain .jsonl tables split the
    # same way and take the same bases (JSON Lines never hold a
    # newline inside a record).
    strict_format: bool = False

    def validate(self) -> None:
        # config.go:381-392: separator must be 1 byte and differ from
        # delimiter in the reference; Spark's reader has the same limits.
        if len(self.separator) != 1:
            raise ValueError("csv separator must be a single character")
        if self.delimiter and self.separator == self.delimiter:
            raise ValueError("csv separator and delimiter must differ")

    def spark_options(self) -> dict[str, str]:
        """Options for spark.read.csv implementing these semantics."""
        opts = {
            "sep": self.separator,
            "header": str(self.header).lower(),
            "quote": self.delimiter or '\u0000',
            "escape": "\\" if self.backslash_escape else '\u0000',
            "nullValue": "" if self.not_null else self.null,
            "emptyValue": "",  # '' stays empty string, not null
            # quoted newlines (csv_parser.rl:30-36) force whole-file
            # reads; strict-format waives them and restores intra-file
            # splitting (the reference's SplitLargeFile trade-off)
            "multiLine": "false" if self.strict_format else "true",
            "mode": "PERMISSIVE",
            "inferSchema": "false",
        }
        return opts


@dataclass
class FilterRule:
    """Black/white-list of db/table wildcard patterns (F1).

    Reference: tidb-tools/pkg/filter rules referenced from
    config.go:91 (``[black-white-list]``) and applied at discovery
    time (lightning/mydump/loader.go:91-94,299-301).
    """

    do_dbs: list[str] = field(default_factory=list)
    ignore_dbs: list[str] = field(default_factory=list)
    do_tables: list[tuple[str, str]] = field(default_factory=list)
    ignore_tables: list[tuple[str, str]] = field(default_factory=list)


@dataclass
class RouteRule:
    """Table-router rule (F2): rename/merge shards.

    Reference: tidb-tools table-router rules validated at
    config.go:434-441, applied in (*mdLoaderSetup).route()
    (lightning/mydump/loader.go:303-372).
    """

    schema_pattern: str
    table_pattern: str
    target_schema: str
    target_table: str


@dataclass
class MydumperConfig:
    """[mydumper] section (config.go:117-127)."""

    source_dir: str = ""
    no_schema: bool = False
    character_set: str = "auto"  # auto|utf8mb4|gb18030|binary
    read_block_size: int = 64 * 1024  # config.go:477-479
    batch_size: int = 100 * (1 << 30)  # config.go:471-473
    case_sensitive: bool = False
    csv: CSVConfig = field(default_factory=CSVConfig)


@dataclass
class TiDBConfig:
    """[tidb] target section (config.go:138-160); JDBC sink params."""

    host: str = "127.0.0.1"
    port: int = 4000
    user: str = "root"
    password: str = ""
    sql_mode: str = "STRICT_TRANS_TABLES,NO_ENGINE_SUBSTITUTION"


@dataclass
class Config:
    """Top-level task config (config.go:83-97)."""

    mydumper: MydumperConfig = field(default_factory=MydumperConfig)
    tidb: TiDBConfig = field(default_factory=TiDBConfig)
    bw_list: FilterRule = field(default_factory=FilterRule)
    routes: list[RouteRule] = field(default_factory=list)
    backend: Literal["parquet", "jdbc", "memory"] = "parquet"
    # Duplicate-key handling (K3, tidb.go:54-62). replace/ignore run a
    # keyed window over the delivery (one extra shuffle); error stages
    # the write and scans it for dup keys before publishing. "physical"
    # is the importer-backend analog: single-pass delivery with NO
    # keyed work — the reference's bulk path equally has no dedup pass
    # CAVEAT: TiKV key overwrite resolves dups physically and its
    # checksum then catches them; a file sink cannot reproduce the
    # overwrite, so physical mode RETAINS duplicate rows and the
    # checksum compare (local == read-back over the SAME rows) cannot
    # detect them. Use physical only for trusted dup-free dumps
    # (e.g. a mydumper export); use replace/ignore/error whenever the
    # input may contain duplicate keys.
    on_duplicate: Literal["replace", "ignore", "error", "physical"] = "replace"
    # checkpoint section (config.go:99-108)
    checkpoint_enable: bool = True
    checkpoint_path: str = ""
    # post-restore (config.go:110-115)
    checksum: bool = True
    # hash for the in-pipeline checksum, one of CHECKSUM_ALGOS:
    # xxdirect (xxhash64 over the typed columns, no canonicalization —
    # fastest), or kv_crc64 / kv_crc64_v2 — FULL reference parity:
    # rows encoded into the exact TiKV record + index KV bytes (row
    # format v1/v2 with the tables.CanSkip NULL-default rule,
    # functions/kv_codec.py, golden-tested against the reference's
    # sql2kv fixtures) then crc64-ECMA per pair, XOR-merged, exactly
    # verification/checksum.go:47-75.
    checksum_algo: str = "xxdirect"
    # kv_crc64 modes: per-table TiKV table ids for the record/index
    # keys (the reference reads them from the target cluster's
    # schema; supply real ids here for ADMIN CHECKSUM comparability).
    # Unmapped tables encode as table id 1 — self-consistent for the
    # pipeline's own observe-vs-read-back verification.
    kv_table_ids: dict = field(default_factory=dict)
    analyze: bool = True
    # How C5 computes catalog statistics. "full" always runs
    # ANALYZE ... COMPUTE STATISTICS (a row-count scan of the
    # delivered table — the third data pass of a checksummed
    # restore). "auto" (default) skips that redundant scan whenever
    # the run already holds an exact delivered row count (the write
    # job's Observation, or the checksum read-back aggregate — both
    # count every delivered row): sizeInBytes comes from the file
    # listing via ANALYZE ... NOSCAN and no job runs. At 100 TB the
    # difference is a whole extra pass over the table just to
    # re-count rows the pipeline has already counted twice.
    analyze_mode: Literal["auto", "full"] = "auto"
    # T8: deliver secondary-index projections as separate sorted
    # "index engines" alongside the data (the reference's index-KV
    # engine split, sql2kv.go:218-239). Opt-in: doubles write volume
    # for indexed tables, exactly like index KVs do in the reference.
    index_engine: bool = False
    # Sort delivered rows by primary key. True: WITHIN each output
    # file (sortWithinPartitions — a local per-task sort, no
    # shuffle). "global": range-partition first so files cover
    # disjoint ascending key ranges table-wide (one sampled range
    # exchange). The importer backend always ingests key-sorted SSTs
    # into range-sharded regions (backend/sql2kv.go KV ordering;
    # importer ingest); for a parquet target the payoff is min/max
    # zone-map pruning — "global" extends it to file-level pruning
    # for key-range scans. Opt-in: costs a sort (and for "global" a
    # shuffle) on the write path.
    sorted_output: bool | str = False
    # >0: deliver keyed tables hash-bucketed on the PK with this many
    # buckets (parquet backend only). Downstream joins/aggregations
    # between tables bucketed on the same key and count run without a
    # shuffle — the co-located-join analog of the reference's
    # range-sharded regions. Whole-table delivery (no engine split);
    # finalize-compaction is skipped for bucketed tables.
    bucket_buckets: int = 0
    # Cross-run merge semantics (parquet backend): a new load merges
    # into the already-delivered table instead of overwriting it.
    # replace: arriving rows win; ignore: delivered rows win; error:
    # any key overlap raises Duplicate entry before the target is
    # touched; PK-less tables append with _tidb_rowid continuing
    # from the delivered max. The tidb-backend live-table behavior
    # (tidb.go:54-62, tests/tidb_duplicate_data) for bulk files.
    incremental: bool = False
    # Z-order clustered delivery (parquet backend): tables containing
    # ALL of these columns are clustered along the Z-curve of their
    # quantile-bin ranks, giving narrow per-file min/max ranges on
    # EVERY listed column — multi-column file pruning (the lakehouse
    # OPTIMIZE ZORDER analog). Overrides sorted_output; costs one
    # sampling pass + one range exchange at write time.
    zorder_columns: list[str] = field(default_factory=list)
    # post-import full compaction (O9 analog: parquet small-file
    # rewrite). Defaults FALSE like the reference's post-restore
    # compact/level-1-compact (config.go:122-123, toml:181-184)
    compact: bool = False
    # concurrent tables in flight (reference table-concurrency,
    # config.go:373-386); Spark's FAIR/ FIFO scheduler multiplexes.
    # Also bounds engine deliveries in flight across all tables: a
    # table's engines run concurrently, as restoreEngines does
    # (restore.go:770-809), each holding one of these slots
    table_concurrency: int = 4
    # O7: seconds between periodic progress/ETA log lines during
    # run() (the reference's logProgress ticker, restore.go:443-501);
    # 0 disables the ticker
    progress_interval: float = 60.0
    target_dir: str = ""  # parquet backend sink root

    def adjust(self) -> "Config":
        """Validate + default, like (*Config).Adjust (config.go:347-509)."""
        self.mydumper.csv.validate()
        if not self.mydumper.source_dir:
            raise ValueError("mydumper.source-dir is required")
        if self.backend == "parquet" and not self.target_dir:
            raise ValueError("target-dir required for parquet backend")
        cs = self.mydumper.character_set.lower()
        if cs not in ("auto", "utf8mb4", "utf8", "gb18030", "binary"):
            raise ValueError(f"invalid character-set {cs!r}")
        if self.checksum_algo not in CHECKSUM_ALGOS:
            raise ValueError(
                f"invalid checksum-algo {self.checksum_algo!r}; "
                f"allowed: {', '.join(CHECKSUM_ALGOS)}"
            )
        if self.bucket_buckets < 0:
            raise ValueError("bucket-buckets must be >= 0")
        if isinstance(self.sorted_output, str) and self.sorted_output not in (
            "",
            "global",
        ):
            raise ValueError(
                "sorted-output must be a bool or 'global'"
            )
        if self.bucket_buckets and self.backend != "parquet":
            raise ValueError(
                "bucket-buckets requires the parquet backend"
            )
        if self.incremental and self.backend != "parquet":
            raise ValueError("incremental requires the parquet backend")
        if self.zorder_columns and self.backend != "parquet":
            raise ValueError(
                "zorder-columns requires the parquet backend"
            )
        if self.zorder_columns and len(self.zorder_columns) < 2:
            raise ValueError(
                "zorder-columns needs >= 2 columns (use sorted_output"
                " for a single sort key)"
            )
        return self


def strict_sql_mode(sql_mode: str) -> bool:
    """STRICT_TRANS_TABLES/STRICT_ALL_TABLES detection.

    Mirrors mysql.ModeStrictTransTables|ModeStrictAllTables handling
    in lightning/backend/session.go:95-121.
    """
    modes = {m.strip().upper() for m in sql_mode.split(",") if m.strip()}
    return bool(modes & {"STRICT_TRANS_TABLES", "STRICT_ALL_TABLES"})
