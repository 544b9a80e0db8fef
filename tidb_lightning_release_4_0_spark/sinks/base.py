"""K1: backend abstraction.

The reference's AbstractBackend drives an engine lifecycle
OpenEngine -> WriteRows -> CloseEngine -> ImportEngine -> CleanupEngine
(lightning/backend/backend.go:80-118, workflow doc backend.go:38-62).
In Spark the Write step is one DataFrame write action, so the
protocol collapses to write / finalize / cleanup; ``finalize`` hosts
the post-processing the reference gates behind ShouldPostProcess
(auto-increment rebase, checksum, analyze — restore.go:998-1053).
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.checksum import Checksum


@dataclass
class SinkResult:
    table: str
    rows: int


def reject_duplicate_keys(
    df: DataFrame, keys: list[str], existing: DataFrame | None = None
) -> None:
    """K3 ``error`` mode: raise ``Duplicate entry for key …`` when a key
    repeats in ``df`` or, given ``existing`` (the delivered table of an
    incremental merge), also appears there; one limit-1 job each."""
    dup = (
        df.groupBy(*keys).count().filter(F.col("count") > 1).limit(1)
    ).collect()
    if not dup and existing is not None:
        dup = (
            df.select(*keys).join(existing.select(*keys), on=keys).limit(1)
        ).collect()
    if dup:
        raise ValueError(f"Duplicate entry for key {dup[0]}")


class Sink(ABC):
    """One sink instance handles one logical target table."""

    #: duplicate-key handling mode (K3: tidb.go:54-62): replace |
    #: ignore | error
    on_duplicate: str = "replace"

    #: True when ``write`` is a DataFrame action, so an Observation
    #: attached to its input fires; sinks delivering through RDD
    #: actions (JDBC foreachPartition) report False and the pipeline
    #: aggregates their write metrics eagerly instead
    observes_write_action: bool = True

    @abstractmethod
    def write(self, df: DataFrame, table: str) -> SinkResult:
        """Deliver rows; must be idempotent per chunk for resume."""

    @abstractmethod
    def read_back(self, spark: SparkSession, table: str) -> DataFrame:
        """Re-scan the sink for checksum verification (C2)."""

    def write_engine(
        self, df: DataFrame, table: str, engine_id: int
    ) -> SinkResult:
        """Deliver one engine batch IDEMPOTENTLY: re-delivering the
        same engine_id replaces that engine's rows only (the
        WriteRows->ImportEngine unit, backend.go:80-118), which is
        what makes file-grain checkpoint resume safe — a crash after
        delivery but before the checkpoint mark re-runs the engine
        without duplicating rows. Sinks that cannot isolate engines
        leave this unimplemented; the pipeline then restores the
        table single-shot (table-grain resume only)."""
        raise NotImplementedError

    def probe(self, spark: SparkSession) -> None:
        """O10 preflight: verify the sink is reachable/writable BEFORE
        any table work starts (the reference's requirement checks,
        restore.go:1117-1134 — fail the task early, not per-table).
        Raises on failure."""

    def init_schema(
        self, spark: SparkSession, table: str, schema, ddl: str | None = None
    ) -> None:
        """K5 schema sink: apply the dump's schema DDL to the target
        BEFORE any data lands (the reference's restoreSchema step
        executes each *-schema.sql verbatim, restore.go:329-373).
        ``ddl`` is the raw CREATE TABLE statement when available;
        ``schema`` the parsed TableSchema. Default: no-op for sinks
        without a catalog."""

    def finalize(self, spark: SparkSession, table: str) -> None:
        """Post-import: compaction/OPTIMIZE analog (O9)."""

    def analyze(
        self, spark: SparkSession, table: str, noscan: bool = False
    ) -> bool:
        """C5: compute optimizer statistics on the restored table
        (ANALYZE TABLE, restore.go:1038-1050). Returns True if
        statistics were actually computed. ``noscan`` asks for the
        scan-free variant (size-only stats) when the caller already
        verified an exact row count this run."""
        return False

    def cleanup(self, table: str) -> None:
        """Drop staged state (CleanupEngine analog)."""

    def delivered_checksum(self, table: str, tag: tuple) -> Checksum | None:
        """The checksum recorded under ``tag`` (the caller's
        ``(algo, codec_version)``) for the delivered table, which an
        incremental run verifies prior XOR batch against
        (restore.go:971-1010): the identity when nothing is delivered,
        None when unknown (the default)."""
        return None

    def record_checksum(
        self, table: str, tag: tuple, ck: Checksum | None
    ) -> None:
        """Persist the verified delivered checksum under ``tag`` for the
        next incremental run; ``ck=None`` forgets it. Default: no-op."""
