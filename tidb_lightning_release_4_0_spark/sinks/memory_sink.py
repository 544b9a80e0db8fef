"""In-memory sink for tests (the mock backend analog, mock/backend.go)."""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

from .base import Sink, SinkResult


class MemorySink(Sink):
    def __init__(self, on_duplicate: str = "replace"):
        self.tables: dict[str, DataFrame] = {}
        self.on_duplicate = on_duplicate
        self.engines: dict[str, dict[int, DataFrame]] = {}
        # a table's engines may deliver concurrently
        self._lock = threading.Lock()

    def write(self, df: DataFrame, table: str) -> SinkResult:
        if "_row_id" in df.columns:
            df = df.drop("_row_id")
        df = df.cache()
        n = df.count()
        self.tables[table] = df
        self.engines.pop(table, None)
        return SinkResult(table=table, rows=n)

    def write_engine(
        self, df: DataFrame, table: str, engine_id: int
    ) -> SinkResult:
        if "_row_id" in df.columns:
            df = df.drop("_row_id")
        df = df.cache()
        n = df.count()
        with self._lock:
            engines = self.engines.setdefault(table, {})
            engines[int(engine_id)] = df
            parts = [engines[e] for e in sorted(engines)]
            merged = parts[0]
            for p in parts[1:]:
                merged = merged.unionByName(p)
            self.tables[table] = merged
        return SinkResult(table=table, rows=n)

    def read_back(self, spark: SparkSession, table: str) -> DataFrame:
        return self.tables[table]

    def cleanup(self, table: str) -> None:
        self.tables.pop(table, None)
        self.engines.pop(table, None)
