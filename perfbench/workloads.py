"""The benchmark's workloads: one table, one client, one restore at a
time (a closed loop), each on its own Spark session at local[nproc].
"""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    table: str  # generator table: lineitem | orders
    fmt: str  # csv | sql
    rows: int
    parts_per_core: int
    rng_stream: int  # seed stream: equal streams render equal rows
    kv_parity: bool = False  # kv_crc64 checksum + DuckDB twin check

    def config(self, dump_dir: str, target_dir: str, work: str,
               source_bytes: int):
        from tidb_lightning_release_4_0_spark.config import (
            Config,
            MydumperConfig,
        )

        if self.name == "csv_bulk":
            # engine defaults, checkpoints off: one single-shot write
            # job, xxdirect checksum, read-back verify
            return Config(
                mydumper=MydumperConfig(source_dir=dump_dir),
                target_dir=target_dir,
                checkpoint_enable=False,
                progress_interval=0,
            )
        if self.name == "sql_kv_parity":
            # two file-grain engines of nproc parts each, a checkpoint
            # save per engine, kv_crc64 on both passes and a post-hoc
            # duplicate-key scan
            return Config(
                mydumper=MydumperConfig(
                    source_dir=dump_dir,
                    batch_size=max(source_bytes // 2 - 1, 1),
                ),
                target_dir=target_dir,
                checkpoint_path=os.path.join(work, "checkpoint.json"),
                checksum_algo="kv_crc64",
                on_duplicate="error",
                progress_interval=0,
            )
        raise ValueError(self.name)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "csv_bulk",
            "multi-part lineitem CSV restored single-shot: JVM parse, "
            "cast ladder, parquet write and xxdirect verify",
            "lineitem", "csv", rows=60_000, parts_per_core=2,
            rng_stream=1,
        ),
        Workload(
            "sql_kv_parity",
            "orders .sql dump in file-grain engines: Python lexer, the "
            "kv_crc64 kernel on both passes, checkpoint saves",
            "orders", "sql", rows=20_000, parts_per_core=2,
            rng_stream=2, kv_parity=True,
        ),
    )
}
