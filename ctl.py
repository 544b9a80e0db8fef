#!/usr/bin/env python
"""Maintenance CLI — the tidb-lightning-ctl twin (SURVEY.md §3.3).

Subcommands mutate the checkpoint state table / sink, mirroring
cmd/tidb-lightning-ctl/main.go:42-307:

    ctl.py checkpoint-dump   --checkpoint PATH
    ctl.py checkpoint-remove --checkpoint PATH [--table db.tbl|all]
    ctl.py checkpoint-error-ignore  --checkpoint PATH [--table ...]
    ctl.py checkpoint-error-destroy --checkpoint PATH --table db.tbl \
           [--target-dir DIR]     # also drops the sink table
    ctl.py compact --target-dir DIR --table db.tbl
           # manual post-import compaction (main.go:114-123's
           # FullLevelCompact, mapped to the sink's small-file rewrite)
    ctl.py import-engine  --target-dir DIR --engine db.tbl:ID
           # publish a staged engine dir (main.go:281-293 importEngine:
           # UnsafeCloseEngine + Import; here engine_<ID>.staged is
           # atomically replaced into engine_<ID>)
    ctl.py cleanup-engine --target-dir DIR --engine db.tbl:ID
           # drop a staged engine dir (main.go:295-307 cleanupEngine:
           # Cleanup deletes the closed-but-unimported engine data;
           # imported/live data is never touched)

``--checkpoint`` accepts either a JSON file path (the file driver) or
``sqlite:PATH`` for the SQL checkpoint store (the MySQL-driver analog,
checkpoints.go:369-760) — ctl maintenance works against both, like the
reference's ctl does for file and mysql checkpoint drivers.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tidb_lightning_release_4_0_spark.plans.checkpoints import (  # noqa: E402
    CheckpointStore,
    SQLCheckpointStore,
)


def open_store(spec: str) -> CheckpointStore:
    """'sqlite:PATH' -> SQL store; anything else -> JSON file store."""
    if spec.startswith("sqlite:"):
        import sqlite3

        path = spec[len("sqlite:"):]
        return SQLCheckpointStore(
            lambda: sqlite3.connect(path, check_same_thread=False)
        )
    return CheckpointStore(spec)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name in (
        "checkpoint-dump",
        "checkpoint-remove",
        "checkpoint-error-ignore",
        "checkpoint-error-destroy",
    ):
        p = sub.add_parser(name)
        p.add_argument("--checkpoint", required=True)
        p.add_argument("--table", default="all")
        p.add_argument("--target-dir", default="")
    p = sub.add_parser("compact")
    p.add_argument("--target-dir", required=True)
    p.add_argument("--table", required=True)
    for name in ("import-engine", "cleanup-engine"):
        p = sub.add_parser(name)
        p.add_argument("--target-dir", required=True)
        p.add_argument("--engine", required=True,
                       help="db.tbl:ID (main.go:261-279 engine spec)")

    args = ap.parse_args(argv)

    if args.cmd in ("import-engine", "cleanup-engine"):
        table, _, eid = args.engine.rpartition(":")
        if not table or not eid.lstrip("-").isdigit():
            print(f"bad engine spec {args.engine!r}; want db.tbl:ID",
                  file=sys.stderr)
            return 1
        live = os.path.join(args.target_dir, table, f"engine_{int(eid)}")
        staged = live + ".staged"
        if args.cmd == "import-engine":
            # ce.Import analog: atomic publish of the closed-but-
            # unimported engine data; idempotent when already live
            if os.path.isdir(staged):
                from tidb_lightning_release_4_0_spark.sinks.parquet_sink import (
                    ParquetSink,
                )

                if os.path.isdir(live):
                    shutil.rmtree(live)
                os.replace(staged, live)
                # contents changed: the recorded checksum is stale
                ParquetSink(args.target_dir).record_checksum(table, None, None)
                print(f"imported engine {args.engine}")
                return 0
            if os.path.isdir(live):
                print(f"engine {args.engine} already imported")
                return 0
            print(f"engine {args.engine} not found", file=sys.stderr)
            return 1
        # cleanup-engine: drop STAGED data only — the reference's
        # Cleanup removes the importer-side files, never the data
        # already imported into the cluster
        if os.path.isdir(staged):
            shutil.rmtree(staged)
            print(f"cleaned up engine {args.engine}")
        else:
            print(f"no staged data for engine {args.engine}")
        return 0

    if args.cmd == "compact":
        # manual full compaction (main.go:114-123): rewrite the
        # table's fragmented parquet files via the sink's finalize
        from tidb_lightning_release_4_0_spark.session import get_spark
        from tidb_lightning_release_4_0_spark.sinks.parquet_sink import (
            ParquetSink,
        )

        spark = get_spark(app_name="ctl-compact")
        spark.sparkContext.setLogLevel("WARN")
        ParquetSink(args.target_dir).finalize(spark, args.table)
        print(f"compacted {args.table}")
        return 0

    cp = open_store(args.checkpoint)

    if args.cmd == "checkpoint-dump":
        print(json.dumps(cp.dump(), indent=2, sort_keys=True))
        return 0
    if args.cmd == "checkpoint-remove":
        cp.remove(None if args.table == "all" else args.table)
        print(f"removed checkpoints for {args.table}")
        return 0
    if args.cmd == "checkpoint-error-ignore":
        cp.ignore_error(args.table)
        print(f"cleared error checkpoints for {args.table}")
        return 0
    if args.cmd == "checkpoint-error-destroy":
        # main.go:166-215: only ERRORED tables (status <= invalid
        # max) are destroyed — their checkpoints removed AND their
        # target tables dropped so the next run reimports from
        # scratch (checkpoints.go:1053-1135)
        destroyed = cp.destroy_error(args.table)
        for name in destroyed:
            if args.target_dir:
                path = os.path.join(args.target_dir, name)
                if os.path.exists(path):
                    shutil.rmtree(path)
                    print(f"dropped sink table {path}")
        print(
            f"destroyed checkpoints for {destroyed or 'no errored tables'}"
        )
        return 0
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
