"""O5/O6: checkpoint state machine for crash-resume.

The reference persists a status ladder per table/engine/chunk
(lightning/checkpoints/checkpoints.go:40-57):

    30 loaded -> 60 written -> 90 closed -> 120 imported ->
    140 index-imported -> 150 alter-inc -> 180 checksummed ->
    210 analyzed   (invalid = status/10)

with MySQL-table and protobuf-file drivers
(checkpoints.go:369-1289). Resume filters out completed work before
building the read plan (restore.go:687-734,861-870); write-then-
record ordering makes chunk delivery idempotent
(restore.go:1601-1634).

Here: a JSON-file store keyed (table, file, offset) with the same
ladder. JSON because the state is O(tables + files) — driver-side
metadata, not data-plane — and trivially inspectable by ctl.py
(O13). A Delta table would serve on a shared cluster; the storage
interface is one load/save pair to keep that swap local.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
from enum import IntEnum


class Status(IntEnum):
    """checkpoints.go:40-57 ladder (same numeric values)."""

    MISSING = 0
    MAX_INVALID = 25
    LOADED = 30
    ALL_WRITTEN = 60
    CLOSED = 90
    IMPORTED = 120
    INDEX_IMPORTED = 140
    ALTERED_AUTO_INC = 150
    CHECKSUM_SKIPPED = 170
    CHECKSUMMED = 180
    ANALYZE_SKIPPED = 200
    ANALYZED = 210


def invalid(status: int) -> int:
    """An aborted stage records status/10 (checkpoints.go:55-57)."""
    return status // 10


def metric_name(status: int) -> str:
    """CheckpointStatus.MetricName (checkpoints.go:67-90) — the
    failedStep label in error summaries."""
    names = {
        Status.MISSING: "missing",
        Status.LOADED: "pending",
        Status.ALL_WRITTEN: "written",
        Status.CLOSED: "closed",
        Status.IMPORTED: "imported",
        Status.INDEX_IMPORTED: "index_imported",
        Status.ALTERED_AUTO_INC: "altered_auto_inc",
        Status.CHECKSUM_SKIPPED: "checksum",
        Status.CHECKSUMMED: "checksum",
        Status.ANALYZE_SKIPPED: "analyzed",
        Status.ANALYZED: "analyzed",
    }
    return names.get(status, "invalid")


class CheckpointStore:
    def __init__(self, path: str | None = None, enabled: bool = True):
        self.enabled = enabled
        self.path = path
        self.state: dict = {"tables": {}, "chunks": {}}
        # concurrent table restores write from worker threads (O1);
        # the reference serializes via its checkpoint channel
        # (restore.go:345-441) — a lock is our equivalent
        self._lock = threading.RLock()
        if enabled and path and os.path.exists(path):
            with open(path) as f:
                self.state = json.load(f)

    def _save(self) -> None:
        """Serialize under self._lock. Mutators hold the (reentrant)
        lock across the read-modify-write AND this dump — json.dump
        over a dict being mutated by another table-worker thread
        raises 'dictionary changed size during iteration' or persists
        a torn snapshot (the reference serializes all checkpoint
        writes through one channel, restore.go:345-441)."""
        if not (self.enabled and self.path):
            return
        with self._lock:
            d = os.path.dirname(self.path) or "."
            os.makedirs(d, exist_ok=True)
            fd, tmp = tempfile.mkstemp(dir=d)
            with os.fdopen(fd, "w") as f:
                json.dump(self.state, f)
            os.replace(tmp, self.path)  # atomic, crash-safe

    # -- task-level --------------------------------------------------------
    def task_meta(self, key: str) -> str | None:
        """Task-scoped metadata (e.g. the frozen CURRENT_TIMESTAMP):
        the reference stores task id/timestamp with the checkpoint so
        a resumed task keeps identical default values
        (tests/checkpoint_timestamp/run.sh; checkpoints.go TaskCheckpoint)."""
        return self.state.get("task", {}).get(key)

    def set_task_meta(self, key: str, value: str) -> None:
        if not self.enabled:
            return
        with self._lock:
            self.state.setdefault("task", {})[key] = str(value)
            self._save()

    # -- table-level -------------------------------------------------------
    def table_status(self, table: str) -> int:
        return self.state["tables"].get(table, {}).get("status", 0)

    def set_table_status(self, table: str, status: int) -> None:
        if not self.enabled:
            return
        with self._lock:
            self.state["tables"].setdefault(table, {})["status"] = int(status)
            self._save()

    def set_alloc_base(self, table: str, base: int) -> None:
        if not self.enabled:
            return
        with self._lock:
            t = self.state["tables"].setdefault(table, {})
            # monotonic CAS-max like allocator.Rebase (allocator.go:40-52)
            t["alloc_base"] = max(t.get("alloc_base", 0), base)
            self._save()

    def alloc_base(self, table: str) -> int:
        return self.state["tables"].get(table, {}).get("alloc_base", 0)

    # -- chunk-level: (path, offset) keys, checkpoints.go:92-99 ------------
    # A whole-file chunk is (path, 0); a byte-range block carries its
    # start offset, so mid-file resume prunes on the same keys.
    def chunk_key(self, table: str, path: str, offset: int = 0) -> str:
        return f"{table}|{path}|{offset}"

    def chunk_status(self, table: str, path: str, offset: int = 0) -> int:
        return self.state["chunks"].get(self.chunk_key(table, path, offset), 0)

    def mark_chunk(
        self, table: str, path: str, status: int, offset: int = 0
    ) -> None:
        self.mark_chunks(table, [(path, offset)], status)

    def mark_chunks(
        self, table: str, chunks: list[tuple[str, int]], status: int
    ) -> None:
        """Bulk mark (one persisted write for a whole engine)."""
        if not self.enabled:
            return
        with self._lock:
            for p, off in chunks:
                self.state["chunks"][
                    self.chunk_key(table, p, int(off))
                ] = int(status)
            self._save()

    # -- engine-level (checksum-so-far for resume) -------------------------
    # The reference persists each chunk's running checksum triple so a
    # resumed run can rebuild the table's local checksum without
    # re-reading delivered data (checkpoints.go:92-130, the
    # checksum/kvc columns of chunk_v5). Engine grain here: one record
    # per delivered engine batch.
    def set_engine_state(self, table: str, engine_id: int, rec: dict) -> None:
        if not self.enabled:
            return
        with self._lock:
            t = self.state["tables"].setdefault(table, {})
            t.setdefault("engines", {})[str(int(engine_id))] = rec
            self._save()

    def engine_state(self, table: str, engine_id: int) -> dict | None:
        return (
            self.state["tables"]
            .get(table, {})
            .get("engines", {})
            .get(str(int(engine_id)))
        )

    def pending_files(
        self, table: str, files: list[str]
    ) -> list[str]:
        """Resume: drop files already delivered (restore.go:861-870)."""
        return [
            p
            for p in files
            if self.chunk_status(table, p) < Status.ALL_WRITTEN
        ]

    # -- ctl ops (O13) -----------------------------------------------------
    def remove(self, table: str | None = None) -> None:
        with self._lock:
            if table is None or table == "all":
                self.state = {"tables": {}, "chunks": {}}
            else:
                self.state["tables"].pop(table, None)
                self.state["chunks"] = {
                    k: v
                    for k, v in self.state["chunks"].items()
                    if not k.startswith(table + "|")
                }
            self._save()

    def destroy_error(self, table: str | None = None) -> list[str]:
        """checkpoint-error-destroy: remove checkpoints of tables
        whose status is invalid (<= MAX_INVALID) and return their
        names so the caller can drop the target tables
        (checkpoints.go:1053-1135; ctl main.go:166-215). A named
        table is only destroyed if it is actually errored."""
        with self._lock:
            targets = [
                t
                for t, rec in self.state["tables"].items()
                if 0 < rec.get("status", 0) <= Status.MAX_INVALID
                and (table in (None, "all") or t == table)
            ]
            for t in targets:
                self.remove(t)
            return targets

    def ignore_error(self, table: str | None = None) -> None:
        """checkpoint-error-ignore: clear invalid markers
        (checkpoints.go:1022-1045)."""
        tables = (
            [table] if table and table != "all" else list(self.state["tables"])
        )
        with self._lock:
            for t in tables:
                st = self.table_status(t)
                if st <= Status.MAX_INVALID:
                    self.state["tables"][t]["status"] = int(st) * 10
            self._save()

    def dump(self) -> dict:
        return self.state

    def marshal_table(self, table: str) -> dict | None:
        """The reference's per-table checkpoint JSON (the payload of
        GET /progress/table?t=, lightning.go:466-476 via
        web.MarshalTableCheckpoints): TableCheckpoint {Status,
        AllocBase, Engines: {id: {Status, Chunks: [{Key: {Path,
        Offset}, Status}]}}} (checkpoints.go:92-152). Grain
        difference, documented: the reference stores a checksum per
        CHUNK; this store records it per delivered ENGINE, so the
        triple rides on the engine record. Chunks not claimed by a
        recorded engine (not yet delivered) are grouped under engine
        "-1" — the not-started remainder. Returns None for a table
        the store has never seen."""
        with self._lock:
            t = self.state["tables"].get(table)
            prefix = f"{table}|"
            chunks = {
                k[len(prefix):]: int(v)
                for k, v in self.state["chunks"].items()
                if k.startswith(prefix)
            }
        if t is None and not chunks:
            return None
        t = t or {}

        def _chunk(key: str) -> dict:
            path, _, off = key.rpartition("|")
            return {
                "Key": {"Path": path, "Offset": int(off or 0)},
                "Status": chunks.get(key, 0),
            }

        engines: dict[str, dict] = {}
        claimed: set[str] = set()
        for eid, rec in sorted(
            t.get("engines", {}).items(), key=lambda kv: int(kv[0])
        ):
            if rec.get("chunks"):
                keys = [f"{p}|{int(o)}" for p, o in rec["chunks"]]
            else:
                # whole-file engine records written before engines
                # carried their (path, offset) chunks
                keys = [f"{p}|0" for p in rec.get("files", [])]
            claimed.update(keys)
            eng: dict = {
                "Status": (
                    min((chunks.get(k, 0) for k in keys), default=0)
                    if keys
                    else int(t.get("status", 0))
                ),
                "Chunks": [_chunk(k) for k in sorted(keys)],
            }
            if rec.get("crc_xor") is not None:
                eng["Checksum"] = {
                    "checksum": rec["crc_xor"],
                    "size": rec["total_bytes"],
                    "kvs": rec["total_kvs"],
                }
            engines[str(int(eid))] = eng
        rest = sorted(set(chunks) - claimed)
        if rest:
            engines["-1"] = {
                "Status": min(chunks[k] for k in rest),
                "Chunks": [_chunk(k) for k in rest],
            }
        return {
            "Status": int(t.get("status", 0)),
            "AllocBase": int(t.get("alloc_base", 0)),
            "Engines": engines,
        }

    def clean(self) -> None:
        self.remove(None)
        if self.enabled and self.path and os.path.exists(self.path):
            os.remove(self.path)


class SQLCheckpointStore(CheckpointStore):
    """Checkpoint driver backed by a DBAPI connection — the analog of
    the reference's MySQL checkpoint driver (checkpoints.go:369-760),
    where state lives WITH the target database so resume survives
    loss of the driver machine (a file store dies with its disk).

    ``connection_factory`` returns a DBAPI connection: MySQL-protocol
    in production, ``sqlite3`` in tests (both accept the dialect
    subset used here — ``REPLACE INTO`` upserts and plain DDL, like
    the reference's INSERT/REPLACE statements checkpoints.go:436-520).
    Schema mirrors the reference's table/engine/chunk checkpoint
    tables reduced to the columns this engine uses. All reads hit the
    in-memory mirror hydrated at construction; mutators write through
    row-targeted upserts (bulk rewrites only for the rare ctl ops).

    ``paramstyle``: "qmark" for sqlite3, "format" for
    pymysql/mysql-connector.
    """

    _DDL = (
        "CREATE TABLE IF NOT EXISTS cp_table_v1 ("
        "tbl VARCHAR(255) PRIMARY KEY, status INTEGER NOT NULL, "
        "alloc_base BIGINT NOT NULL)",
        "CREATE TABLE IF NOT EXISTS cp_engine_v1 ("
        "tbl VARCHAR(255) NOT NULL, engine_id INTEGER NOT NULL, "
        "payload TEXT, PRIMARY KEY (tbl, engine_id))",
        "CREATE TABLE IF NOT EXISTS cp_chunk_v1 ("
        "ck VARCHAR(512) PRIMARY KEY, status INTEGER NOT NULL)",
        "CREATE TABLE IF NOT EXISTS cp_task_v1 ("
        "k VARCHAR(255) PRIMARY KEY, v TEXT)",
    )

    def __init__(
        self,
        connection_factory,
        enabled: bool = True,
        paramstyle: str = "qmark",
    ):
        self.enabled = enabled
        self.path = None
        self._ph = "?" if paramstyle == "qmark" else "%s"
        self.state = {"tables": {}, "chunks": {}}
        self._lock = threading.RLock()
        if not enabled:
            return
        self._conn = connection_factory()
        cur = self._conn.cursor()
        for ddl in self._DDL:
            cur.execute(ddl)
        self._conn.commit()
        cur.execute("SELECT tbl, status, alloc_base FROM cp_table_v1")
        for tbl, status, base in cur.fetchall():
            rec = self.state["tables"].setdefault(tbl, {})
            rec["status"] = int(status)
            if base:
                rec["alloc_base"] = int(base)
        cur.execute("SELECT tbl, engine_id, payload FROM cp_engine_v1")
        for tbl, eid, payload in cur.fetchall():
            self.state["tables"].setdefault(tbl, {}).setdefault("engines", {})[
                str(int(eid))
            ] = json.loads(payload)
        cur.execute("SELECT ck, status FROM cp_chunk_v1")
        for ck, status in cur.fetchall():
            self.state["chunks"][ck] = int(status)
        cur.execute("SELECT k, v FROM cp_task_v1")
        for k, v in cur.fetchall():
            self.state.setdefault("task", {})[k] = v

    def _exec(self, sql: str, rows: list[tuple]) -> None:
        cur = self._conn.cursor()
        if len(rows) == 1:
            cur.execute(sql, rows[0])
        elif rows:
            cur.executemany(sql, rows)
        else:
            cur.execute(sql)
        self._conn.commit()

    def _upsert_table_row(self, table: str) -> None:
        t = self.state["tables"].get(table, {})
        p = self._ph
        self._exec(
            f"REPLACE INTO cp_table_v1 (tbl, status, alloc_base) "
            f"VALUES ({p}, {p}, {p})",
            [(table, int(t.get("status", 0)), int(t.get("alloc_base", 0)))],
        )

    # -- targeted write-through mutators -----------------------------------
    def set_table_status(self, table: str, status: int) -> None:
        if not self.enabled:
            return
        with self._lock:
            self.state["tables"].setdefault(table, {})["status"] = int(status)
            self._upsert_table_row(table)

    def set_alloc_base(self, table: str, base: int) -> None:
        if not self.enabled:
            return
        with self._lock:
            t = self.state["tables"].setdefault(table, {})
            t["alloc_base"] = max(t.get("alloc_base", 0), base)
            self._upsert_table_row(table)

    def mark_chunks(
        self, table: str, chunks: list[tuple[str, int]], status: int
    ) -> None:
        if not self.enabled:
            return
        p = self._ph
        with self._lock:
            rows = []
            for pa, off in chunks:
                key = self.chunk_key(table, pa, int(off))
                self.state["chunks"][key] = int(status)
                rows.append((key, int(status)))
            self._exec(
                f"REPLACE INTO cp_chunk_v1 (ck, status) VALUES ({p}, {p})",
                rows,
            )

    def set_engine_state(self, table: str, engine_id: int, rec: dict) -> None:
        if not self.enabled:
            return
        p = self._ph
        with self._lock:
            t = self.state["tables"].setdefault(table, {})
            t.setdefault("engines", {})[str(int(engine_id))] = rec
            self._exec(
                f"REPLACE INTO cp_engine_v1 (tbl, engine_id, payload) "
                f"VALUES ({p}, {p}, {p})",
                [(table, int(engine_id), json.dumps(rec))],
            )

    def set_task_meta(self, key: str, value: str) -> None:
        if not self.enabled:
            return
        p = self._ph
        with self._lock:
            self.state.setdefault("task", {})[key] = str(value)
            self._exec(
                f"REPLACE INTO cp_task_v1 (k, v) VALUES ({p}, {p})",
                [(key, str(value))],
            )

    # -- rare ctl ops fall back to a full flush ----------------------------
    def _save(self) -> None:
        if not self.enabled:
            return
        with self._lock:
            p = self._ph
            self._exec("DELETE FROM cp_table_v1", [])
            self._exec("DELETE FROM cp_engine_v1", [])
            self._exec("DELETE FROM cp_chunk_v1", [])
            self._exec("DELETE FROM cp_task_v1", [])
            krows = [
                (k, str(v)) for k, v in self.state.get("task", {}).items()
            ]
            if krows:
                self._exec(
                    f"REPLACE INTO cp_task_v1 (k, v) VALUES ({p}, {p})",
                    krows,
                )
            trows, erows = [], []
            for tbl, t in self.state["tables"].items():
                trows.append(
                    (tbl, int(t.get("status", 0)), int(t.get("alloc_base", 0)))
                )
                for eid, rec in t.get("engines", {}).items():
                    erows.append((tbl, int(eid), json.dumps(rec)))
            if trows:
                self._exec(
                    f"REPLACE INTO cp_table_v1 (tbl, status, alloc_base) "
                    f"VALUES ({p}, {p}, {p})",
                    trows,
                )
            if erows:
                self._exec(
                    f"REPLACE INTO cp_engine_v1 (tbl, engine_id, payload) "
                    f"VALUES ({p}, {p}, {p})",
                    erows,
                )
            crows = [(k, int(v)) for k, v in self.state["chunks"].items()]
            if crows:
                self._exec(
                    f"REPLACE INTO cp_chunk_v1 (ck, status) VALUES ({p}, {p})",
                    crows,
                )

    def clean(self) -> None:
        self.remove(None)  # remove() persists the emptied state via _save
