"""Fake MySQL-protocol endpoint (DB-API 2.0 shaped) for executing the
JDBC sink's delivery path without a live server.

The reference's tidb backend delivers data by EXECUTING rendered
multi-row statements — ``REPLACE INTO`` / ``INSERT IGNORE INTO`` /
``INSERT INTO`` with MySQL literal syntax — one autocommitted Exec
per sub-batch (lightning/backend/tidb.go:271-316), retrying only
errors its classifier deems transient (common/util.go:186-218). This
module provides the other end of that wire in-process: a connection
factory whose cursor genuinely PARSES and APPLIES the SQL text the
sink renders, enforcing

- PRIMARY KEY uniqueness with MySQL's ``1062 Duplicate entry`` error
  (statement-atomic: a failing multi-row INSERT applies nothing),
- REPLACE (arriving row wins) / INSERT IGNORE (existing row wins)
  duplicate semantics, in-statement order included,
- MySQL literal decoding exactly inverse to the sink's renderer
  (backslash escapes, ``x'..'`` binary, NULL, numbers),
- ``CREATE TABLE`` registration through the engine's own MySQL DDL
  parser (schema_reader), so the PK comes from the dump's schema,
- injectable faults with MySQL errnos (deadlock 1213, lost
  connection 2013, ...) to exercise the sink's retry classifier.

State lives in ONE sqlite3 file so Spark's separate Python worker
processes (foreachPartition tasks) share it with real cross-process
locking — sqlite is the storage engine here, never the SQL dialect:
every statement goes through the MySQL parser above.
"""

from __future__ import annotations

import json
import os
import re
import sqlite3


class MySQLError(Exception):
    def __init__(self, errno: int, msg: str):
        super().__init__(errno, msg)
        self.errno = errno
        self.msg = msg


class OperationalError(MySQLError):
    """Transient server/connection class (retry candidates)."""


class IntegrityError(MySQLError):
    """Constraint violations (1062 Duplicate entry) — never retried."""


class ProgrammingError(MySQLError):
    """Statement text the server cannot parse."""


# ---------------------------------------------------------------------------
# literal scanner: exact inverse of jdbc_sink.render_sql_value
# ---------------------------------------------------------------------------

_UNESCAPE = {
    "0": "\0", "b": "\b", "n": "\n", "r": "\r", "t": "\t",
    "Z": "\x1a", "'": "'", '"': '"', "\\": "\\",
}
_NUM_RE = re.compile(r"[-+]?(\d+\.?\d*([eE][-+]?\d+)?|\.\d+([eE][-+]?\d+)?)")


def _scan_literal(s: str, i: int):
    """Parse one SQL literal at s[i:]; return (python value, next i)."""
    if s.startswith("NULL", i):
        return None, i + 4
    if (s.startswith("x'", i) or s.startswith("X'", i)):
        j = s.index("'", i + 2)
        return bytes.fromhex(s[i + 2 : j]), j + 1
    if s[i] == "'":
        out = []
        j = i + 1
        while True:
            ch = s[j]
            if ch == "\\":
                out.append(_UNESCAPE.get(s[j + 1], s[j + 1]))
                j += 2
            elif ch == "'":
                return "".join(out), j + 1
            else:
                out.append(ch)
                j += 1
    m = _NUM_RE.match(s, i)
    if m:
        tok = m.group(0)
        if any(c in tok for c in ".eE"):
            return float(tok), m.end()
        return int(tok), m.end()
    raise ProgrammingError(
        1064, f"syntax error near {s[i:i+20]!r}"
    )


def _scan_tuple(s: str, i: int):
    if s[i] != "(":
        raise ProgrammingError(1064, f"expected '(' at {s[i:i+20]!r}")
    i += 1
    vals = []
    while True:
        v, i = _scan_literal(s, i)
        vals.append(v)
        if s[i] == ",":
            i += 1
        elif s[i] == ")":
            return tuple(vals), i + 1
        else:
            raise ProgrammingError(1064, f"bad tuple at {s[i:i+20]!r}")


_DML_RE = re.compile(
    r"^\s*(REPLACE INTO|INSERT IGNORE INTO|INSERT INTO)\s+"
    r"`([^`]+)`\s*\(([^)]*)\)\s*VALUES\s*",
    re.IGNORECASE,
)


def _parse_dml(sql: str):
    m = _DML_RE.match(sql)
    if not m:
        return None
    mode = {
        "replace into": "replace",
        "insert ignore into": "ignore",
        "insert into": "insert",
    }[m.group(1).lower()]
    table = m.group(2)
    cols = [c.strip().strip("`") for c in m.group(3).split(",")]
    i = m.end()
    rows = []
    while True:
        row, i = _scan_tuple(sql, i)
        if len(row) != len(cols):
            raise ProgrammingError(
                1136, "Column count doesn't match value count"
            )
        rows.append(row)
        if i < len(sql) and sql[i] == ",":
            i += 1
        else:
            break
    if sql[i:].strip():
        raise ProgrammingError(1064, f"trailing junk: {sql[i:i+20]!r}")
    return mode, table, cols, rows


# JSON-taggable value codec (bytes aren't JSON-native)
def _enc(v):
    if isinstance(v, bytes):
        return ["b", v.hex()]
    if isinstance(v, float):
        return ["f", repr(v)]
    return ["v", v]


def _dec(t):
    tag, v = t
    if tag == "b":
        return bytes.fromhex(v)
    if tag == "f":
        return float(v)
    return v


class FakeMySQL:
    """Server handle: owns the sqlite file; hands out factories."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with self._db() as db:
            db.executescript(
                """
                CREATE TABLE IF NOT EXISTS meta(
                  tbl TEXT PRIMARY KEY, cols TEXT, pk TEXT);
                CREATE TABLE IF NOT EXISTS rows(
                  seq INTEGER PRIMARY KEY AUTOINCREMENT,
                  tbl TEXT, k TEXT, data TEXT);
                CREATE UNIQUE INDEX IF NOT EXISTS rows_key
                  ON rows(tbl, k);
                CREATE TABLE IF NOT EXISTS faults(
                  id INTEGER PRIMARY KEY AUTOINCREMENT, errno INTEGER);
                CREATE TABLE IF NOT EXISTS log(
                  id INTEGER PRIMARY KEY AUTOINCREMENT,
                  stmt TEXT, outcome TEXT);
                """
            )

    def _db(self) -> sqlite3.Connection:
        # isolation_level=None: autocommit mode so the explicit
        # BEGIN IMMEDIATE in the DML path owns transaction scope
        return sqlite3.connect(self.path, timeout=60, isolation_level=None)

    def factory(self) -> "FakeMySQLFactory":
        return FakeMySQLFactory(self.path)

    # -- test/ops surface ---------------------------------------------------
    def inject_faults(self, errnos: list[int]) -> None:
        """Queue errors: the next len(errnos) DML executes each consume
        one and raise OperationalError(errno) before applying."""
        with self._db() as db:
            db.executemany(
                "INSERT INTO faults(errno) VALUES (?)",
                [(int(e),) for e in errnos],
            )

    def dump_table(self, table: str) -> list[dict]:
        """Rows in arrival (seq) order as {col: value} dicts."""
        with self._db() as db:
            rows = db.execute(
                "SELECT data FROM rows WHERE tbl=? ORDER BY seq",
                (table,),
            ).fetchall()
        out = []
        for (data,) in rows:
            d = json.loads(data)
            out.append(
                {c: _dec(t) for c, t in zip(d["cols"], d["vals"])}
            )
        return out

    def executed_statements(self) -> list[tuple[str, str]]:
        with self._db() as db:
            return [
                (s, o)
                for s, o in db.execute(
                    "SELECT stmt, outcome FROM log ORDER BY id"
                )
            ]


class FakeMySQLFactory:
    """Picklable DB-API connection factory — ships to executor tasks
    inside the foreachPartition closure."""

    def __init__(self, path: str):
        self.path = path

    def __call__(self) -> "FakeConnection":
        return FakeConnection(self.path)


class FakeConnection:
    def __init__(self, path: str):
        self.path = path
        self._db = sqlite3.connect(path, timeout=60, isolation_level=None)

    def cursor(self) -> "FakeCursor":
        return FakeCursor(self._db)

    def commit(self) -> None:
        # the reference's tidb backend autocommits per statement
        # (db.ExecContext, tidb.go:271); so does this endpoint — the
        # DB-API commit is a no-op kept for interface fidelity
        pass

    def rollback(self) -> None:
        pass

    def close(self) -> None:
        self._db.close()


class FakeCursor:
    def __init__(self, db: sqlite3.Connection):
        self._db = db
        self._result: list[tuple] = []
        self.description = None

    def fetchall(self) -> list[tuple]:
        return list(self._result)

    def fetchone(self):
        return self._result[0] if self._result else None

    def close(self) -> None:
        pass

    # -- statement dispatch -------------------------------------------------
    def execute(self, sql: str) -> None:
        s = sql.strip()
        low = s.lower()
        if low.startswith("select 1"):
            self._result = [(1,)]
            self.description = [("1",)]
            return
        m = re.match(r"select \* from `([^`]+)`\s*$", low)
        if m:
            # the original-case table name (the regex matched on the
            # lowercased text; extract from the raw statement)
            raw = re.match(
                r"\s*select\s+\*\s+from\s+`([^`]+)`\s*$", s,
                re.IGNORECASE,
            )
            self._select_all(raw.group(1))
            return
        if low.startswith("create table") or low.startswith(
            "create database"
        ):
            self._create(s)
            return
        dml = _parse_dml(s)
        if dml is None:
            raise ProgrammingError(1064, f"cannot parse: {s[:60]!r}")
        self._apply_dml(s, *dml)

    def _select_all(self, table: str) -> None:
        rows = self._db.execute(
            "SELECT data FROM rows WHERE tbl=? ORDER BY seq", (table,)
        ).fetchall()
        if rows:
            first = json.loads(rows[0][0])
            cols = first["cols"]
        else:
            meta = self._db.execute(
                "SELECT cols FROM meta WHERE tbl=? OR tbl=?",
                (table, table.rsplit(".", 1)[-1]),
            ).fetchone()
            cols = json.loads(meta[0]) if meta else []
        self.description = [(c,) for c in cols]
        out = []
        for (data,) in rows:
            d = json.loads(data)
            m = {c: _dec(t) for c, t in zip(d["cols"], d["vals"])}
            out.append(tuple(m.get(c) for c in cols))
        self._result = out

    def _create(self, sql: str) -> None:
        low = sql.lower()
        if low.startswith("create database"):
            return
        from tidb_lightning_release_4_0_spark.sources.schema_reader import (
            parse_create_table,
        )

        schema = parse_create_table(sql)
        cols = [c.name for c in schema.columns]
        pk = schema.primary_key
        self._db.execute("BEGIN IMMEDIATE")
        try:
            self._db.execute(
                "INSERT OR REPLACE INTO meta(tbl, cols, pk) "
                "VALUES (?, ?, ?)",
                (schema.name, json.dumps(cols), json.dumps(pk)),
            )
            self._db.commit()
        except BaseException:
            self._db.rollback()
            raise

    def _apply_dml(self, stmt, mode, table, cols, rows) -> None:
        db = self._db
        db.execute("BEGIN IMMEDIATE")  # statement-atomic, serialized
        try:
            fault = db.execute(
                "SELECT id, errno FROM faults ORDER BY id LIMIT 1"
            ).fetchone()
            if fault:
                db.execute("DELETE FROM faults WHERE id=?", (fault[0],))
                db.execute(
                    "INSERT INTO log(stmt, outcome) VALUES (?, ?)",
                    (stmt, f"err:{fault[1]}"),
                )
                db.commit()
                raise OperationalError(
                    int(fault[1]), "injected server error"
                )
            # DDL registers the bare table name (a real server would
            # scope it by the session's default database); delivery
            # targets `db.tbl` — fall back to the bare suffix
            meta = db.execute(
                "SELECT pk FROM meta WHERE tbl=?", (table,)
            ).fetchone()
            if meta is None and "." in table:
                meta = db.execute(
                    "SELECT pk FROM meta WHERE tbl=?",
                    (table.rsplit(".", 1)[-1],),
                ).fetchone()
            pk = json.loads(meta[0]) if meta else []
            pk_idx = [cols.index(c) for c in pk if c in cols]

            def key_of(row) -> str | None:
                if not pk_idx:
                    return None  # sqlite UNIQUE treats NULLs distinct
                return json.dumps([_enc(row[i]) for i in pk_idx])

            payloads = [
                (
                    key_of(r),
                    json.dumps(
                        {"cols": cols, "vals": [_enc(v) for v in r]}
                    ),
                )
                for r in rows
            ]
            if mode == "insert" and pk_idx:
                seen = set()
                for k, _ in payloads:
                    if k in seen:
                        self._dup(stmt, db, k)
                    seen.add(k)
                qs = ",".join("?" for _ in payloads)
                hit = db.execute(
                    f"SELECT k FROM rows WHERE tbl=? AND k IN ({qs}) "
                    "LIMIT 1",
                    [table] + [k for k, _ in payloads],
                ).fetchone()
                if hit:
                    self._dup(stmt, db, hit[0])
            for k, data in payloads:
                if mode == "replace":
                    db.execute(
                        "INSERT INTO rows(tbl, k, data) VALUES (?,?,?) "
                        "ON CONFLICT(tbl, k) DO UPDATE SET data=excluded.data",
                        (table, k, data),
                    )
                elif mode == "ignore":
                    db.execute(
                        "INSERT OR IGNORE INTO rows(tbl, k, data) "
                        "VALUES (?,?,?)",
                        (table, k, data),
                    )
                else:
                    db.execute(
                        "INSERT INTO rows(tbl, k, data) VALUES (?,?,?)",
                        (table, k, data),
                    )
            db.execute(
                "INSERT INTO log(stmt, outcome) VALUES (?, 'ok')",
                (stmt,),
            )
            db.commit()
        except MySQLError:
            db.rollback() if db.in_transaction else None
            raise
        except BaseException:
            db.rollback()
            raise

    def _dup(self, stmt, db, key_json) -> None:
        vals = [_dec(t) for t in json.loads(key_json)]
        rendered = "-".join(str(v) for v in vals)
        db.execute(
            "INSERT INTO log(stmt, outcome) VALUES (?, 'err:1062')",
            (stmt,),
        )
        db.commit()
        raise IntegrityError(
            1062, f"Duplicate entry '{rendered}' for key 'PRIMARY'"
        )
