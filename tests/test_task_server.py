"""O11 server mode: HTTP task queue + worker loop (SURVEY §3.2;
lightning.go:149-167,262-441; configlist.go:38-153)."""

from __future__ import annotations

import json
import os
import shutil
import urllib.request

from pyspark.sql import functions as F

from tidb_lightning_release_4_0_spark.functions.checksum import checksum
from tidb_lightning_release_4_0_spark.operators.permutation import ROWID_COL
from tidb_lightning_release_4_0_spark.server import (
    ConfigList,
    TaskRunner,
    TaskServer,
    parse_task_toml,
)
from tidb_lightning_release_4_0_spark.sinks.memory_sink import MemorySink

TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".tmp",
    "taskserver",
)


def _dump(subdir: str, db: str, value: int) -> str:
    d = os.path.join(TMP, subdir)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    files = {
        f"{db}-schema-create.sql": f"CREATE DATABASE {db};",
        f"{db}.t-schema.sql": "CREATE TABLE t (i INT);",
        f"{db}.t.sql": f"INSERT INTO t VALUES ({value});",
    }
    for name, content in files.items():
        with open(os.path.join(d, name), "w") as f:
            f.write(content)
    return d


def _task_toml(source_dir: str) -> bytes:
    return f"""
[tikv-importer]
backend = "importer"

[mydumper]
data-source-dir = "{source_dir}"

[tidb]
sql-mode = ""

[checkpoint]
enable = false
""".encode()


def _req(port: int, method: str, path: str, body: bytes | None = None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=body, method=method
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read() or b"{}")
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


def test_task_queue_http_lifecycle(spark):
    configs = ConfigList()
    # the operator's warehouse root layers onto every posted task,
    # like cfg.LoadFromGlobal in handlePostTask
    server = TaskServer(
        configs, overrides={"target_dir": os.path.join(TMP, "warehouse")}
    ).start()
    port = server.port
    try:
        # empty queue
        st, body = _req(port, "GET", "/tasks")
        assert st == 200 and body == {"current": None, "queue": []}

        # invalid TOML -> 400, nothing queued (lightning.go:362-369)
        st, body = _req(port, "POST", "/tasks", b"not = [valid")
        assert st == 400 and "parse" in body["error"]
        # unknown keys are rejected by the strict loader
        st, body = _req(port, "POST", "/tasks", b"[mydumper]\nbogus = 1\n")
        assert st == 400

        d1 = _dump("t1", "srv1", 11)
        d2 = _dump("t2", "srv2", 22)
        d3 = _dump("t3", "srv3", 33)
        ids = []
        for d in (d1, d2, d3):
            st, body = _req(port, "POST", "/tasks", _task_toml(d))
            assert st == 200
            ids.append(body["id"])
        assert ids == sorted(ids)  # strictly monotonic task IDs

        st, body = _req(port, "GET", "/tasks")
        assert body["queue"] == ids

        # GET one task
        st, body = _req(port, "GET", f"/tasks/{ids[1]}")
        assert st == 200 and body["source_dir"] == d2
        st, _ = _req(port, "GET", "/tasks/99999")
        assert st == 404

        # reorder: last to front, first to back (lightning.go:412-441)
        st, _ = _req(port, "PATCH", f"/tasks/{ids[2]}/front")
        assert st == 200
        st, _ = _req(port, "PATCH", f"/tasks/{ids[0]}/back")
        assert st == 200
        st, body = _req(port, "GET", "/tasks")
        assert body["queue"] == [ids[2], ids[1], ids[0]]

        # delete a queued task
        st, _ = _req(port, "DELETE", f"/tasks/{ids[1]}")
        assert st == 200
        st, _ = _req(port, "DELETE", f"/tasks/{ids[1]}")
        assert st == 404
        st, body = _req(port, "GET", "/tasks")
        assert body["queue"] == [ids[2], ids[0]]

        # worker drains the remaining two tasks in queue order
        sinks: dict[str, MemorySink] = {}

        def sink_factory(cfg):
            s = MemorySink(on_duplicate="error")
            sinks[cfg.mydumper.source_dir] = s
            return s

        runner = TaskRunner(
            spark, configs, server=server, sink_factory=sink_factory
        )
        n = runner.drain()
        assert n == 2
        assert set(runner.results) == {ids[2], ids[0]}
        assert all(s.ok for s in runner.results.values())
        # srv3 ran (was moved to front), srv2 was deleted, srv1 ran
        assert sinks[d3].tables["srv3.t"].agg(F.sum("i")).collect()[0][0] == 33
        assert sinks[d1].tables["srv1.t"].agg(F.sum("i")).collect()[0][0] == 11
        assert d2 not in sinks

        # queue drained, no current task
        st, body = _req(port, "GET", "/tasks")
        assert body == {"current": None, "queue": []}
    finally:
        server.shutdown()


def test_failed_task_does_not_stop_the_queue(spark):
    configs = ConfigList()
    runner = TaskRunner(spark, configs, sink_factory=lambda cfg: MemorySink())
    over = {"target_dir": os.path.join(TMP, "warehouse")}
    bad = parse_task_toml(_task_toml(os.path.join(TMP, "missing_dir")), over)
    good_dir = _dump("t4", "srv4", 44)
    good = parse_task_toml(_task_toml(good_dir), over)
    configs.push(bad)
    configs.push(good)
    assert runner.drain() == 2
    res = [runner.results[t] for t in sorted(runner.results)]
    # the bad task recorded its failure; the good one completed
    assert isinstance(res[0], Exception) or not res[0].ok
    assert res[1].ok


def test_pause_resume_endpoints_and_gating(spark):
    """O4: PUT /pause parks the restore at the next table boundary;
    PUT /resume releases it (lightning.go:483-516; pause gate
    restore.go:1692)."""
    import threading
    import time

    configs = ConfigList()
    server = TaskServer(
        configs, overrides={"target_dir": os.path.join(TMP, "warehouse")}
    ).start()
    port = server.port
    try:
        st, body = _req(port, "GET", "/pause")
        assert st == 200 and body == {"paused": False}
        st, _ = _req(port, "PUT", "/pause")
        assert st == 200
        st, body = _req(port, "GET", "/pause")
        assert body == {"paused": True}

        d = _dump("t5", "srv5", 55)
        configs.push(parse_task_toml(_task_toml(d), server.overrides))
        sink = MemorySink(on_duplicate="error")
        runner = TaskRunner(
            spark, configs, server=server, sink_factory=lambda cfg: sink
        )
        t = threading.Thread(target=runner.drain, daemon=True)
        t.start()
        # poll until the worker has popped the task and published
        # progress (fixed sleeps are flaky on loaded machines)
        deadline = time.monotonic() + 60
        prog = {}
        while time.monotonic() < deadline:
            st, prog = _req(port, "GET", "/progress/task")
            if st == 200 and prog.get("s") == 1 and "srv5.t" in prog.get(
                "t", {}
            ):
                break
            time.sleep(0.1)
        # paused: the task was popped and the run started, but no
        # table has been delivered (progress.go:95-118)
        assert prog["s"] == 1, prog
        assert prog["t"]["srv5.t"]["s"] < 2
        assert prog["t"]["srv5.t"]["w"] == 0
        assert prog["t"]["srv5.t"]["z"] > 0
        assert "srv5.t" not in sink.tables
        # the RUNNING task is no longer queued but must still be
        # inspectable (handleGetOneTask checks curTask first)
        st, cur = _req(port, "GET", "/tasks")
        assert cur["current"] is not None and cur["queue"] == []
        st, body = _req(port, "GET", f"/tasks/{cur['current']}")
        assert st == 200 and body["source_dir"] == d
        st, _ = _req(port, "PUT", "/resume")
        assert st == 200
        t.join(timeout=120)
        assert not t.is_alive()
        assert sink.tables["srv5.t"].count() == 1
        res = list(runner.results.values())
        assert len(res) == 1 and res[0].ok
        # completed: task + table status 2, all bytes accounted
        st, prog = _req(port, "GET", "/progress/task")
        assert prog["s"] == 2 and "m" not in prog
        rec = prog["t"]["srv5.t"]
        assert rec["s"] == 2 and rec["w"] == rec["z"]
    finally:
        server.pauser.resume()
        server.shutdown()


def test_metrics_endpoint(spark):
    """GET /metrics: Prometheus text exposition of the engine's own
    counters (the reference serves Prometheus on the same mux)."""
    configs = ConfigList()
    server = TaskServer(
        configs, overrides={"target_dir": os.path.join(TMP, "warehouse")}
    ).start()
    port = server.port
    try:
        d = _dump("t6", "srv6", 66)
        configs.push(parse_task_toml(_task_toml(d), server.overrides))
        runner = TaskRunner(
            spark, configs, server=server,
            sink_factory=lambda cfg: MemorySink(on_duplicate="error"),
        )
        assert runner.drain() == 1

        import urllib.request

        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics"
        ) as r:
            assert r.status == 200
            assert "text/plain" in r.headers["Content-Type"]
            text = r.read().decode()
        metrics = {
            line.split()[0]: float(line.split()[1])
            for line in text.splitlines()
            if line and not line.startswith("#")
        }
        assert metrics["lightning_tasks_total"] == 1
        assert metrics["lightning_tasks_failed_total"] == 0
        assert metrics["lightning_tables_restored_total"] == 1
        assert metrics["lightning_bytes_restored_total"] > 0
        assert metrics["lightning_paused"] == 0
    finally:
        server.shutdown()


def test_pause_on_error_parks_the_queue(spark):
    """Server mode force-pauses progress when a task errors
    (lightning.go:162-165) so the operator inspects before the next
    task runs."""
    configs = ConfigList()
    server = TaskServer(
        configs, overrides={"target_dir": os.path.join(TMP, "warehouse")}
    ).start()
    try:
        bad = parse_task_toml(
            _task_toml(os.path.join(TMP, "missing_dir")), server.overrides
        )
        configs.push(bad)
        runner = TaskRunner(
            spark, configs, server=server,
            sink_factory=lambda cfg: MemorySink(), pause_on_error=True,
        )
        assert runner.run_one(timeout=1)
        assert server.pauser.is_paused  # parked for inspection
        server.pauser.resume()
    finally:
        server.shutdown()


def test_delete_preempts_running_task(spark):
    """DELETE of the RUNNING task preempts it (lightning.go:427-441):
    the worker aborts at the next table boundary, the task records a
    failed summary, and the queue keeps serving."""
    import threading
    import time

    from tidb_lightning_release_4_0_spark.config import (
        Config,
        MydumperConfig,
        TiDBConfig,
    )

    d = os.path.join(TMP, "preempt_dump")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    files = {
        "pre-schema-create.sql": "CREATE DATABASE pre;",
        "pre.a-schema.sql": "CREATE TABLE a (i INT);",
        "pre.a.sql": "INSERT INTO a VALUES (1);",
        "pre.b-schema.sql": "CREATE TABLE b (i INT);",
        "pre.b.sql": "INSERT INTO b VALUES (2);",
    }
    for name, content in files.items():
        with open(os.path.join(d, name), "w") as f:
            f.write(content)

    gate = threading.Event()
    started = threading.Event()

    class BlockingSink(MemorySink):
        def write(self, df, table):
            started.set()
            assert gate.wait(120)
            return super().write(df, table)

    configs = ConfigList()
    server = TaskServer(configs).start()
    try:
        cfg = Config(
            mydumper=MydumperConfig(source_dir=d),
            backend="memory",
            checkpoint_enable=False,
            table_concurrency=1,  # deterministic table order
            tidb=TiDBConfig(sql_mode=""),
        )
        tid = configs.push(cfg)
        sink = BlockingSink(on_duplicate="error")
        runner = TaskRunner(
            spark, configs, server=server, sink_factory=lambda c: sink
        )
        t = threading.Thread(target=runner.drain, daemon=True)
        t.start()
        assert started.wait(120)  # first table is mid-delivery
        st, body = _req(server.port, "DELETE", f"/tasks/{tid}")
        assert st == 200 and body == {"stopped": True}
        gate.set()  # let the blocked delivery finish
        t.join(timeout=120)
        assert not t.is_alive()
        summary = runner.results[tid]
        assert not summary.ok
        statuses = {
            n: (r.status, r.error or "")
            for n, r in summary.tables.items()
        }
        # the in-flight table completed; the next one was preempted
        assert statuses["pre.a"][0] == "restored", statuses
        assert statuses["pre.b"][0] == "failed", statuses
        assert "cancelled" in statuses["pre.b"][1]
        # DELETE of an unknown id still 404s
        st, _ = _req(server.port, "DELETE", "/tasks/999")
        assert st == 404
    finally:
        gate.set()
        server.shutdown()


def test_progress_table_endpoint(spark):
    """GET /progress/table?t=<db>.<tbl> serves the table's checkpoint
    ladder in the reference's TableCheckpoint JSON shape
    (lightning.go:466-476, web.MarshalTableCheckpoints):
    {Status, AllocBase, Engines: {id: {Status, Chunks: [{Key:
    {Path, Offset}, Status}]}}}; 404 for a table no restore touched."""
    configs = ConfigList()
    server = TaskServer(
        configs, overrides={"target_dir": os.path.join(TMP, "warehouse")}
    ).start()
    port = server.port
    try:
        d = _dump("t_cp", "srvcp", 77)
        toml = _task_toml(d).replace(
            b"[checkpoint]\nenable = false",
            (
                "[checkpoint]\nenable = true\ndriver = \"file\"\n"
                f"dsn = \"{os.path.join(TMP, 't_cp_ckpt.json')}\""
            ).encode(),
        )
        ckpath = os.path.join(TMP, "t_cp_ckpt.json")
        if os.path.exists(ckpath):
            os.remove(ckpath)
        configs.push(parse_task_toml(toml, server.overrides))
        sink = MemorySink(on_duplicate="error")
        runner = TaskRunner(
            spark, configs, server=server, sink_factory=lambda cfg: sink
        )
        # before any restore touches the table: 404 (IsNotFound branch)
        st, _ = _req(port, "GET", "/progress/table?t=srvcp.t")
        assert st == 404
        assert runner.drain() == 1
        st, cp = _req(port, "GET", "/progress/table?t=srvcp.t")
        assert st == 200
        assert set(cp) == {"Status", "AllocBase", "Engines"}
        assert cp["Status"] >= 60  # >= ALL_WRITTEN on the ladder
        engines = cp["Engines"]
        assert engines, "at least one engine recorded"
        for eng in engines.values():
            assert set(eng) >= {"Status", "Chunks"}
            for ch in eng["Chunks"]:
                assert set(ch["Key"]) == {"Path", "Offset"}
                assert ch["Key"]["Path"].endswith("srvcp.t.sql")
                assert ch["Status"] >= 60
        st, _ = _req(port, "GET", "/progress/table?t=no.such")
        assert st == 404
    finally:
        server.shutdown()


def _incremental_task(root: str, name: str, ddl: str, rows: str):
    """A task restoring its own dump directory (one CSV part of table
    ``srvinc.t``) incrementally into ``root``'s warehouse under
    on-duplicate = replace, checkpointed in ``root``'s one file."""
    d = os.path.join(root, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    files = {
        "srvinc-schema-create.sql": "CREATE DATABASE srvinc;",
        "srvinc.t-schema.sql": ddl,
        "srvinc.t.0001.csv": rows,
    }
    for fname, content in files.items():
        with open(os.path.join(d, fname), "w") as f:
            f.write(content)
    toml = f"""
[tikv-importer]
backend = "importer"
on-duplicate = "replace"

[mydumper]
data-source-dir = "{d}"

[tidb]
sql-mode = ""

[checkpoint]
enable = true
driver = "file"
dsn = "{os.path.join(root, 'ckpt.json')}"
""".encode()
    return parse_task_toml(
        toml,
        {"target_dir": os.path.join(root, "warehouse"), "incremental": True},
    )


def _delivered(spark, root: str):
    return spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(root, "warehouse", "srvinc.t")
    )


def _all_ok(runner: TaskRunner) -> bool:
    return all(getattr(r, "ok", False) for r in runner.results.values())


def test_incremental_tasks_continue_rowids(spark):
    """Continuous import is server mode: each queued task is a batch
    restore that appends to the delivered table (lightning.go:149-167).
    Two tasks over a PK-less table, each from its own dump directory
    and sharing one checkpoint file: the first task's rows are not
    delivered again, and _tidb_rowid continues densely across tasks
    (AllocBase chaining)."""
    root = os.path.join(TMP, "inc_nopk")
    shutil.rmtree(root, ignore_errors=True)
    ddl = "CREATE TABLE t (name VARCHAR(10));"
    configs = ConfigList()
    configs.push(_incremental_task(root, "dump1", ddl, "a\nb\nc\n"))
    configs.push(_incremental_task(root, "dump2", ddl, "d\ne\n"))
    runner = TaskRunner(spark, configs)
    assert runner.drain() == 2
    assert _all_ok(runner), runner.results
    rows = _delivered(spark, root).orderBy(ROWID_COL).collect()
    assert [r[ROWID_COL] for r in rows] == [1, 2, 3, 4, 5]
    assert [r["name"] for r in rows] == ["a", "b", "c", "d", "e"]


def test_reposted_task_is_idempotent_under_replace(spark):
    """Re-posting a finished keyed task under on-duplicate = replace
    leaves the delivered table as it was: same row count, same
    checksum."""
    root = os.path.join(TMP, "inc_replay")
    shutil.rmtree(root, ignore_errors=True)
    ddl = "CREATE TABLE t (id INT PRIMARY KEY, name VARCHAR(20), v DOUBLE);"
    rows = "1,alpha,1.5\n2,beta,2.5\n"
    configs = ConfigList()
    runner = TaskRunner(spark, configs)
    configs.push(_incremental_task(root, "dump", ddl, rows))
    assert runner.drain() == 1
    first = _delivered(spark, root)
    before = (first.count(), checksum(first))
    configs.push(_incremental_task(root, "dump", ddl, rows))
    assert runner.drain() == 1
    assert _all_ok(runner), runner.results
    again = _delivered(spark, root)
    assert (again.count(), checksum(again)) == before
    assert before[0] == 2


def test_marshal_table_mid_restore_shape():
    """Store-level mid-restore snapshot: engine 0 delivered (with its
    checksum triple), a second chunk still pending — the pending
    chunk groups under engine -1 (the not-started remainder)."""
    from tidb_lightning_release_4_0_spark.plans.checkpoints import (
        CheckpointStore,
        Status,
    )

    cp = CheckpointStore(path=None, enabled=True)
    cp.set_table_status("db.t", Status.LOADED)
    cp.set_alloc_base("db.t", 1000)
    cp.mark_chunk("db.t", "/d/db.t.0001.sql", Status.ALL_WRITTEN)
    cp.set_engine_state(
        "db.t",
        0,
        {
            "rows": 5,
            "max_id": 5,
            "files": ["/d/db.t.0001.sql"],
            "crc_xor": 123,
            "total_bytes": 456,
            "total_kvs": 5,
        },
    )
    cp.mark_chunk("db.t", "/d/db.t.0002.sql", Status.LOADED)
    m = cp.marshal_table("db.t")
    assert m["Status"] == Status.LOADED
    assert m["AllocBase"] == 1000
    e0 = m["Engines"]["0"]
    assert e0["Status"] == Status.ALL_WRITTEN
    assert e0["Checksum"] == {"checksum": 123, "size": 456, "kvs": 5}
    assert e0["Chunks"] == [
        {
            "Key": {"Path": "/d/db.t.0001.sql", "Offset": 0},
            "Status": Status.ALL_WRITTEN,
        }
    ]
    rest = m["Engines"]["-1"]
    assert rest["Chunks"] == [
        {
            "Key": {"Path": "/d/db.t.0002.sql", "Offset": 0},
            "Status": Status.LOADED,
        }
    ]
    assert cp.marshal_table("db.unknown") is None


def test_web_dashboard_served():
    """lightning.go:90-111: "/" redirects to /web/, which serves the
    dashboard. The page must be self-contained (no external scripts)
    and wired to the real JSON endpoints it polls."""
    server = TaskServer(ConfigList()).start()
    try:
        # "/" -> 302 /web/ (RedirectHandler at lightning.go:90)
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/", method="GET"
        )

        class NoRedirect(urllib.request.HTTPRedirectHandler):
            def redirect_request(self, *a, **k):
                return None

        opener = urllib.request.build_opener(NoRedirect)
        try:
            opener.open(req)
            raise AssertionError("expected a redirect")
        except urllib.error.HTTPError as e:
            assert e.code == 302
            assert e.headers["Location"] == "/web/"

        with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/web/"
        ) as r:
            assert r.status == 200
            assert r.headers["Content-Type"].startswith("text/html")
            page = r.read().decode()
        # wired to every endpoint surface the reference app uses
        for endpoint in (
            "/progress/task",
            "/progress/table",
            "/tasks",
            "/pause",
            "/resume",
            "/metrics",
        ):
            assert endpoint in page, endpoint
        # self-contained: no external fetches besides same-origin
        assert "http://" not in page and "https://" not in page
        assert "<script src" not in page and "@import" not in page
        # renders the marshal shapes these endpoints actually emit
        for field in ("Engines", "Chunks", "AllocBase", "Key", "Path"):
            assert field in page, field
    finally:
        server.shutdown()
