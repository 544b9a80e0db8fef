#!/usr/bin/env python3
"""Restore benchmark: full ``RestoreController(spark, cfg).run()`` calls
on a seeded mydumper dump, one workload per process, at local[nproc].

    python3 perfbench/run.py --workload csv_bulk --seed 1 --seconds 20 --trace 0

With ``--trace 0`` the last stdout line is a JSON object carrying the
end-to-end metrics; with ``--trace 1`` the same restores alternate
with traced ones and the JSON carries the per-layer metrics instead.
Every restore passes the correctness gate or the command exits 1.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
MIB = 1 << 20
CLK_TCK = os.sysconf("SC_CLK_TCK")
# untimed restores after the cold one, for at least this long, so the
# timed ones run on JIT-compiled code
WARMUP_SECONDS = 3.0
# a run times at least this many restores, even past --seconds
MIN_RESTORES = 5

END_TO_END = {
    "ingest_mib_s": "MiB/s",
    "restore_s.p50": "s",
    "setup_s": "s",
    "jvm_peak_rss_mib": "MiB",
    "stored_bytes_per_source_byte": "B/B",
}

_PASS_FIELDS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "python_init_s",
    "python_run_s", "shuffle_write_bytes", "spill_bytes", "tasks",
)
PER_LAYER = {
    # the whole process tree; per-layer because its run-to-run spread
    # on a shared 4-core box is wider than any end-to-end bound
    "process.cpu_s_per_mib": "s/MiB",
    "sources.plan_s": "s",
    "sources.parse_s": "s",
    "sources.python_run_s": "s",
    "operators.cast_s": "s",
    "functions.row_hash_s": "s",
    "functions.python_run_s": "s",
    "functions.python_init_s": "s",
    "sinks.write_s": "s",
    "sinks.bytes_written": "B",
    "sinks.files_written": "count",
    "sinks.analyze_s": "s",
    "pipeline.read_plan_s": "s",
    "pipeline.plan_cache_hit_ratio": "ratio",
    "pipeline.verify_s": "s",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.engines": "count",
    "pipeline.driver_gap_s": "s",
    "pipeline.slot_util": "ratio",
    "checkpoints.saves": "count",
    "checkpoints.save_s": "s",
    "checkpoints.bytes": "B",
    **{
        f"spark.{p}.{f}": (
            "B" if f.endswith("bytes") else "count" if f == "tasks" else "s"
        )
        for p in ("pass1", "pass2")
        for f in _PASS_FIELDS
    },
    "trace.overhead_s": "s",
}


# -- /proc accounting -------------------------------------------------------
def process_start_epoch() -> float:
    """Wall-clock time this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    age = time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / CLK_TCK
    return time.time() - age


def tree_cpu_s(root: int) -> float:
    """utime+stime of ``root`` and every live descendant, plus what
    they already reaped (cutime+cstime): the driver, the JVM and the
    Python workers together."""
    table: dict[int, tuple[int, float]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        table[int(d)] = (
            int(fields[1]), sum(int(x) for x in fields[11:15]) / CLK_TCK
        )
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        total += table.get(pid, (0, 0.0))[1]
        todo.extend(kids.get(pid, []))
    return total


def vm_hwm_mib(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_size(path: str) -> tuple[int, int]:
    """(bytes of every file, number of parquet files) under ``path``."""
    nbytes = nfiles = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            nbytes += os.path.getsize(os.path.join(dp, f))
            nfiles += f.endswith(".parquet")
    return nbytes, nfiles


# -- Spark session ----------------------------------------------------------
def start_spark(nproc: int, run_dir: str, event_dir: str | None):
    from tidb_lightning_release_4_0_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a fixed-size heap: peak RSS then tracks what the run touches,
        # not when G1 decided to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "spark.hadoop.hadoop.tmp.dir": tmp,
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# -- one restore ------------------------------------------------------------
class Bench:
    def __init__(self, spark, workload, dump, run_dir: str):
        from tidb_lightning_release_4_0_spark.plans.pipeline import (
            RestoreController,
        )

        self.spark = spark
        self.w = workload
        self.dump = dump
        self.run_dir = run_dir
        self.target = os.path.join(run_dir, "sink")
        self.table = dump.manifest["table"]
        self.source_bytes = dump.manifest["source_bytes"]
        self.controller = RestoreController
        self.expect: dict | None = None

    def config(self):
        return self.w.config(
            self.dump.dir, self.target, self.run_dir, self.source_bytes
        )

    def _reset(self) -> None:
        """Outside the timed window: clear the target and checkpoint
        file, and give every dump file a new mtime so the engine's
        read-plan memo sees a fresh import, as a new task would."""
        shutil.rmtree(self.target, ignore_errors=True)
        ckpt = os.path.join(self.run_dir, "checkpoint.json")
        if os.path.exists(ckpt):
            os.remove(ckpt)
        self.restamp()

    def restamp(self) -> None:
        now = time.time_ns()
        for p in self.dump.data_files:
            os.utime(p, ns=(now, now))

    def restore(self, tracer=None) -> dict:
        self._reset()
        cfg = self.config()
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        if tracer is None:
            summary = self.controller(self.spark, cfg).run()
        else:
            with tracer.span("restore"):
                summary = self.controller(self.spark, cfg).run()
        seconds = time.perf_counter() - t0
        cpu = tree_cpu_s(os.getpid()) - cpu0
        stored, files = tree_size(self.target)
        return {
            "seconds": seconds, "cpu_s": cpu, "stored_bytes": stored,
            "files": files, "summary": summary, "problems": None,
        }

    def gate(self, res: dict) -> list[str]:
        """Every check a restore must pass; an empty list is a pass."""
        from pyspark.errors import AnalysisException
        from pyspark.sql import functions as F

        import gen

        exp = self.expect
        summary = res.pop("summary")
        problems = []
        if not summary.ok:
            problems.append("summary not ok: " + summary.report())
        tr = summary.tables.get(self.table)
        if tr is None or tr.rows != exp["rows"]:
            problems.append(
                f"rows {tr.rows if tr else None} != generated {exp['rows']}"
            )
        cols = gen.ddl_columns(self.w.table)
        try:
            row = (
                self.spark.read.option("recursiveFileLookup", "true")
                .parquet(os.path.join(self.target, self.table))
                .agg(F.bit_xor(F.xxhash64(*cols)), F.count(F.lit(1)))
                .first()
            )
        except AnalysisException as e:  # no or unreadable delivery
            problems.append(f"delivered table unreadable: {e}")
        else:
            got = (int(row[0] or 0), int(row[1]))
            if got != (exp["digest"], exp["rows"]):
                problems.append(
                    f"delivered (digest, rows) {got} != generated "
                    f"{(exp['digest'], exp['rows'])}"
                )
        if "kv" in exp:
            ck = tr.checksum if tr else None
            got = [ck.crc_xor, ck.total_bytes, ck.total_kvs] if ck else None
            if got != exp["kv"]:
                problems.append(
                    f"kv_crc64 triple {got} != DuckDB twin {exp['kv']}"
                )
        res["problems"] = problems
        return problems


# -- traced run -------------------------------------------------------------
def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def isolated_layers(bench: Bench, tracer) -> None:
    """Call each layer's public function alone on the workload's input,
    forced with a noop write or an aggregate, inside a span."""
    from pyspark.sql import functions as F
    from tidb_lightning_release_4_0_spark.sources.csv_source import read_csv
    from tidb_lightning_release_4_0_spark.sources.sql_dump_source import (
        read_sql_dump,
    )

    tracer.restore_id = "isolated"
    spark = bench.spark
    cfg = bench.config()
    ctl = bench.controller(spark, cfg)
    meta, schema = ctl.load_schemas()[bench.table]
    cols = [c.name for c in schema.columns]
    files = [(f.path, f.size) for f in meta.data_files]

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # the last timed restore's delivery is still in place
    back = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(bench.target, bench.table)
    )
    with tracer.span("iso.row_hash"):
        h = ctl._with_row_hash(back, cols, schema)
        aggs = [F.bit_xor("_h"), F.count(F.lit(1))]
        if "_len" in h.columns:
            aggs.append(F.sum("_len"))
        h.agg(*aggs).collect()
    with tracer.span("iso.parse"):
        if bench.w.fmt == "csv":
            noop(read_csv(spark, [p for p, _ in files], cfg.mydumper.csv,
                          column_names=cols))
        else:
            noop(read_sql_dump(
                spark, files, cfg.mydumper.character_set,
                num_columns=len(cols), columnar=True, all_files=files,
            ))
    bench.restamp()  # no memoized read plan
    with tracer.span("iso.read_table"):
        noop(ctl.read_table(meta, schema))


def layer_metrics(tracer, log, nproc: int, overhead_s: float) -> dict:
    import spans as S

    summ = S.summarize(tracer.spans)
    per_restore: list[dict] = []
    for rid, by_name in summ.items():
        if not isinstance(rid, int):
            continue
        root = next(
            s for s in tracer.spans if s[4] == rid and s[0] == "restore"
        )
        t0, t1 = root[1], root[2]
        wall = t1 - t0

        def g(name, key="total_s"):
            return by_name.get(name, {}).get(key, 0)

        jobs = log.jobs_between(t0, t1)
        busy = sum(b - a for a, b in log.busy_intervals(t0, t1))
        m = {
            "sources.plan_s": g("sources.plan"),
            "sinks.write_s": g("sinks.write"),
            "sinks.analyze_s": g("sinks.analyze"),
            "pipeline.read_plan_s": g("pipeline.read_plan"),
            "pipeline.plan_cache_hit_ratio": (
                sum(by_name["pipeline.read_plan"]["values"])
                / by_name["pipeline.read_plan"]["calls"]
                if "pipeline.read_plan" in by_name else 0.0
            ),
            "pipeline.verify_s": g("pipeline.restore_table", "self_s"),
            "pipeline.jobs": len(jobs),
            "pipeline.stages": log.stage_totals(jobs)["stages"],
            "pipeline.engines": g("sinks.write", "calls"),
            "pipeline.driver_gap_s": wall - busy,
            "pipeline.slot_util": log.task_seconds(t0, t1) / (wall * nproc),
            "checkpoints.saves": g("checkpoints.save", "calls"),
            "checkpoints.save_s": g("checkpoints.save"),
            "checkpoints.bytes": max(
                by_name.get("checkpoints.save", {}).get("values") or [0]
            ),
        }
        for pname, desc in (("pass1", "sinks.write"),
                            ("pass2", "pipeline.restore_table")):
            tot = log.stage_totals([j for j in jobs if j.description == desc])
            for f in _PASS_FIELDS:
                m[f"spark.{pname}.{f}"] = tot[f]
        m["sinks.bytes_written"], m["sinks.files_written"] = root[5]
        per_restore.append(m)
    out = {k: _median([m[k] for m in per_restore]) for k in per_restore[0]}

    iso = {s[0]: s for s in tracer.spans if s[4] == "isolated"}

    def wall_of(name):
        s = iso[name]
        return s[2] - s[1]

    def iso_jobs(name):
        return log.stage_totals(
            [j for j in log.jobs.values() if j.description == name]
        )

    out["sources.parse_s"] = wall_of("iso.parse")
    out["sources.python_run_s"] = iso_jobs("iso.parse")["python_run_s"]
    out["operators.cast_s"] = wall_of("iso.read_table") - wall_of("iso.parse")
    out["functions.row_hash_s"] = wall_of("iso.row_hash")
    fh = iso_jobs("iso.row_hash")
    out["functions.python_run_s"] = fh["python_run_s"]
    out["functions.python_init_s"] = fh["python_init_s"]
    out["trace.overhead_s"] = overhead_s
    return out


# -- command line -----------------------------------------------------------
def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_proc = process_start_epoch()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import tidb_lightning_release_4_0_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    import gen
    from workloads import WORKLOADS

    w = WORKLOADS[args.workload]
    nproc = os.cpu_count() or 1
    load_before = os.getloadavg()
    run_dir = os.path.join(
        WORK, f"run-{w.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # Python workers import the engine from this checkout; temp files
    # stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # no hsperfdata files from the spark-submit launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None

    spark = start_spark(nproc, run_dir, event_dir)
    try:
        dump = gen.Dump(WORK, w, args.seed, nproc)
        bench = Bench(spark, w, dump, run_dir)
        cold = bench.restore()
        setup_s = time.time() - t_proc - dump.render_s
        bench.expect = dump.expect(spark)
        results = [cold]
        bench.gate(cold)
        warm_until = time.monotonic() + WARMUP_SECONDS
        while time.monotonic() < warm_until:
            results.append(bench.restore())
            bench.gate(results[-1])

        tracer = None
        traced: list[dict] = []
        untraced: list[dict] = []
        if args.trace:
            import spans

            tracer = spans.Tracer(spark)
        deadline = time.monotonic() + args.seconds
        while time.monotonic() < deadline or len(untraced) < MIN_RESTORES:
            # a trace run interleaves untraced and traced restores in
            # ABBA order, so warm-up drift cancels out of the difference
            # of their medians: the tracing overhead
            if tracer is not None and (len(untraced) + len(traced)) % 4 in (
                1, 2
            ):
                tracer.restore_id = len(traced)
                tracer.install()
                try:
                    res = bench.restore(tracer)
                finally:
                    tracer.uninstall()
                root = next(s for s in reversed(tracer.spans)
                            if s[0] == "restore")
                root[5] = (res["stored_bytes"], res["files"])
                traced.append(res)
            else:
                res = bench.restore()
                untraced.append(res)
            bench.gate(res)
            results.append(res)
        if tracer is not None:
            tracer.install()
            try:
                isolated_layers(bench, tracer)
            finally:
                tracer.uninstall()
        rss = vm_hwm_mib(jvm_pid())
    finally:
        stop_spark(spark)
    load_after = os.getloadavg()

    failed = [r for r in results if r["problems"]]
    for r in failed:
        print("perfbench: FAILED restore: " + "; ".join(r["problems"]))
    secs = [r["seconds"] for r in untraced]
    p50 = _median(secs)
    src = dump.manifest["source_bytes"]
    cpu_s_per_mib = _median([r["cpu_s"] for r in untraced]) / (src / MIB)
    record = {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "nproc": nproc, "master": f"local[{nproc}]",
        "loadavg_before": load_before[:2], "loadavg_after": load_after[:2],
        "source_bytes": src, "rows": dump.manifest["rows"],
        "restores_timed": len(secs), "restore_seconds": secs,
        "cold_restore_s": cold["seconds"], "render_s": dump.render_s,
    }
    if args.trace:
        import eventlog

        logs = os.listdir(event_dir)
        log = eventlog.parse_file(os.path.join(event_dir, logs[0]))
        overhead = _median([r["seconds"] for r in traced]) - p50
        values = layer_metrics(tracer, log, nproc, overhead)
        values["process.cpu_s_per_mib"] = cpu_s_per_mib
        units = PER_LAYER
        out_dir = os.path.join(WORK, "trace")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{w.name}-s{args.seed}")
        tracer.dump(stem + ".spans.jsonl")
        record["traced_restore_seconds"] = [r["seconds"] for r in traced]
        record["layers"] = values
    else:
        values = {
            "ingest_mib_s": src / MIB / p50,
            "restore_s.p50": p50,
            "setup_s": setup_s,
            "jvm_peak_rss_mib": rss,
            "stored_bytes_per_source_byte": _median(
                [r["stored_bytes"] for r in untraced]
            ) / src,
        }
        units = END_TO_END
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(
        WORK, "runs", f"{w.name}-s{args.seed}-t{args.trace}.json"
    ), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        with open(stem + ".layers.json", "w") as f:
            json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"perfbench {w.name} seed={args.seed} master=local[{nproc}] "
          f"nproc={nproc} source={src} B rows={dump.manifest['rows']} "
          f"restores={len(secs)} (+{len(traced)} traced, "
          f"+{len(results) - len(secs) - len(traced)} untimed) "
          f"loadavg 1m/5m {load_before[0]:.2f}/{load_before[1]:.2f} -> "
          f"{load_after[0]:.2f}/{load_after[1]:.2f}")
    if not args.trace:
        print(f"  {'(per-layer) process.cpu_s_per_mib':<36} "
              f"{cpu_s_per_mib:>16.6g} s/MiB")
    for k, v in values.items():
        print(f"  {k:<36} {v:>16.6g} {units[k]}")
    print(f"  {'failed_restore_ratio':<36} {len(failed):>12}/{len(results)}"
          " restores")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(results),
        "failed": len(failed),
        "metrics": {
            k: {"value": float(values[k]), "unit": units[k]} for k in units
        },
    }))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
