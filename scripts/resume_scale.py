"""Kill-and-resume at scale (round-9 directive #6): SIGKILL a restore
of the 64x lineitem corpus (~2.4 GiB) MID-ENGINE — a real process
kill, not an injected failpoint — then resume from the checkpoint and
assert the resumed table's kv_crc64 checksum triple (crc_xor, bytes,
kvs) is IDENTICAL to an uninterrupted run's, along with row count and
alloc base. This turns the checkpoint/resume suites' test-scale
guarantee into a measured property at the scale-curve corpus.

Mechanics: the interrupted run executes in a CHILD process (its own
Spark driver JVM) with checkpointing on; the parent polls the
checkpoint JSON until at least one engine chunk reports ALL_WRITTEN
and then delivers SIGKILL to the child's whole process group (driver
+ executors die with no atexit/shutdown hooks — exactly a node
crash). The parent then resumes in its own session, after
ctl-equivalent ignore_error, and compares against a fresh
uninterrupted restore.

Usage: python scripts/resume_scale.py [N] [--fmt csv|jsonl]
       python scripts/resume_scale.py --child CFGJSON   (internal)
(default N=64, fmt=csv). The jsonl lane (r11 directive #7) proves the
BLOCK-grain (path, offset) resume at scale: the corpus is ONE large
line-delimited file split into byte-range blocks (strict_format), so
the kill lands mid-FILE, not just mid-corpus — the r10 proof only
covered the CSV lane; sf0.01's resume_split_jsonl covered the JSONL
grain only at toy scale.
Prints ONE JSON line {"metric": "resume_64x[_jsonl]", ...}; also
appended by hand to docs/SCALE.md.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TMP = os.path.join(REPO, ".tmp", "bench_scale")  # share bench_scale dumps


def _cfg(dump: str, sink: str, cp_path: str, strict: bool = False):
    from tidb_lightning_release_4_0_spark.config import (
        Config,
        CSVConfig,
        MydumperConfig,
    )

    return Config(
        mydumper=MydumperConfig(
            source_dir=dump,
            # 256 MiB engine batches (the mydumper batch-size grain):
            # the 2.4 GiB corpus becomes ~10 engines, so a kill lands
            # genuinely MID-RUN with durable per-engine progress — the
            # default 100 GiB batch would make the corpus one engine
            # and the kill all-or-nothing
            batch_size=256 << 20,
            # strict_format turns on byte-range BLOCK splitting (the
            # jsonl lane: one large file -> (path, offset) chunks)
            csv=CSVConfig(strict_format=strict),
        ),
        backend="parquet",
        target_dir=sink,
        on_duplicate="physical",
        checkpoint_enable=bool(cp_path),
        checkpoint_path=cp_path,
        checksum=True,
        checksum_algo="kv_crc64",
    )


def _run_restore(
    dump: str, sink: str, cp_path: str,
    strict: bool = False, mpb: str = "128m",
) -> dict:
    from tidb_lightning_release_4_0_spark.plans.pipeline import (
        RestoreController,
    )
    from tidb_lightning_release_4_0_spark.session import get_spark

    spark = get_spark(
        app_name="resume-scale",
        shuffle_partitions=CPUS,
        max_partition_bytes=mpb,
    )
    # a pre-existing session ignores builder confs; force the block
    # geometry the lane asked for (single-file block split needs it)
    spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
    spark.sparkContext.setLogLevel("ERROR")
    kw = {}
    if cp_path and os.path.exists(cp_path):
        from tidb_lightning_release_4_0_spark.plans.checkpoints import (
            CheckpointStore,
        )

        cp = CheckpointStore(cp_path)
        cp.ignore_error("all")  # ctl checkpoint-error-ignore analog
        kw["checkpoints"] = cp
    s = RestoreController(
        spark, _cfg(dump, sink, cp_path, strict=strict), **kw
    ).run()
    if not s.ok:
        raise RuntimeError(s.report())
    (name, r), = s.tables.items()
    return {"table": name, "rows": r.rows, "alloc_base": r.alloc_base}


def _sidecar_triple(sink: str, table: str) -> dict:
    """The full-table kv_crc64 triple the pipeline recorded in the sink
    after verification (prior XOR batch on resume — the table's
    checksum, not just this run's engines)."""
    import dataclasses

    from tidb_lightning_release_4_0_spark.plans.pipeline import (
        RestoreController,
    )
    from tidb_lightning_release_4_0_spark.sinks.parquet_sink import (
        ParquetSink,
    )

    tag = ("kv_crc64", RestoreController._CHECKSUM_CODEC_VERSION["kv_crc64"])
    ck = ParquetSink(sink).delivered_checksum(table, tag)
    assert ck is not None, f"no checksum recorded for {table} in {sink}"
    return dataclasses.asdict(ck)


def main() -> None:
    if sys.argv[1:2] == ["--child"]:
        # the victim: restore with checkpoints on until SIGKILLed
        args = json.loads(sys.argv[2])
        os.setsid()  # own process group so the kill takes executors
        _run_restore(
            args["dump"], args["sink"], args["cp"],
            strict=args.get("strict", False),
            mpb=args.get("mpb", "128m"),
        )
        return

    argv = [a for a in sys.argv[1:]]
    fmt = "csv"
    if "--fmt" in argv:
        i = argv.index("--fmt")
        fmt = argv[i + 1]
        del argv[i:i + 2]
    n = int(argv[0]) if argv else 64
    import shutil

    from bench_scale import build_dump, replicate

    from tidb_lightning_release_4_0_spark.plans.checkpoints import (
        CheckpointStore,
        Status,
    )
    from tidb_lightning_release_4_0_spark.session import get_spark

    spark = get_spark(app_name="resume-scale", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    strict = fmt == "jsonl"
    mpb = "32m" if strict else "128m"
    if strict:
        # ONE large JSONL file (n concatenations of sf0.1 orders) so
        # resume must happen at the BLOCK (path, offset) grain: at
        # 32 MiB blocks / 256 MiB engines the ~1 GiB corpus is ~30
        # blocks in ~4 engines, and the SIGKILL lands mid-file
        base = os.path.join(TMP, "orders1x.jsonl")
        if not os.path.exists(base):
            from tidb_lightning_release_4_0_spark.sources.testdata import (
                load_table,
            )

            pdf = (
                load_table(spark, SF_DIR, "orders")
                .select("o_orderkey", "o_custkey", "o_orderpriority")
                .orderBy("o_orderkey")
                .toPandas()
            )
            pdf.to_json(
                base + ".tmp", orient="records", lines=True,
                force_ascii=False,
            )
            os.replace(base + ".tmp", base)
        dump = os.path.join(TMP, f"dump_jsonl{n}x")
        marker = os.path.join(dump, ".complete")
        if not os.path.exists(marker):
            shutil.rmtree(dump, ignore_errors=True)
            os.makedirs(dump)
            with open(
                os.path.join(dump, "tpch-schema-create.sql"), "w"
            ) as f:
                f.write("CREATE DATABASE IF NOT EXISTS `tpch`;\n")
            with open(
                os.path.join(dump, "tpch.orders-schema.sql"), "w"
            ) as f:
                f.write(
                    "CREATE TABLE orders (o_orderkey BIGINT, "
                    "o_custkey BIGINT, o_orderpriority VARCHAR(20));\n"
                )
            with open(os.path.join(dump, "tpch.orders.0001.jsonl"), "wb") as out_f:
                src = open(base, "rb").read()
                for _ in range(n):
                    out_f.write(src)
            open(marker, "w").write("ok")
        nbytes = os.path.getsize(
            os.path.join(dump, "tpch.orders.0001.jsonl")
        )
        n_files = max(nbytes // (32 << 20), 1)  # ~block count
    else:
        base_dump = os.path.join(TMP, "dump1x")
        build_dump(spark, base_dump)
        dump = replicate(base_dump, n)
        nbytes = sum(
            os.path.getsize(os.path.join(dump, f))
            for f in os.listdir(dump)
            if f.endswith(".csv")
        )

    root = os.path.join(REPO, ".tmp", "resume_scale")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    sink_ref = os.path.join(root, "sink_ref")
    sink_kill = os.path.join(root, "sink_kill")
    cp_path = os.path.join(root, "cp.json")

    # 1) uninterrupted reference run (kv_crc64 verification ON)
    t0 = time.monotonic()
    ref = _run_restore(dump, sink_ref, "", strict=strict, mpb=mpb)
    ref_sec = time.monotonic() - t0
    ref_triple = _sidecar_triple(sink_ref, ref["table"])

    # 2) the victim child — SIGKILL after the first engine lands
    child = subprocess.Popen(
        [
            sys.executable,
            os.path.abspath(__file__),
            "--child",
            json.dumps(
                {
                    "dump": dump, "sink": sink_kill, "cp": cp_path,
                    "strict": strict, "mpb": mpb,
                }
            ),
        ],
        cwd=REPO,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    if not strict:
        n_files = sum(
            1 for f in os.listdir(dump) if f.endswith(".csv")
        )
    killed_after = None
    deadline = time.monotonic() + 600
    while time.monotonic() < deadline:
        if child.poll() is not None:
            raise RuntimeError(
                "child finished before the kill — corpus too small or "
                "poll too slow; raise N"
            )
        try:
            cp = CheckpointStore(cp_path)
            done = [
                k
                for k, v in cp.dump()["chunks"].items()
                if v >= Status.ALL_WRITTEN
            ]
        except Exception:
            done = []
        if done:
            killed_after = len(done)
            os.killpg(os.getpgid(child.pid), signal.SIGKILL)
            break
        time.sleep(0.25)
    child.wait()
    assert killed_after, "never saw a completed engine before timeout"
    # the kill must land MID-RUN: some chunks durable, some not
    assert killed_after < n_files, (
        f"kill landed after all {n_files} chunks — not a mid-run kill"
    )
    assert child.returncode != 0  # genuinely killed

    # 3) resume in this process; compare triples
    t0 = time.monotonic()
    res = _run_restore(dump, sink_kill, cp_path, strict=strict, mpb=mpb)
    res_sec = time.monotonic() - t0
    res_triple = _sidecar_triple(sink_kill, res["table"])

    ok = (
        res_triple == ref_triple
        and res["rows"] == ref["rows"]
        and res["alloc_base"] == ref["alloc_base"]
    )
    out = {
        "metric": f"resume_{n}x" + ("_jsonl" if strict else ""),
        "corpus_mib": round(nbytes / (1 << 20), 1),
        "chunks_total": n_files,  # jsonl lane: approx block count
        "chunks_done_at_kill": killed_after,
        "uninterrupted_sec": round(ref_sec, 1),
        "resume_sec": round(res_sec, 1),
        "rows": res["rows"],
        "triple_ref": ref_triple,
        "triple_resumed": res_triple,
        "identical": ok,
    }
    print(json.dumps(out, separators=(",", ":")))
    if not ok:
        raise SystemExit("RESUME TRIPLE MISMATCH")


if __name__ == "__main__":
    main()
