"""Bench harness: headline queries + the full ingest pipeline at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "sf": ..., "mib_per_sec": ...}

Every measurement runs $SPARK_GRAFT_BENCH_REPS times (default 3;
the graded ingest MiB/s metrics use $SPARK_GRAFT_BENCH_INGEST_REPS,
default 5 — medians over more reps absorb this box's multi-x
run-to-run variance where it matters most) and
reports the MEDIAN (per-rep minima in "queries_min") — this box has
multi-x run-to-run variance and a single-shot number can neither
prove a win nor a regression. Each ingest configuration gets its own
untimed warm-up so timed runs measure steady-state throughput.

The ingest benches mirror the reference's primary metric — source
MiB/s through parse -> cast -> write -> checksum
(lightning/restore/restore.go:468-499) — by first rendering the
lineitem table to mydumper CSV/SQL layout, then timing a full
restore of it.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = max(int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")), 1)
# the ingest headline gets extra reps: it is the graded metric and the
# most ambient-noise-sensitive (full parse->write jobs, ~2s each)
IREPS = max(REPS, int(os.environ.get("SPARK_GRAFT_BENCH_INGEST_REPS", "5")))


# Ambient-load governance (round-8 directive #5, threshold LOWERED
# per the round-9 directive): the 1-minute loadavg sampled at
# process START — before our own Spark spins up — is the contention
# indicator for the graded headline. Once the bench is running,
# loadavg mostly measures our own executors, so only the start
# sample distinguishes "this box was already busy" from "this is our
# load". The r8 driver run carried ~15% interference at
# loadavg_start 5.31, below the old cpus/4 = 8 trigger; the r10
# driver run carried a 3x jsonl artifact at loadavg_start 1.84,
# below the old trigger of 2 — so the trigger now sits at the
# measured trust line, loadavg_start > 0.7. When tripped, the graded
# ingest configs get extra reps; additionally, ANY graded ingest
# config whose median-vs-best spread exceeds 10% re-runs two more
# reps (interference made the median unrepresentative — see
# _spread_reps). The flag + samples are reported on the stdout line
# so a graded number can always be read against the load it was
# measured under.
def _settle(
    target: float = 0.7, target5: float = 1.0, timeout: float = 600.0
) -> tuple:
    """Round-10 directives #7/#8, tightened r11 (#2) and r12 (#2):
    bounded pre-section settle — poll the loadavg until the 1-minute
    average drops under ``target`` AND the 5-minute average under
    ``target5``, or the budget runs out. The 1-minute target is the
    MEASURED trust line, not a guess: the r10 graded run started at
    loadavg 1.84 (under the old target 2) and recorded
    ingest_jsonl at 8.45 MiB/s where all three < 0.7-loadavg local
    runs read 23.25-25.25 — a 3x corruption flying "contended:
    false". The 5-minute gate is the r12 fix for the r11 failure
    mode this gate itself certified: a run can pass 1-min < 0.7
    while the box is still draining work from minutes earlier
    (docs/BENCH_NOTES_r11.md run 1: 1-min 0.66, 5-min ~5, ingest
    headline 2.4x low, "contended: false"; the r11 driver run had
    the same fingerprint — 140 s settle wait, then "quiet"). The
    budget grew 300->600 s because the 5-minute average decays with
    a ~5-min time constant; if the box never quiets the graded
    ingest metrics get a SECOND spaced pass merged best-of (see the
    second-pass block in main). Returns (loadavg_1m, loadavg_5m,
    waited_sec, exhausted)."""
    t0 = time.monotonic()
    load = os.getloadavg()
    while (
        (load[0] >= target or load[1] >= target5)
        and time.monotonic() - t0 < timeout
    ):
        time.sleep(5.0)
        load = os.getloadavg()
    waited = time.monotonic() - t0
    return (
        round(load[0], 2),
        round(load[1], 2),
        round(waited, 1),
        load[0] >= target or load[1] >= target5,
    )


# Bounded settle BEFORE sampling the contention indicator (round-10
# directive #8: r9's graded run started at loadavg 8.56 and was
# merely flagged — now we first wait for the box to quiet down, and
# only then grade).
_SETTLE_LOAD, _SETTLE_LOAD5, _SETTLE_WAIT, _SETTLE_EXHAUSTED = _settle()
_LOAD_START = os.getloadavg()
# r12: contention trips on EITHER window — the 1-min line alone
# provably passed contaminated runs two rounds running (see _settle)
CONTENDED = _LOAD_START[0] > 0.7 or _LOAD_START[1] > 1.0
_IREPS_EFF = IREPS + (2 if CONTENDED else 0)


def _ireps(fn) -> list[float]:
    """Graded-config reps: the base rep count (+2 when the box was
    contended at start), then +2 more whenever the median-vs-best
    spread still exceeds 10% (capped at 4 extra so a genuinely noisy
    box terminates) — min-of-reps is the interference control, the
    extra samples make the reported median honest too."""
    ts = [_timed(fn) for _ in range(_IREPS_EFF)]
    extra = 0
    while (
        extra < 4
        and statistics.median(ts) > 1.10 * min(ts)
    ):
        ts.append(_timed(fn))
        extra += 1
    return ts
TMP = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".tmp", "bench")


def _timed(fn) -> float:
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


def _reps(fn) -> list[float]:
    return [_timed(fn) for _ in range(REPS)]


def _med(times: list[float]) -> float:
    return round(statistics.median(times), 3)


def main() -> None:
    from tidb_lightning_release_4_0_spark.session import get_spark
    from tidb_lightning_release_4_0_spark.registry import build_queries

    spark = get_spark(app_name="bench", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    queries = build_queries()
    bench_queries = [
        "checksum_lineitem",
        "pricing_summary",
        "top_orders_by_revenue",
        "filtered_revenue",
        "window_running_total",
        "dedup_exact",
        "dedup_minhash",
        "simhash",
        "text_stats",
        "ann_topk",
        "embedding_dups",
        "quality_filter",
        "dedup_cluster",
        "lm_score",
        "chunk_documents",
        "pii_scrub",
        "dedup_incremental",
        "local_supplier_volume",
        "waiting_suppliers",
        "click_purchase_attribution",
        "hll_distinct_parts",
        "ann_topk_pq",
        "strip_html",
        "url_canonicalize",
        # round 4: the pruned IVF-PQ path and the four heavy TPC-H
        # shapes (Q8/Q9/Q17/Q20 analogs) — previously correctness-only
        "ann_topk_ivfpq",
        "ann_topk_pq_q64",
        "ann_topk_ivfpq_q64",
        "dedup_minhash_xx",
        "market_share",
        "profit_by_nation",
        "small_qty_revenue",
        "excess_shippers",
        # round 5: retrieval scoring + semantic clustering (semantic
        # DEDUP stays correctness-only: its within-cell pairwise step
        # is sized for the oracle corpus, not sf0.1)
        "bm25_topdocs",
        "kmeans_embeddings",
        "bloom_prune_orders",
        # round 5 session 4: data-selection + dedup additions
        "dsir_select_docs",
        "c4_line_filter_docs",
        "simhash_dup_pairs",
        "bigram_lm_score",
        # round 5 session 5: winnowing fingerprint selection (the
        # candidate JOIN stays correctness-only like semantic dedup:
        # it re-derives the fingerprint set, so benching it would
        # mostly re-measure this stage)
        "winnow_fingerprints",
        # round 5 session 6: BPE tokenizer training (8 merge rounds
        # over the word-frequency table; the Jaccard prefix JOIN stays
        # correctness-only — its output is ~3M pairs on this
        # template-heavy synthetic corpus, so benching it measures
        # result materialization, not the operator)
        "bpe_merges",
    ]

    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    # cells that could not run, with the reason (kept in the output so
    # a dropped cell is visible, not just a stderr line)
    skipped: dict[str, str] = {}
    all_ts: dict[str, list] = {}  # raw reps per graded metric
    second_pass_info = None
    # Warm the JVM (codegen, parquet+csv readers, writer pools) on the
    # smallest sf so timings measure steady-state throughput, not
    # first-job class-loading.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = SF_DIR
    queries["alloc_base_orders"](spark, warm_dir).collect()
    queries["checksum_orders"](spark, warm_dir).collect()
    queries["dedup_exact"](spark, warm_dir).count()
    queries["dedup_minhash"](spark, warm_dir).count()
    queries["embedding_dups"](spark, warm_dir).count()

    # The GRADED ingest headline is measured FIRST, while the JVM is
    # freshest: a single bench session accumulates ~45 query
    # measurements plus a cached 50k-vector ANN corpus, and the
    # accumulated heap/GC state was observed to cost the later-run
    # ingest configs up to 3x median wall (same code, uncontended
    # probe right after: 30.3 MiB/s vs 9.6 in-session).
    # ingest bench: render lineitem -> CSV dump once, then restore
    ingest_mibs = ingest_mibs_best = None
    ingest_4x_mibs = ingest_4x_mibs_best = None
    writephase_mibs = writephase_mibs_best = None
    split1_mibs = split1_mibs_best = None
    jsonl_mibs = jsonl_mibs_best = None
    try:
        from tidb_lightning_release_4_0_spark.config import (
            Config,
            MydumperConfig,
        )
        from tidb_lightning_release_4_0_spark.plans.pipeline import (
            RestoreController,
        )
        from tidb_lightning_release_4_0_spark.sources.dump_writer import (
            write_dump_table,
        )
        from tidb_lightning_release_4_0_spark.sources.testdata import load_table

        dump_dir = os.path.join(TMP, "dump")
        sink_dir = os.path.join(TMP, "sink")
        marker = os.path.join(dump_dir, ".complete")
        if not os.path.exists(marker):
            shutil.rmtree(dump_dir, ignore_errors=True)
            li = load_table(spark, SF_DIR, "lineitem").toPandas()
            write_dump_table(
                dump_dir, "tpch", "lineitem", li,
                """CREATE TABLE lineitem (
                  l_orderkey BIGINT NOT NULL, l_partkey BIGINT NOT NULL,
                  l_suppkey BIGINT NOT NULL, l_linenumber INT NOT NULL,
                  l_quantity DOUBLE NOT NULL, l_extendedprice DOUBLE NOT NULL,
                  l_discount DOUBLE NOT NULL, l_tax DOUBLE NOT NULL,
                  l_returnflag VARCHAR(1) NOT NULL,
                  l_linestatus VARCHAR(1) NOT NULL,
                  l_shipdate DATETIME NOT NULL)""",
                fmt="csv", parts=CPUS,
            )
            open(marker, "w").write("ok")
        src_bytes = sum(
            os.path.getsize(os.path.join(dump_dir, f))
            for f in os.listdir(dump_dir)
            if f.endswith(".csv")
        )

        def restore(cfg) -> None:
            shutil.rmtree(cfg.target_dir, ignore_errors=True)
            s = restore.summary = RestoreController(spark, cfg).run()
            if not s.ok:
                raise RuntimeError(s.report())

        cfg = Config(
            mydumper=MydumperConfig(source_dir=dump_dir),
            backend="parquet", target_dir=sink_dir,
            on_duplicate="physical", checkpoint_enable=False, checksum=True,
        )
        # untimed warm-up restore per config: JITs the csv-parse/cast/
        # observe/parquet-write stage shapes so timed runs measure
        # steady-state throughput (what a long-running 100 TB job sees)
        restore(cfg)
        ts = _ireps(lambda: restore(cfg))
        all_ts["ingest_csv_lineitem"] = ts
        timings["ingest_csv_lineitem"] = _med(ts)
        timings_min["ingest_csv_lineitem"] = round(min(ts), 3)
        ingest_mibs = round(src_bytes / _med(ts) / (1 << 20), 2)
        ingest_mibs_best = round(src_bytes / min(ts) / (1 << 20), 2)

        # write-phase-only timing (checksum verification off): the
        # direct comparable to the reference's 28 MiB/s figure, which
        # is its WRITE-phase progress speed (restore.go:491) — its
        # ADMIN CHECKSUM phase is separate
        cfg_w = Config(
            mydumper=MydumperConfig(source_dir=dump_dir),
            backend="parquet", target_dir=sink_dir,
            on_duplicate="physical", checkpoint_enable=False, checksum=False,
            analyze=False,  # isolate the write phase (restore.go:491)
        )
        restore(cfg_w)  # own warm-up: different plan shape (no observe hash)
        ts = _ireps(lambda: restore(cfg_w))
        all_ts["ingest_csv_writephase"] = ts
        timings["ingest_csv_writephase"] = _med(ts)
        timings_min["ingest_csv_writephase"] = round(min(ts), 3)
        writephase_mibs = round(src_bytes / _med(ts) / (1 << 20), 2)
        writephase_mibs_best = round(src_bytes / min(ts) / (1 << 20), 2)

        # S3 path: mydumper .sql dump of orders (Python lexer fan-out)
        sql_dump_dir = os.path.join(TMP, "dump_sql")
        sql_sink_dir = os.path.join(TMP, "sink_sql")
        if not os.path.exists(os.path.join(sql_dump_dir, ".complete")):
            shutil.rmtree(sql_dump_dir, ignore_errors=True)
            od = load_table(spark, SF_DIR, "orders").toPandas()
            write_dump_table(
                sql_dump_dir, "tpch", "orders", od,
                """CREATE TABLE orders (
                  o_orderkey BIGINT PRIMARY KEY, o_custkey BIGINT,
                  o_orderstatus VARCHAR(1), o_totalprice DOUBLE,
                  o_orderdate DATETIME, o_orderpriority VARCHAR(20))""",
                fmt="sql", parts=CPUS,
            )
            open(os.path.join(sql_dump_dir, ".complete"), "w").write("ok")
        cfg2 = Config(
            mydumper=MydumperConfig(source_dir=sql_dump_dir),
            backend="parquet", target_dir=sql_sink_dir,
            on_duplicate="physical", checkpoint_enable=False, checksum=True,
        )
        restore(cfg2)  # untimed warm-up
        ts = _reps(lambda: restore(cfg2))
        all_ts["ingest_sql_orders"] = ts
        timings["ingest_sql_orders"] = _med(ts)
        timings_min["ingest_sql_orders"] = round(min(ts), 3)

        # JSONL dump parts (the training-data handoff format) through
        # the same restore: named-field parse -> cast ladder -> write
        jl_dump = os.path.join(TMP, "dump_jsonl")
        jl_sink = os.path.join(TMP, "sink_jsonl")
        if not os.path.exists(os.path.join(jl_dump, ".complete")):
            shutil.rmtree(jl_dump, ignore_errors=True)
            os.makedirs(jl_dump)
            import numpy as np

            od = load_table(spark, SF_DIR, "orders").toPandas()
            od["o_orderdate"] = od["o_orderdate"].astype(str)
            with open(
                os.path.join(jl_dump, "tpch-schema-create.sql"), "w"
            ) as f:
                f.write("CREATE DATABASE IF NOT EXISTS `tpch`;\n")
            with open(
                os.path.join(jl_dump, "tpch.orders-schema.sql"), "w"
            ) as f:
                f.write(
                    "CREATE TABLE orders ("
                    "o_orderkey BIGINT PRIMARY KEY, o_custkey BIGINT,"
                    "o_orderstatus VARCHAR(1), o_totalprice DOUBLE,"
                    "o_orderdate DATETIME, o_orderpriority VARCHAR(20));\n"
                )
            for pi, idx in enumerate(
                np.array_split(np.arange(len(od)), CPUS)
            ):
                od.iloc[idx].to_json(
                    os.path.join(
                        jl_dump, f"tpch.orders.{pi:04d}.jsonl"
                    ),
                    orient="records", lines=True, force_ascii=False,
                )
            open(os.path.join(jl_dump, ".complete"), "w").write("ok")
        jl_bytes = sum(
            os.path.getsize(os.path.join(jl_dump, f))
            for f in os.listdir(jl_dump)
            if f.endswith(".jsonl")
        )
        cfg_jl = Config(
            mydumper=MydumperConfig(source_dir=jl_dump),
            backend="parquet", target_dir=jl_sink,
            on_duplicate="physical", checkpoint_enable=False, checksum=True,
        )
        restore(cfg_jl)  # untimed warm-up (new plan shape)
        ts = _ireps(lambda: restore(cfg_jl))
        all_ts["ingest_jsonl_orders"] = ts
        timings["ingest_jsonl_orders"] = _med(ts)
        timings_min["ingest_jsonl_orders"] = round(min(ts), 3)
        jsonl_mibs = round(jl_bytes / _med(ts) / (1 << 20), 2)
        jsonl_mibs_best = round(jl_bytes / min(ts) / (1 << 20), 2)

        # scale evidence: 4x the CSV corpus (~150 MB at sf0.1) —
        # shows fixed per-job costs amortizing (docs/SCALE.md)
        big_dump = os.path.join(TMP, "dump4x")
        big_sink = os.path.join(TMP, "sink4x")
        if not os.path.exists(os.path.join(big_dump, ".complete")):
            shutil.rmtree(big_dump, ignore_errors=True)
            os.makedirs(big_dump)
            import glob

            for f in glob.glob(os.path.join(dump_dir, "*")):
                base = os.path.basename(f)
                if base.endswith(".csv"):
                    # keep the {db}.{table}.{part} naming: new numeric
                    # part ids so the classifier maps all copies to
                    # the same table
                    stem, part = base[: -len(".csv")].rsplit(".", 1)
                    for rep in range(4):
                        os.link(
                            f,
                            os.path.join(
                                big_dump, f"{stem}.{rep}{part}.csv"
                            ),
                        )
                elif base != ".complete":
                    shutil.copy(f, os.path.join(big_dump, base))
            open(os.path.join(big_dump, ".complete"), "w").write("ok")
        big_bytes = sum(
            os.path.getsize(os.path.join(big_dump, f))
            for f in os.listdir(big_dump)
            if f.endswith(".csv")
        )
        cfg3 = Config(
            mydumper=MydumperConfig(source_dir=big_dump),
            backend="parquet", target_dir=big_sink,
            on_duplicate="physical", checkpoint_enable=False, checksum=True,
        )
        ts = _ireps(lambda: restore(cfg3))  # warm from the 1x runs
        all_ts["ingest_csv_4x"] = ts
        timings["ingest_csv_4x"] = _med(ts)
        timings_min["ingest_csv_4x"] = round(min(ts), 3)
        ingest_4x_mibs = round(big_bytes / _med(ts) / (1 << 20), 2)
        ingest_4x_mibs_best = round(big_bytes / min(ts) / (1 << 20), 2)

        # strict-format single-file ingest: the WHOLE lineitem corpus
        # as ONE CSV file, chunk-split into byte-range blocks
        # (multiLine=false + offset/divisor row-id bases) — the case
        # that previously serialized on one task per file. Block
        # count, not size, is what matters: a real 100 TB corpus uses
        # the default 128-256 MiB blocks; locally the rule is >= 1.5
        # blocks per core so stragglers overlap (measured at this
        # corpus: 18.7 MiB/s at 2 MiB/19 tasks, 21.7 at 1 MiB/38,
        # 23.5 at 768 KiB/50, flat below — 0.6 tasks/core leaves 40%
        # of the box idle)
        from tidb_lightning_release_4_0_spark.config import CSVConfig

        one_dump = os.path.join(TMP, "dump1file")
        one_sink = os.path.join(TMP, "sink1file")
        if not os.path.exists(os.path.join(one_dump, ".complete")):
            shutil.rmtree(one_dump, ignore_errors=True)
            os.makedirs(one_dump)
            import glob

            parts = sorted(glob.glob(os.path.join(dump_dir, "*.csv")))
            with open(
                os.path.join(one_dump, "tpch.lineitem.csv"), "wb"
            ) as out:
                for f in parts:
                    with open(f, "rb") as src:
                        shutil.copyfileobj(src, out)
            for f in glob.glob(os.path.join(dump_dir, "*-schema*.sql")):
                shutil.copy(f, one_dump)
            open(os.path.join(one_dump, ".complete"), "w").write("ok")
        one_bytes = os.path.getsize(
            os.path.join(one_dump, "tpch.lineitem.csv")
        )
        cfg1f = Config(
            mydumper=MydumperConfig(
                source_dir=one_dump, csv=CSVConfig(strict_format=True)
            ),
            backend="parquet", target_dir=one_sink,
            on_duplicate="physical", checkpoint_enable=False, checksum=True,
        )
        old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
        block = max((one_bytes // (CPUS * 3 // 2)) // 1024 * 1024, 64 << 10)
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(block))
        try:
            restore(cfg1f)  # untimed warm-up (new plan shape)
            ts = _ireps(lambda: restore(cfg1f))
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        all_ts["ingest_csv_split1file"] = ts
        timings["ingest_csv_split1file"] = _med(ts)
        timings_min["ingest_csv_split1file"] = round(min(ts), 3)
        split1_mibs = round(one_bytes / _med(ts) / (1 << 20), 2)
        split1_mibs_best = round(one_bytes / min(ts) / (1 << 20), 2)

        # r11 directive #2: if the pre-run settle EXHAUSTED (the box
        # never dropped under the 0.7 trust line), a single pass is
        # not gradable — r10's own record shows a loadavg-1.84 start
        # corrupting one metric 3x while flying "contended: false".
        # Grade best-of across a SECOND spaced pass: settle again
        # (bounded), then 2 more reps of every graded ingest config,
        # merged into the rep pools before the headline MiB/s are
        # derived.
        if _SETTLE_EXHAUSTED:
            gap_load, gap_load5, gap_wait, gap_exh = _settle()

            def _split1_restore() -> None:
                prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
                spark.conf.set(
                    "spark.sql.files.maxPartitionBytes", str(block)
                )
                try:
                    restore(cfg1f)
                finally:
                    spark.conf.set(
                        "spark.sql.files.maxPartitionBytes", prev
                    )

            rerun = [
                ("ingest_csv_lineitem", lambda: restore(cfg)),
                ("ingest_csv_writephase", lambda: restore(cfg_w)),
                ("ingest_sql_orders", lambda: restore(cfg2)),
                ("ingest_jsonl_orders", lambda: restore(cfg_jl)),
                ("ingest_csv_4x", lambda: restore(cfg3)),
                ("ingest_csv_split1file", _split1_restore),
            ]
            for mname, fn in rerun:
                merged = all_ts.get(mname, []) + [
                    _timed(fn) for _ in range(2)
                ]
                all_ts[mname] = merged
                timings[mname] = _med(merged)
                timings_min[mname] = round(min(merged), 3)
            ingest_mibs = round(
                src_bytes / timings["ingest_csv_lineitem"] / (1 << 20), 2
            )
            ingest_mibs_best = round(
                src_bytes / timings_min["ingest_csv_lineitem"] / (1 << 20),
                2,
            )
            writephase_mibs = round(
                src_bytes / timings["ingest_csv_writephase"] / (1 << 20), 2
            )
            writephase_mibs_best = round(
                src_bytes / timings_min["ingest_csv_writephase"]
                / (1 << 20),
                2,
            )
            jsonl_mibs = round(
                jl_bytes / timings["ingest_jsonl_orders"] / (1 << 20), 2
            )
            jsonl_mibs_best = round(
                jl_bytes / timings_min["ingest_jsonl_orders"] / (1 << 20),
                2,
            )
            ingest_4x_mibs = round(
                big_bytes / timings["ingest_csv_4x"] / (1 << 20), 2
            )
            ingest_4x_mibs_best = round(
                big_bytes / timings_min["ingest_csv_4x"] / (1 << 20), 2
            )
            split1_mibs = round(
                one_bytes / timings["ingest_csv_split1file"] / (1 << 20), 2
            )
            split1_mibs_best = round(
                one_bytes / timings_min["ingest_csv_split1file"]
                / (1 << 20),
                2,
            )
            second_pass_info = {
                "gap_load": gap_load,
                "gap_load_5m": gap_load5,
                "gap_wait_sec": gap_wait,
                "gap_exhausted": gap_exh,
                "extra_reps": 2,
            }
    except Exception as e:  # bench must still emit its JSON line
        print(f"ingest bench failed: {e}", file=sys.stderr)
        timings.setdefault("ingest_csv_lineitem", -1.0)
    # reference-parity KV checksum (numpy kernel): crc64-ECMA over the
    # exact TiKV record+index KV bytes of lineitem (2 secondary
    # indexes), XOR-merged — the C1 aggregate at full parity
    try:
        from pyspark.sql import functions as F

        from tidb_lightning_release_4_0_spark.functions.kv_codec import (
            kv_hash_columns,
        )
        from tidb_lightning_release_4_0_spark.sources.testdata import (
            load_table,
        )

        li = load_table(spark, SF_DIR, "lineitem").repartition(CPUS)
        li = li.withColumn(
            "_rid", F.monotonically_increasing_id() + 1
        )
        kv_cols = [c for c in li.columns if c != "_rid"]
        kv_idx = [
            (1, ["l_partkey"], False),
            (2, ["l_orderkey", "l_linenumber"], True),
        ]

        def _kv_checksum():
            pair = kv_hash_columns(li, kv_cols, "_rid", indexes=kv_idx)
            li.select(pair.alias("p")).agg(
                F.bit_xor("p.h"), F.sum("p.n"), F.count(F.lit(1))
            ).collect()

        _kv_checksum()  # warm-up (kernel import + plan shape)
        ts = _reps(_kv_checksum)
        timings["kv_crc64_checksum_lineitem"] = _med(ts)
        timings_min["kv_crc64_checksum_lineitem"] = round(min(ts), 3)

        # DECIMAL-heavy variant (real MySQL tables are decimal-heavy):
        # four DECIMAL(18,2) value columns + a decimal index key ride
        # the vectorized myDecimal packer (unscaled-int64 ship; the
        # object fallback measured ~1.4x slower end-to-end on this
        # exact shape, docs/BENCH_NOTES_r8.md)
        dec = li.select(
            "_rid",
            F.col("l_quantity").cast("decimal(18,2)").alias("d1"),
            F.col("l_extendedprice").cast("decimal(18,2)").alias("d2"),
            F.col("l_discount").cast("decimal(18,2)").alias("d3"),
            F.col("l_tax").cast("decimal(18,2)").alias("d4"),
        )

        def _kv_checksum_dec():
            pair = kv_hash_columns(
                dec, ["d1", "d2", "d3", "d4"], "_rid",
                indexes=[(1, ["d2"], False)],
            )
            dec.select(pair.alias("p")).agg(
                F.bit_xor("p.h"), F.sum("p.n"), F.count(F.lit(1))
            ).collect()

        _kv_checksum_dec()  # warm-up
        ts = _reps(_kv_checksum_dec)
        timings["kv_crc64_checksum_decimal"] = _med(ts)
        timings_min["kv_crc64_checksum_decimal"] = round(min(ts), 3)
    except Exception as e:
        print(f"# kv checksum bench skipped: {e}", file=sys.stderr)

    # index-ENGINE checksum e2e on the reference's canonical dataset:
    # restore the 10k-row tbl_multi_index example dump (no PK ->
    # _tidb_rowid, uint kind, 2 secondary indexes) under the full
    # data+index kv_crc64 — pins the T6+T8 path's latency in the
    # bench record (round-8 directive #8); the triple itself is
    # golden-pinned in tests/test_multi_index_examples.py
    try:
        from tidb_lightning_release_4_0_spark.config import (
            Config as _Cfg,
            MydumperConfig as _MCfg,
        )
        from tidb_lightning_release_4_0_spark.plans.pipeline import (
            RestoreController as _RC,
        )

        ex = "/root/reference/lightning/mydump/examples"
        mi_dump = os.path.join(TMP, "multi_index_dump")
        if not os.path.isdir(mi_dump) and not os.path.isdir(ex):
            raise FileNotFoundError(f"example dumps not found at {ex}")
        if not os.path.isdir(mi_dump):
            os.makedirs(mi_dump)
            for f in (
                "metadata",
                "mocker_test-schema-create.sql",
                "mocker_test.tbl_multi_index-schema.sql",
                "mocker_test.tbl_multi_index.sql",
            ):
                shutil.copy(os.path.join(ex, f), mi_dump)
        mi_sink = os.path.join(TMP, "multi_index_sink")
        mi_cfg = _Cfg(
            mydumper=_MCfg(source_dir=mi_dump),
            backend="parquet", target_dir=mi_sink,
            on_duplicate="physical", checkpoint_enable=False,
            checksum=True, checksum_algo="kv_crc64",
        )

        def _mi_restore() -> None:
            shutil.rmtree(mi_sink, ignore_errors=True)
            s = _RC(spark, mi_cfg).run()
            if not s.ok:
                raise RuntimeError(s.report())

        _mi_restore()  # warm-up
        ts = _reps(_mi_restore)
        timings["restore_multi_index_kv"] = _med(ts)
        timings_min["restore_multi_index_kv"] = round(min(ts), 3)
    except Exception as e:
        skipped["restore_multi_index_kv"] = str(e)
        print(f"# multi-index kv bench skipped: {e}", file=sys.stderr)

    # the ANN family gets the 5-rep treatment too: r6 recorded
    # +14..79% swings on UNCHANGED code paths (ann50k_pq_q64 4.6s vs
    # 2.6s in r5) — the highest-variance queries in the suite, so
    # medians over 3 reps could not separate box noise from
    # regression (VERDICT r6 "what's wrong" #1)
    _HIGH_VARIANCE = {
        "ann_topk_ivfpq", "ann_topk_pq", "ann_topk_pq_q64",
        "ann_topk_ivfpq_q64",
    }
    # Round-10 directive #7: the 5+ ingest headline reps heat the box
    # (r9-local: loadavg 0.27 -> 8.69 across the run) and the query
    # tail then measured ~1.25x slower on UNTOUCHED code than
    # r8-local. Keep the r8-sanctioned ingest-first order (JVM
    # freshness for the graded headline) but insert a bounded settle
    # gap before the tail and record the tail's own loadavg so
    # per-section conditions are on the line. After the gap, re-warm
    # UNTIMED: the first run with a System.gc() in the gap measured a
    # decaying cold transient across the first ~10 tail entries
    # (simhash 10.5 s in-session vs 1.4 s in a fresh session), so the
    # gap must be followed by warm work, and no explicit GC.
    tail_load, tail_load5, tail_wait, _ = _settle()
    # ADVICE r10 #3: resolve the re-warm query fns OUTSIDE the guard
    # so a renamed registry entry fails loudly (a swallowed KeyError
    # would silently turn the re-warm into a no-op and the tail would
    # regain the cold-transient bias the gap exists to fix); only the
    # execution itself is guarded.
    _warm_fns = [
        queries[wname]
        for wname in ("checksum_lineitem", "simhash", "text_stats")
    ]
    for _wf in _warm_fns:
        try:
            _wf(spark, SF_DIR).count()
        except Exception as we:
            print(f"tail re-warm failed: {we}", file=sys.stderr)
    for name in bench_queries:
        rep = _ireps if name in _HIGH_VARIANCE else _reps
        ts = rep(lambda: queries[name](spark, SF_DIR).count())
        timings[name] = _med(ts)
        timings_min[name] = round(min(ts), 3)

    # ANN at bench scale: a 50k-vector corpus (25 deterministic
    # jittered replicas of the embeddings table, cached) where the
    # candidate-set pruning pays WALL-CLOCK, not just pair counts —
    # the 2k-vector registry corpus is fixed-cost-bound. Both sides
    # use the Arrow/BLAS encode (encode="numpy", similarity.py
    # _np_corpus_encode) so the comparison isolates the IVF pruning.
    try:
        from pyspark.sql import functions as F

        import tidb_lightning_release_4_0_spark.operators.similarity as SIM

        sf_tag = os.path.basename(SF_DIR.rstrip("/")) or "sf"
        ann_dir = os.path.join(TMP, f"ann50k_{sf_tag}.parquet")
        if not os.path.isdir(ann_dir):
            emb = spark.read.parquet(
                os.path.join(SF_DIR, "embeddings.parquet")
            )
            reps = spark.range(25).toDF("rep")
            big = emb.crossJoin(reps).select(
                (F.col("vec_id") * 25 + F.col("rep")).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x, i: (
                        x
                        + (
                            F.pmod(
                                F.hash(
                                    F.col("vec_id") * 25 + F.col("rep"),
                                    i,
                                ),
                                F.lit(1000),
                            )
                            - 500
                        )
                        / 100000.0
                    ).cast("float"),
                ).alias("embedding"),
            )
            big.write.mode("overwrite").parquet(ann_dir)
        ann_corpus = spark.read.parquet(ann_dir)
        ann_q = ann_corpus.filter(F.col("vec_id") < 64)
        # warm both paths once
        SIM.ann_topk_pq(
            ann_q.limit(3), ann_corpus.limit(1000), k=5, encode="numpy"
        ).count()
        ts = _ireps(
            lambda: SIM.ann_topk_pq(
                ann_q, ann_corpus, k=5, encode="numpy"
            ).count()
        )
        timings["ann50k_pq_q64"] = _med(ts)
        timings_min["ann50k_pq_q64"] = round(min(ts), 3)
        ts = _ireps(
            lambda: SIM.ann_topk_ivfpq(
                ann_q,
                ann_corpus,
                k=5,
                n_cells=32,
                n_probe=2,
                encode="numpy",
            ).count()
        )
        timings["ann50k_ivfpq_q64"] = _med(ts)
        timings_min["ann50k_ivfpq_q64"] = round(min(ts), 3)
    except Exception as e:  # bench must not die on the extra corpus
        print(f"# ann50k bench skipped: {e}", file=sys.stderr)


    total = round(sum(v for v in timings.values() if v > 0), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    detail = {
        "metric": "headline_queries_plus_ingest_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min": timings_min,
        "skipped": skipped,
        "reps": REPS,
        # reps for the two GRADED lineitem configs only; all
        # other ingest metrics use "reps" (auto-raised by 2 when the
        # box was contended at start)
        "ingest_headline_reps": _IREPS_EFF,
        # contention indicator: 1-min loadavg before our Spark
        # started / at exit, and the derived flag; r12 adds the
        # 5-minute window (a quiet 1-min average with a hot 5-min
        # average means the box is still draining earlier work —
        # the exact mode that corrupted the r10/r11 graded runs)
        "loadavg_start": round(_LOAD_START[0], 2),
        "loadavg_start_5m": round(_LOAD_START[1], 2),
        "loadavg_end": round(os.getloadavg()[0], 2),
        "contended": CONTENDED,
        # round-10 settle governance: pre-run bounded wait (#8) and
        # the query tail's own post-gap loadavg (#7)
        "settle_wait_sec": _SETTLE_WAIT,
        "settle_exhausted": _SETTLE_EXHAUSTED,
        # r11 directive #2: when the settle exhausted, the graded
        # ingest metrics are best-of TWO spaced passes (details here)
        "second_pass": second_pass_info,
        "loadavg_tail_start": tail_load,
        "loadavg_tail_start_5m": tail_load5,
        "tail_settle_wait_sec": tail_wait,
        "sf": float(sf),
        # THE GRADED HEADLINE now carries best-of-reps (round-9
        # directive: min-of-reps is the standard interference
        # control; the r7/r8 drift was ambient load, not code). The
        # median stays alongside as *_median for drift diagnosis.
        # ADVICE r9 #2: the key's meaning changed in r9 (r1-r8
        # records carry the median) — stamp the policy so historical
        # bench_detail.json comparisons attribute the jump to the
        # metric redefinition, not a performance win.
        "ingest_metric_policy": "best_of_reps since r9 (median r1-r8)",
        "ingest_mib_per_sec": ingest_mibs_best,
        "ingest_mib_per_sec_median": ingest_mibs,
        "ingest_4x_mib_per_sec": ingest_4x_mibs,
        "ingest_writephase_mib_per_sec": writephase_mibs,
        "ingest_split1file_mib_per_sec": split1_mibs,
        "ingest_jsonl_mib_per_sec": jsonl_mibs,
        # best-of-reps variants: run-level ambient noise on a
        # shared host swings the median ~1.6x between
        # back-to-back runs of identical code (observed
        # 16.5-26.9 MiB/s write-phase across 5 runs, r5);
        # min-of-reps is the standard interference control
        "ingest_mib_per_sec_best": ingest_mibs_best,
        "ingest_4x_mib_per_sec_best": ingest_4x_mibs_best,
        "ingest_writephase_mib_per_sec_best": writephase_mibs_best,
        "ingest_split1file_mib_per_sec_best": split1_mibs_best,
        "ingest_jsonl_mib_per_sec_best": jsonl_mibs_best,
    }
    # Full detail goes to a sidecar file; stdout carries ONE compact
    # JSON line that must fit inside the driver's 2000-char stdout
    # tail (BENCH_r5/r6 recorded "parsed": null because the verbose
    # line overflowed the tail and lost its opening brace).
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_detail.json"), "w"
    ) as f:
        json.dump(detail, f, indent=1)
    line_fields = {
        k: detail[k]
        for k in (
            "metric", "value", "unit", "queries", "skipped", "sf",
            "ingest_mib_per_sec", "ingest_mib_per_sec_median",
            "ingest_4x_mib_per_sec",
            "ingest_writephase_mib_per_sec",
            "ingest_split1file_mib_per_sec", "ingest_jsonl_mib_per_sec",
            "ingest_mib_per_sec_best",
            "loadavg_start", "loadavg_start_5m", "loadavg_end",
            "contended", "settle_wait_sec", "settle_exhausted",
            "loadavg_tail_start", "loadavg_tail_start_5m",
            "tail_settle_wait_sec", "second_pass",
        )
    }
    line = json.dumps(line_fields, separators=(",", ":"))
    if len(line) > 1900:  # trim per-query precision until it fits
        line_fields["queries"] = {
            k: round(v, 2) for k, v in timings.items()
        }
        line = json.dumps(line_fields, separators=(",", ":"))
    while len(line) > 1900 and line_fields["queries"]:
        # last resort: drop the cheapest queries from the stdout line
        # (they stay in bench_detail.json); keeps the graded ingest
        # metrics and the expensive queries parseable
        drop = min(line_fields["queries"], key=line_fields["queries"].get)
        del line_fields["queries"][drop]
        line = json.dumps(line_fields, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
