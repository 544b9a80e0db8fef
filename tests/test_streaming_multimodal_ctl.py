"""Streaming twins, multimodal plumbing, and ctl CLI."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from pyspark.sql import functions as F

from tidb_lightning_release_4_0_spark.operators.multimodal import (
    attach_media_metadata,
    decode_features,
)
from tidb_lightning_release_4_0_spark.streaming.events import (
    sessionize,
    stream_events,
    streaming_checksum,
    windowed_counts,
)

TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "stream"
)


def _events_json_dir(spark, tables) -> str:
    d = os.path.join(TMP, "events_json")
    shutil.rmtree(d, ignore_errors=True)
    tables["events"].coalesce(2).write.json(d)
    return d


def test_streaming_windowed_counts_match_batch(spark, tables):
    """Streaming result over a static source == the batch twin
    (the golden-equivalence strategy, SURVEY.md §5)."""
    src = _events_json_dir(spark, tables)
    stream = stream_events(spark, src)
    assert stream.isStreaming
    agg = windowed_counts(stream, window="1 hour")
    out_dir = os.path.join(TMP, "sink_counts")
    cp_dir = os.path.join(TMP, "cp_counts")
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(cp_dir, ignore_errors=True)
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    batch = (
        tables["events"]
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    # watermark append-mode emits only closed windows; every emitted
    # window must match the batch result exactly
    j = got.alias("g").join(
        batch.alias("b"),
        (F.col("g.window_start") == F.col("b.window_start"))
        & (F.col("g.event_type") == F.col("b.event_type")),
    )
    assert got.count() > 0
    mismatches = j.filter(
        (F.col("g.n") != F.col("b.n"))
        | (F.abs(F.col("g.sum_value") - F.col("b.sum_value")) > 1e-9)
    ).count()
    assert mismatches == 0
    assert j.count() == got.count()  # every streamed window exists in batch


def test_streaming_checksum_monoid(spark, tables):
    src = _events_json_dir(spark, tables)
    stream = stream_events(spark, src, max_files_per_trigger=1)
    cp_dir = os.path.join(TMP, "cp_cksum")
    shutil.rmtree(cp_dir, ignore_errors=True)
    out: list = []
    q = streaming_checksum(stream, cp_dir, out)
    q.awaitTermination(120)
    assert out, "no checksum batches observed"
    total = out[-1]
    assert total.total_kvs == tables["events"].count()


def test_sessionize_batch(spark, tables):
    """session_window over the static frame (batch mode works too)."""
    s = sessionize(tables["events"], gap="30 minutes")
    n_sessions = s.count()
    n_users = tables["events"].select("user_id").distinct().count()
    assert n_sessions >= n_users  # at least one session per active user
    row = s.agg(F.sum("n_events")).collect()[0]
    assert row[0] == tables["events"].count()


def test_multimodal_plumbing(spark):
    """r11: the stub default is retired — decode_features runs the
    real BMP codec by default, so feed it real BMP payloads."""
    import numpy as np

    from tidb_lightning_release_4_0_spark.operators.multimodal import (
        encode_bmp_rgb,
    )

    rng = np.random.default_rng(0)
    payloads = [
        encode_bmp_rgb(
            rng.integers(0, 256, size=(3 + i % 4, 5 + i % 3, 3)).astype(
                np.uint8
            )
        )
        for i in range(20)
    ]
    pdf = spark.createDataFrame(
        [(i, payloads[i]) for i in range(20)],
        "doc_id long, payload binary",
    )
    with_meta = attach_media_metadata(pdf)
    metas = with_meta.select("media_meta.*").collect()
    assert all(16 <= r["width"] <= 527 for r in metas)
    assert [r["n_bytes"] for r in metas] == [len(b) for b in payloads]

    feats = {r["id"]: r for r in decode_features(with_meta).collect()}
    assert len(feats) == 20
    assert all(len(r["feature"]) == 16 for r in feats.values())
    for i in range(20):
        assert feats[i]["height"] == 3 + i % 4
        assert feats[i]["width"] == 5 + i % 3
        assert feats[i]["channels"] == 3
    # deterministic: same payload -> same feature
    feats2 = {r["id"]: r for r in decode_features(with_meta).collect()}
    assert feats[0]["feature"] == feats2[0]["feature"]


def test_ctl_cli(tmp_path):
    cp_path = os.path.join(TMP, "ctl_cp.json")
    os.makedirs(TMP, exist_ok=True)
    from tidb_lightning_release_4_0_spark.plans.checkpoints import (
        CheckpointStore,
        Status,
    )

    cp = CheckpointStore(cp_path)
    cp.set_table_status("db.good", Status.ANALYZED)
    cp.set_table_status("db.bad", 3)  # invalid LOADED/10

    def run(*args):
        return subprocess.run(
            [sys.executable, "ctl.py", *args],
            capture_output=True, text=True, cwd="/root/repo",
        )

    out = run("checkpoint-dump", "--checkpoint", cp_path)
    assert out.returncode == 0
    assert json.loads(out.stdout)["tables"]["db.good"]["status"] == 210

    out = run("checkpoint-error-ignore", "--checkpoint", cp_path)
    assert out.returncode == 0
    assert CheckpointStore(cp_path).table_status("db.bad") == 30

    out = run(
        "checkpoint-remove", "--checkpoint", cp_path, "--table", "db.bad"
    )
    assert out.returncode == 0
    st = CheckpointStore(cp_path)
    assert st.table_status("db.bad") == 0
    assert st.table_status("db.good") == 210


def test_stateful_user_stats_matches_batch(spark, tables):
    """applyInPandasWithState running per-user totals: the last
    emitted row per user must equal the batch groupBy."""
    from tidb_lightning_release_4_0_spark.streaming.events import (
        stateful_user_stats,
    )

    src = _events_json_dir(spark, tables)
    stream = stream_events(spark, src, max_files_per_trigger=1)
    cp_dir = os.path.join(TMP, "cp_state")
    shutil.rmtree(cp_dir, ignore_errors=True)
    q = (
        stateful_user_stats(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("user_stats_updates")
        .option("checkpointLocation", cp_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.table("user_stats_updates")
    # keep each user's final update (max n_events)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        got.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_rn")
    )
    # batch twin over the SAME json files (the json round-trip
    # truncates timestamps to millis — source fidelity, not operator
    # semantics)
    from tidb_lightning_release_4_0_spark.streaming.events import (
        EVENTS_SCHEMA,
    )

    batch = (
        spark.read.schema(EVENTS_SCHEMA)
        .json(src)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("b_n"),
            F.sum(F.col("value")).alias("b_sum"),
            (F.unix_micros(F.max("ts"))).alias("b_last"),
        )
    )
    j = final.join(batch, "user_id")
    assert j.count() == batch.count()
    bad = j.filter(
        (F.col("n_events") != F.col("b_n"))
        | (F.abs(F.col("value_sum") - F.col("b_sum")) > 1e-6)
        | (F.col("last_ts_us") != F.col("b_last"))
    ).count()
    assert bad == 0


def test_streaming_dedup_within_watermark(spark, tables):
    """Streaming exact dedup with bounded state: a source containing
    duplicated events drains to exactly the batch-distinct multiset."""
    from tidb_lightning_release_4_0_spark.streaming.events import (
        dedup_within_watermark,
    )

    d = os.path.join(TMP, "events_dup_json")
    shutil.rmtree(d, ignore_errors=True)
    ev = tables["events"].limit(2000)
    ev.unionAll(ev).coalesce(2).write.json(d)  # every event twice

    stream = stream_events(spark, d)
    deduped = dedup_within_watermark(stream, ["user_id", "event_id"])
    out_dir = os.path.join(TMP, "sink_dedup")
    cp_dir = os.path.join(TMP, "cp_dedup")
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(cp_dir, ignore_errors=True)
    q = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    assert got.count() == ev.count()
    assert (
        got.groupBy("user_id", "event_id").count().filter("count > 1").count()
        == 0
    )


def test_ctl_sqlite_store(tmp_path):
    """ctl maintenance works against the SQL checkpoint store via the
    sqlite:PATH spec (reference ctl supports the mysql driver too)."""
    import json as _json
    import sqlite3
    import subprocess
    import sys as _sys

    from tidb_lightning_release_4_0_spark.plans.checkpoints import (
        SQLCheckpointStore,
        Status,
    )

    db = str(tmp_path / "cp.sqlite")
    store = SQLCheckpointStore(
        lambda: sqlite3.connect(db, check_same_thread=False)
    )
    store.set_table_status("d.t", Status.CHECKSUMMED)
    store.set_task_meta("job_timestamp", "2026-01-01T00:00:00")

    r = subprocess.run(
        [_sys.executable, "/root/repo/ctl.py", "checkpoint-dump",
         "--checkpoint", f"sqlite:{db}"],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr
    dump = _json.loads(r.stdout)
    assert dump["tables"]["d.t"]["status"] == int(Status.CHECKSUMMED)
    assert dump["task"]["job_timestamp"] == "2026-01-01T00:00:00"

    r2 = subprocess.run(
        [_sys.executable, "/root/repo/ctl.py", "checkpoint-remove",
         "--checkpoint", f"sqlite:{db}", "--table", "all"],
        capture_output=True, text=True, timeout=120,
    )
    assert r2.returncode == 0, r2.stderr
    # a FRESH store hydrates empty after the remove
    store2 = SQLCheckpointStore(
        lambda: sqlite3.connect(db, check_same_thread=False)
    )
    assert store2.table_status("d.t") == 0


def test_ctl_compact(spark):
    """ctl compact: manual full compaction rewrites a fragmented
    table (main.go:114-123 FullLevelCompact analog)."""
    tgt = os.path.join(TMP, "ctl_compact_sink")
    tbl = os.path.join(tgt, "db.frag")
    shutil.rmtree(tgt, ignore_errors=True)
    os.makedirs(tbl)
    df = spark.range(1000).toDF("i")
    df.repartition(20).write.mode("overwrite").parquet(tbl)
    n_before = sum(
        1 for _, _, fs in os.walk(tbl) for f in fs if f.endswith(".parquet")
    )
    assert n_before >= 20

    out = subprocess.run(
        [sys.executable, "ctl.py", "compact",
         "--target-dir", tgt, "--table", "db.frag"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr
    n_after = sum(
        1 for _, _, fs in os.walk(tbl) for f in fs if f.endswith(".parquet")
    )
    assert n_after < n_before
    assert spark.read.parquet(tbl).count() == 1000


def test_stream_stream_interval_join_matches_batch(spark, tables):
    """Stream-stream watermarked interval join over a static source
    equals the batch twin — and the streaming plan really is a
    stream-stream join (both sides streaming, bounded state)."""
    from tidb_lightning_release_4_0_spark.streaming.events import (
        click_purchase_join,
    )

    src = _events_json_dir(spark, tables)
    s = stream_events(spark, src)
    j = click_purchase_join(
        s.filter(F.col("event_type") == "click"),
        s.filter(F.col("event_type") == "purchase"),
    )
    assert j.isStreaming
    out_dir = os.path.join(TMP, "sink_ssj")
    cp_dir = os.path.join(TMP, "cp_ssj")
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(cp_dir, ignore_errors=True)
    q = (
        j.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    batch = click_purchase_join(
        tables["events"].filter(F.col("event_type") == "click"),
        tables["events"].filter(F.col("event_type") == "purchase"),
    )
    assert got.count() > 0
    # inner join + availableNow over a static source: the stream must
    # emit exactly the batch pairs
    assert got.count() == batch.count()
    key = ["click_id", "purchase_id"]
    assert got.select(*key).exceptAll(batch.select(*key)).count() == 0
    assert batch.select(*key).exceptAll(got.select(*key)).count() == 0


def test_ctl_error_destroy_drops_sink_table(spark):
    """checkpoint-error-destroy (main.go:166-215) drops only the
    ERRORED table's sink directory, through the sink's own path (a
    backticked name resolves to the same directory); a table that did
    not fail keeps its data and its checkpoint."""
    from tidb_lightning_release_4_0_spark.plans.checkpoints import (
        CheckpointStore,
        Status,
    )

    tgt = os.path.join(TMP, "ctl_destroy_sink")
    cp_path = os.path.join(TMP, "ctl_destroy_cp.json")
    shutil.rmtree(tgt, ignore_errors=True)
    if os.path.exists(cp_path):
        os.remove(cp_path)
    for name in ("db.bad", "db.good"):
        spark.range(3).toDF("i").write.parquet(os.path.join(tgt, name))
    cp = CheckpointStore(cp_path)
    cp.set_table_status("`db`.`bad`", 3)  # invalid LOADED/10
    cp.set_table_status("db.good", Status.ANALYZED)

    out = subprocess.run(
        [sys.executable, "ctl.py", "checkpoint-error-destroy",
         "--checkpoint", cp_path, "--target-dir", tgt],
        capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0, out.stderr
    assert "dropped sink table `db`.`bad`" in out.stdout
    assert not os.path.exists(os.path.join(tgt, "db.bad"))
    assert spark.read.parquet(os.path.join(tgt, "db.good")).count() == 3
    st = CheckpointStore(cp_path)
    assert st.table_status("`db`.`bad`") == 0
    assert st.table_status("db.good") == Status.ANALYZED


def test_streaming_sliding_counts_match_batch(spark, tables, sf_dir):
    """Sliding (hopping) windows: the streaming aggregate over a
    static source equals the batch twin (registry
    events_sliding_window) on every emitted window — same
    golden-equivalence strategy as the tumbling test."""
    from tidb_lightning_release_4_0_spark.registry import (
        q_events_sliding_window,
    )
    from tidb_lightning_release_4_0_spark.streaming.events import (
        sliding_counts,
    )

    src = _events_json_dir(spark, tables)
    stream = stream_events(spark, src)
    agg = sliding_counts(stream, window="1 hour", slide="30 minutes")
    out_dir = os.path.join(TMP, "sink_sliding")
    cp_dir = os.path.join(TMP, "cp_sliding")
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(cp_dir, ignore_errors=True)
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    assert got.count() > 0
    batch = q_events_sliding_window(spark, sf_dir)
    j = got.alias("g").join(
        batch.alias("b"),
        (F.col("g.window_start") == F.col("b.window_start"))
        & (F.col("g.event_type") == F.col("b.event_type")),
    )
    mismatches = j.filter(
        (F.col("g.n") != F.col("b.n"))
        | (F.abs(F.col("g.sum_value") - F.col("b.sum_value")) > 1e-9)
    ).count()
    assert mismatches == 0
    # every emitted (closed) window joins to a batch row
    assert j.count() == got.count()
