"""A pure-Python model of the row ids each byte-estimate lane assigns.

The model reads a table's dump bytes and derives every row's id as the
engine's readers do, with no Spark:

- whole-file CSV and ``.sql``: the file's base + the row's index in the
  file;
- strict-format CSV splits and JSONL blocks: Hadoop's line geometry (a
  range after the first skips through its first newline, and every
  range reads each line that starts at or before its end), then the
  file's base + ``split_chunk_base`` + the line's index in its range;
- a split ``.sql`` file: the file's base + statement offset // divisor
  + the row's index in its statement.

A Hypothesis test runs the model over lane mixes, column-list subsets,
empty and one-byte values, part counts and split sizes, with the bases
and divisors of ``rowid.plan_row_ids``: each file's ids ascend, the
files' ranges are disjoint and ascend in dump order, and no id passes
the plan's end. One Spark case per lane checks that the engine assigns
exactly the model's ids.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tidb_lightning_release_4_0_spark.config import (
    Config,
    CSVConfig,
    MydumperConfig,
    TiDBConfig,
)
from tidb_lightning_release_4_0_spark.operators.permutation import ROWID_COL
from tidb_lightning_release_4_0_spark.operators.rowid import plan_row_ids
from tidb_lightning_release_4_0_spark.plans.pipeline import RestoreController
from tidb_lightning_release_4_0_spark.sinks.memory_sink import MemorySink
from tidb_lightning_release_4_0_spark.sources.sql_dump_source import (
    read_sql_dump,
)

TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".tmp",
    "rowid_model",
)


# -- the model ----------------------------------------------------------------
def _lines(data: bytes, start: int, end: int) -> list[bytes]:
    """The lines the byte range [start, end) reads: those starting in
    (start, end], or in [0, end] for the first range."""
    out, p = [], 0
    while p < len(data):
        q = data.find(b"\n", p)
        q = len(data) if q < 0 else q
        if (start == 0 or p > start) and p <= end:
            out.append(data[p:q].rstrip(b"\r"))
        p = q + 1
    return out


def _sql_ids(data: bytes, base: int, divisor: int, split: int | None):
    starts = [0]
    i = data.find(b"\nINSERT")
    while i >= 0:
        starts.append(i + 1)
        i = data.find(b"\nINSERT", i + 1)
    ends = starts[1:] + [len(data)]
    counts = [
        data[s:e].partition(b" VALUES ")[2].count(b"(")
        for s, e in zip(starts, ends)
    ]
    if split and len(data) > split * 3 // 2:
        return [
            base + s // divisor + j + 1
            for s, n in zip(starts, counts)
            for j in range(n)
        ]
    return [base + j + 1 for j in range(sum(counts))]


def model_ids(files, plan, split=None, sql_split=None, header=False):
    """Each file's row ids in file order. ``files``: (path, bytes,
    lane); ``split``: the byte ranges of the csv and jsonl lanes (None:
    whole files); ``sql_split``: read_sql_dump's split size."""
    out = {}
    for path, data, lane in files:
        base, div = plan.bases[path], plan.divisor[lane]
        if lane == "sql":
            out[path] = _sql_ids(data, base, div, sql_split)
            continue
        step = split or max(len(data), 1)
        ids: list[int] = []
        for s in range(0, len(data), step):
            rows = _lines(data, s, s + step)
            if header and lane == "csv" and s == 0:
                rows = rows[1:]
            rows = [r for r in rows if (r.strip() if lane == "jsonl" else r)]
            first = base + (s // div + s // split if split else 0)
            ids += [first + i + 1 for i in range(len(rows))]
        out[path] = ids
    return out


def render(lane: str, cols, rows, header: bool = False, per_stmt: int = 4):
    """A part's bytes: rows of string values, empty for NULL/empty."""
    if lane == "csv":
        lines = ([",".join(cols)] if header else []) + [",".join(r) for r in rows]
        return "".join(ln + "\n" for ln in lines).encode()
    if lane == "jsonl":
        return "".join(
            json.dumps({c: v for c, v in zip(cols, r) if v}, separators=(",", ":"))
            + "\n"
            for r in rows
        ).encode()
    head = f"INSERT INTO t ({','.join(cols)}) VALUES "
    return "".join(
        head
        + ",".join("(" + ",".join(v or "0" for v in r) + ")" for r in stmt)
        + ";\n"
        for stmt in (
            rows[i : i + per_stmt] for i in range(0, len(rows), per_stmt)
        )
    ).encode()


# -- the property -------------------------------------------------------------
@st.composite
def dumps(draw):
    k = draw(st.integers(1, 5))
    names = [f"c{i}" for i in range(k)]
    split = draw(st.none() | st.integers(4, 256))
    sql_split = draw(st.none() | st.integers(8, 256))
    header = draw(st.booleans())
    lanes = ["csv", "sql", "jsonl"] if split else ["csv", "sql"]
    files, widths = [], {}
    for i in range(draw(st.integers(1, 4))):
        lane = draw(st.sampled_from(lanes))
        cols = (
            names
            if lane == "csv" and not header
            else draw(
                st.lists(st.sampled_from(names), min_size=1, max_size=k, unique=True)
            )
        )
        # one bit per field: a one-byte value, or an empty one; all-empty
        # and all-one-byte parts are the narrowest rows of each lane
        full = (1 << len(cols)) - 1
        mask = draw(st.sampled_from([st.just(0), st.just(full), st.integers(0, full)]))
        n = draw(st.integers(0, 60))
        masks = draw(st.lists(mask, min_size=n, max_size=n))
        rows = [
            ["7" if m >> j & 1 else "" for j in range(len(cols))] for m in masks
        ]
        data = render(lane, cols, rows, header, draw(st.integers(1, 64)))
        files.append((f"t.{i:04d}.{lane}", data, lane))
        widths[lane] = min(widths.get(lane, k), len(cols))
    return files, widths, split, sql_split, header


@settings(max_examples=400, deadline=None, derandomize=True)
@given(dumps())
def test_rowid_chain_never_collides(dump):
    files, widths, split, sql_split, header = dump
    plan = plan_row_ids([(p, len(d), lane) for p, d, lane in files], widths, split)
    ids = model_ids(files, plan, split, sql_split, header)
    last = 0
    for path, _, _ in files:
        got = ids[path]
        assert got == sorted(set(got)), "ids ascend within a file"
        if got:
            assert got[0] > last, "file ranges overlap or leave dump order"
            last = got[-1]
    assert last <= plan.end


# -- the engine against the model ---------------------------------------------
def _parts(lanes, n=150):
    """(lane, keys, rows) per part: a unique key a, a one-byte b."""
    out = []
    for k, lane in enumerate(lanes):
        keys = [k * n + i for i in range(n)]
        out.append((lane, keys, [[str(a), str(a % 10)] for a in keys]))
    return out


def _write(name, parts, header):
    d = os.path.join(TMP, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    with open(os.path.join(d, "fc-schema-create.sql"), "w") as f:
        f.write("CREATE DATABASE fc;")
    with open(os.path.join(d, "fc.t-schema.sql"), "w") as f:
        f.write("CREATE TABLE t (a INT, b INT);")
    files = []
    for i, (lane, _, rows) in enumerate(parts, 1):
        path = os.path.join(d, f"fc.t.{i:04d}.{lane}")
        data = render(lane, ["a", "b"], rows, header)
        with open(path, "wb") as f:
            f.write(data)
        files.append((path, data, lane))
    return d, files


def _expected(parts, files, plan, **geometry):
    ids = model_ids(files, plan, **geometry)
    return {
        a: i
        for (_, keys, _), (path, _, _) in zip(parts, files)
        for a, i in zip(keys, ids[path])
    }


@pytest.mark.parametrize(
    "lanes,csv",
    [
        (["csv", "sql", "csv"], CSVConfig(header=True)),
        (["csv", "sql", "csv"], CSVConfig(header=True, strict_format=True)),
        (["jsonl", "jsonl"], CSVConfig(strict_format=True)),
    ],
    ids=["whole_csv", "split_csv", "jsonl_blocks"],
)
def test_restore_assigns_the_model_ids(spark, small_splits, lanes, csv):
    parts = _parts(lanes)
    name = "_".join(lanes) + ("_split" if csv.strict_format else "")
    d, files = _write(name, parts, csv.header)
    split = small_splits(256) if csv.strict_format else None
    plan = plan_row_ids(
        [(p, len(b), lane) for p, b, lane in files],
        {"csv": 2, "sql": 2},
        split,
    )
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d, csv=csv),
        tidb=TiDBConfig(sql_mode=""),
        backend="memory",
        checkpoint_enable=False,
    )
    sink = MemorySink("error")
    summary = RestoreController(spark, cfg, sink=sink).run()
    assert summary.ok, summary.report()
    got = {r["a"]: r[ROWID_COL] for r in sink.tables["fc.t"].collect()}
    assert got == _expected(
        parts, files, plan, split=split, header=csv.header
    )


def test_split_sql_assigns_the_model_ids(spark):
    parts = _parts(["sql", "sql"])
    _, files = _write("sql_split", parts, False)
    plan = plan_row_ids([(p, len(b), "sql") for p, b, _ in files], {"sql": 2})
    split = 256
    df = read_sql_dump(
        spark,
        [(p, len(b)) for p, b, _ in files],
        columnar=True,
        column_names=["a", "b"],
        bases=plan.bases,
        divisor=plan.divisor["sql"],
        split_bytes=split,
    )
    got = {int(r["a"]): r["_row_id"] for r in df.collect()}
    assert got == _expected(parts, files, plan, sql_split=split)
