"""Shape of the byte-range block plan (RestoreController._block_frame).

The block list is laid out one row per partition at plan time, so the
line-extraction stage and the parse need no shuffle: the only
exchange a block read may carry is the broadcast of the tiny row-id
bases table, beside the parse, never below it. Pinned by plan shape,
not by a job count.
"""

from __future__ import annotations

import json
import os

from tidb_lightning_release_4_0_spark.config import (
    Config,
    CSVConfig,
    MydumperConfig,
    TiDBConfig,
)
from tidb_lightning_release_4_0_spark.plans.checkpoints import CheckpointStore
from tidb_lightning_release_4_0_spark.plans.pipeline import RestoreController
from tidb_lightning_release_4_0_spark.sinks.memory_sink import MemorySink
from tidb_lightning_release_4_0_spark.sources.csv_blocks import plan_file_blocks
from tidb_lightning_release_4_0_spark.sources.mydump_loader import (
    FileInfo,
    MDTableMeta,
)
from tidb_lightning_release_4_0_spark.sources.schema_reader import (
    parse_create_table,
)


def _depth(line: str) -> int:
    """Column where a treeString node name starts (after the
    ``:``/``+-`` branch markers): a node's subtree is the lines below
    it that start further right."""
    return len(line) - len(line.lstrip(" :+-"))


def _below_parse(plan: str, parse: str) -> list[list[str]]:
    """The subtree lines under every plan node that evaluates
    ``parse`` (from_csv / from_json)."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if parse + "(" not in line:
            continue
        sub = []
        for nxt in lines[i + 1:]:
            if _depth(nxt) <= _depth(line):
                break
            sub.append(nxt)
        out.append(sub)
    return out


def test_block_plan_has_no_exchange_below_the_parse(spark, tmp_path):
    csv_path = str(tmp_path / "db.t.0001.csv")
    with open(csv_path, "w") as f:
        for i in range(2000):
            f.write(f"{i},row-{i}-{'p' * (i % 23)},{i * 0.5}\n")
    jsonl_path = str(tmp_path / "db.t.0001.jsonl")
    with open(jsonl_path, "w") as f:
        for i in range(2000):
            f.write(json.dumps({"id": i, "v": f"r{i}", "x": i * 0.25}) + "\n")
    schema = parse_create_table(
        "CREATE TABLE t (id INT, v VARCHAR(40), x DOUBLE)"
    )
    ctl = RestoreController(
        spark,
        Config(
            mydumper=MydumperConfig(
                source_dir=str(tmp_path), csv=CSVConfig(strict_format=True)
            ),
            target_dir=str(tmp_path / "sink"),
            tidb=TiDBConfig(sql_mode=""),
        ),
        sink=MemorySink("error"),
        checkpoints=CheckpointStore(None, enabled=False),
    )
    for path, parse in ((csv_path, "from_csv"), (jsonl_path, "from_json")):
        size = os.path.getsize(path)
        split = -(-size // 5)
        blocks = plan_file_blocks([(path, size)], split)
        assert len(blocks) == 5
        meta = MDTableMeta(
            "db", "t", None, [FileInfo("db", "t", path, size)], size
        )
        df = ctl._block_frame(meta, schema, blocks, split)
        plan = df._jdf.queryExecution().executedPlan().toString()
        subtrees = _below_parse(plan, parse)
        assert subtrees, plan
        for sub in subtrees:
            assert any("MapInPandas" in ln for ln in sub), plan
            assert not any("Exchange" in ln for ln in sub), plan
        assert df.count() == 2000
