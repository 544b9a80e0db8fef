"""T6+T8 end-to-end on the reference's own canonical dataset
(round-8 directive #8): the 10k-row `mocker_test.tbl_multi_index`
example dump (lightning/mydump/examples) — no PK (so `_tidb_rowid`
handles), an UNSIGNED INT column (KindUint64 datums), and TWO
secondary indexes (`idx_name`, `idx_age_name`) — restores under the
full data+index KV-parity checksum. The resulting triple is pinned
as a golden AND re-derived from the delivered parquet by the
shared-nothing DuckDB SQL encoder, so the bytes are attested by two
codecs in different languages on the reference's own data.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest

EXAMPLES = "/root/reference/lightning/mydump/examples"
ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".tmp",
    "multi_index_test",
)

# the pinned golden (crc64-ECMA XOR over every record+index KV pair,
# total bytes, total kv count = 10000 rows x (1 data + 2 index))
GOLDEN = (10548517777231854655, 1212905, 30000)


@pytest.fixture(scope="module")
def restored(spark):
    if not os.path.isdir(EXAMPLES):
        pytest.skip(reason=f"reference example dumps not found at {EXAMPLES}")
    shutil.rmtree(ROOT, ignore_errors=True)
    d = os.path.join(ROOT, "dump")
    os.makedirs(d)
    for f in (
        "metadata",
        "mocker_test-schema-create.sql",
        "mocker_test.tbl_multi_index-schema.sql",
        "mocker_test.tbl_multi_index.sql",
    ):
        shutil.copy(os.path.join(EXAMPLES, f), d)
    from tidb_lightning_release_4_0_spark.config import (
        Config,
        MydumperConfig,
    )
    from tidb_lightning_release_4_0_spark.plans.pipeline import (
        RestoreController,
    )

    sink = os.path.join(ROOT, "sink")
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="parquet",
        target_dir=sink,
        checkpoint_enable=False,
        on_duplicate="physical",
        checksum=True,
        checksum_algo="kv_crc64",
    )
    summary = RestoreController(spark, cfg).run()
    assert summary.ok, summary.report()
    return summary, sink


def test_multi_index_examples_golden_triple(restored):
    summary, _ = restored
    ck = summary.tables["mocker_test.tbl_multi_index"].checksum
    assert (
        ck.crc_xor & 0xFFFFFFFFFFFFFFFF,
        ck.total_bytes,
        ck.total_kvs,
    ) == GOLDEN


def test_multi_index_examples_duckdb_twin(restored):
    """The pure-SQL encoder re-derives the SAME triple from the
    delivered rows: Name as compact-bytes/EncodeBytes datums, Age as
    KindUint64 (int(10) UNSIGNED), `_tidb_rowid` handles, both
    non-unique index layouts ('0' values + handle-suffixed keys)."""
    from tidb_lightning_release_4_0_spark.functions.kv_codec_duckdb import (
        kv_checksum_sql_duckdb,
    )

    summary, sink = restored
    path = os.path.join(sink, "mocker_test.tbl_multi_index", "*.parquet")
    sql = kv_checksum_sql_duckdb(
        f"read_parquet('{path}')",
        '"_tidb_rowid"',
        [("Name", "VARCHAR", 1, True), ("Age", "UINT64", 2, True)],
        [
            (1, [("Name", "VARCHAR")], False),
            (2, [("Age", "UINT64"), ("Name", "VARCHAR")], False),
        ],
        table_id=1,
    )
    con = duckdb.connect()
    got = con.sql(sql).fetchall()[0]
    assert (
        int(got[0]) & 0xFFFFFFFFFFFFFFFF,
        int(got[1]),
        int(got[2]),
    ) == GOLDEN


def test_unsigned_int_columns_are_uint64_kind(spark):
    """Any UNSIGNED integer column (not just BIGINT) encodes as
    KindUint64: uvarint (flag 0x09) row values — the byte TiDB's
    encoder emits for `Age int(10) UNSIGNED` — never signed varint
    (flag 0x08)."""
    import os as _os

    from tidb_lightning_release_4_0_spark.config import (
        Config,
        MydumperConfig,
    )
    from tidb_lightning_release_4_0_spark.functions.hashing import (
        crc64_bytes,
    )
    from tidb_lightning_release_4_0_spark.functions.kv_codec import (
        Uint64Datum,
        encode_table_kvs,
    )
    from tidb_lightning_release_4_0_spark.plans.pipeline import (
        RestoreController,
    )

    d = _os.path.join(ROOT, "udump")
    shutil.rmtree(d, ignore_errors=True)
    _os.makedirs(d)
    with open(_os.path.join(d, "u-schema-create.sql"), "w") as f:
        f.write("CREATE DATABASE u;")
    with open(_os.path.join(d, "u.t-schema.sql"), "w") as f:
        f.write(
            "CREATE TABLE t (id BIGINT PRIMARY KEY, "
            "a INT(10) UNSIGNED, b SMALLINT UNSIGNED)"
        )
    with open(_os.path.join(d, "u.t.0001.csv"), "w") as f:
        f.write("1,4294967295,65535\n2,0,1\n3,\\N,\\N\n")
    sink = _os.path.join(ROOT, "usink")
    shutil.rmtree(sink, ignore_errors=True)
    cfg = Config(
        mydumper=MydumperConfig(source_dir=d),
        backend="parquet",
        target_dir=sink,
        checkpoint_enable=False,
        on_duplicate="physical",
        checksum=True,
        checksum_algo="kv_crc64",
    )
    s = RestoreController(spark, cfg).run()
    assert s.ok, s.report()
    rows = [(1, 4294967295, 65535), (2, 0, 1), (3, None, None)]
    crc = 0
    for i, a, b in rows:
        vals = [
            None if a is None else Uint64Datum(a),
            None if b is None else Uint64Datum(b),
        ]
        for k, v in encode_table_kvs(1, i, [2, 3], vals, 1):
            crc ^= crc64_bytes(k + v)
    got = s.tables["u.t"].checksum
    assert (got.crc_xor & 0xFFFFFFFFFFFFFFFF) == crc
