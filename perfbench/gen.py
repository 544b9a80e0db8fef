"""Seeded dump generator for the restore benchmark.

Every workload's input is a mydumper-layout dump rendered through the
engine's own ``sources.dump_writer.write_dump_table``. The seed fixes
the row values, the row order and the part boundaries; the engine
only ever sees the files. Each rendered dump is cached under the work
directory by (workload, seed, size) together with a manifest holding
every file's size and sha256 plus the expected results the
correctness gate compares against:

- ``rows``: the generator's row count;
- ``digest``: bit_xor of Spark ``xxhash64`` over the DDL columns of
  the generator's typed rows (computed from the in-memory frame, never
  from the dump files);
- ``kv``: for ``sql_kv_parity``, the (crc_xor, total_bytes,
  total_kvs) triple of ``kv_checksum_sql_duckdb`` over the same rows.

A cached dump whose files no longer match the manifest is an error,
never a silent re-render or a skipped workload.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pandas as pd

DB = "tpch"

LINEITEM_DDL = """CREATE TABLE lineitem (
  l_orderkey BIGINT NOT NULL, l_partkey BIGINT NOT NULL,
  l_suppkey BIGINT NOT NULL, l_linenumber INT NOT NULL,
  l_quantity DOUBLE NOT NULL, l_extendedprice DOUBLE NOT NULL,
  l_discount DOUBLE NOT NULL, l_tax DOUBLE NOT NULL,
  l_returnflag VARCHAR(1) NOT NULL, l_linestatus VARCHAR(1) NOT NULL,
  l_shipdate DATETIME NOT NULL)"""

ORDERS_DDL = """CREATE TABLE orders (
  o_orderkey BIGINT PRIMARY KEY, o_custkey BIGINT,
  o_orderstatus VARCHAR(1), o_totalprice DOUBLE,
  o_orderdate DATETIME, o_orderpriority VARCHAR(20),
  KEY idx_custkey (o_custkey))"""

# kv_checksum_sql_duckdb inputs for ORDERS_DDL: value columns as
# (name, duck type, DDL column id, default is NULL) and the one
# secondary index as (index id, [(column, duck type)], unique)
ORDERS_KV_VALUES = [
    ("o_custkey", "BIGINT", 2, True),
    ("o_orderstatus", "VARCHAR", 3, True),
    ("o_totalprice", "DOUBLE", 4, True),
    ("o_orderdate", "TIMESTAMP", 5, True),
    ("o_orderpriority", "VARCHAR", 6, True),
]
ORDERS_KV_INDEXES = [(1, [("o_custkey", "BIGINT")], False)]

_EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "s")
_SECONDS_7Y = 7 * 365 * 86400


def _timestamps(rng: np.random.Generator, n: int) -> np.ndarray:
    secs = rng.integers(0, _SECONDS_7Y, n).astype("timedelta64[s]")
    return (_EPOCH_1992 + secs).astype("datetime64[ns]")


def lineitem_frame(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """TPC-H-shaped lineitem rows (11 typed columns, no key)."""
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pd.DataFrame(
        {
            "l_orderkey": np.sort(rng.integers(1, 4 * n, n)),
            "l_partkey": rng.integers(1, 200_001, n),
            "l_suppkey": rng.integers(1, 10_001, n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(
                qty * rng.uniform(900.0, 2100.0, n), 2
            ),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n),
            "l_shipdate": _timestamps(rng, n),
        }
    )


def orders_frame(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """TPC-H-shaped orders rows with a sparse, shuffled int PK."""
    prio = np.array(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    )
    return pd.DataFrame(
        {
            "o_orderkey": rng.permutation(n).astype(np.int64) * 4 + 1,
            "o_custkey": rng.integers(1, 15_001, n),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n),
            "o_totalprice": np.round(rng.uniform(850.0, 560_000.0, n), 2),
            "o_orderdate": _timestamps(rng, n),
            "o_orderpriority": rng.choice(prio, n),
        }
    )


# generator table -> (row factory, DDL)
TABLES = {
    "lineitem": (lineitem_frame, LINEITEM_DDL),
    "orders": (orders_frame, ORDERS_DDL),
}


def ddl_columns(table: str) -> list[str]:
    from tidb_lightning_release_4_0_spark.sources.schema_reader import (
        parse_create_table,
    )

    return parse_create_table(TABLES[table][1]).struct_type.fieldNames()


def part_bounds(rng: np.random.Generator, n: int, parts: int) -> list[int]:
    """Seeded, uneven part boundaries: each part holds between 0.75x
    and 1.25x of the even share of rows."""
    w = rng.uniform(0.75, 1.25, parts)
    cuts = np.round(np.cumsum(w) / w.sum() * n).astype(int)
    return [0] + cuts.tolist()


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for blk in iter(lambda: f.read(1 << 20), b""):
            h.update(blk)
    return h.hexdigest()


def _write_parts(
    out_dir: str, table: str, pdf: pd.DataFrame, ddl: str, fmt: str,
    bounds: list[int],
) -> None:
    """One ``write_dump_table`` call per seeded part, renamed into the
    ``{db}.{table}.{part:04d}.{fmt}`` layout the loader expects."""
    from tidb_lightning_release_4_0_spark.sources.dump_writer import (
        write_dump_table,
    )

    stage = os.path.join(out_dir, ".stage")
    for pi in range(len(bounds) - 1):
        part = pdf.iloc[bounds[pi] : bounds[pi + 1]]
        write_dump_table(stage, DB, table, part, ddl, fmt=fmt)
        os.replace(
            os.path.join(stage, f"{DB}.{table}.{fmt}"),
            os.path.join(out_dir, f"{DB}.{table}.{pi:04d}.{fmt}"),
        )
    for name in os.listdir(stage):
        # schema files: identical for every part
        os.replace(os.path.join(stage, name), os.path.join(out_dir, name))
    os.rmdir(stage)


def typed_digest(spark, pdf: pd.DataFrame, ddl: str) -> int:
    """bit_xor(xxhash64(DDL columns)) of the generator's rows, typed by
    the DDL's own Spark schema — the value the correctness gate
    expects from the delivered parquet."""
    from pyspark.sql import functions as F
    from tidb_lightning_release_4_0_spark.sources.schema_reader import (
        parse_create_table,
    )

    st = parse_create_table(ddl).struct_type
    df = spark.createDataFrame(pdf[[f.name for f in st.fields]], schema=st)
    return int(
        df.agg(F.bit_xor(F.xxhash64(*st.fieldNames()))).first()[0] or 0
    )


def kv_triple(pdf: pd.DataFrame) -> list[int]:
    """The reference-parity kv_crc64 triple of the orders rows via the
    DuckDB twin (independent of the Spark/numpy KV kernel)."""
    import duckdb

    from tidb_lightning_release_4_0_spark.functions.kv_codec_duckdb import (
        kv_checksum_sql_duckdb,
    )

    sql = kv_checksum_sql_duckdb(
        "gen_orders", "o_orderkey", ORDERS_KV_VALUES, ORDERS_KV_INDEXES
    )
    con = duckdb.connect()
    try:
        con.register("gen_orders", pdf)
        crc, nbytes, nkvs = con.execute(sql).fetchone()
    finally:
        con.close()
    # DuckDB returns the XOR fold unsigned; Spark reports it signed
    crc = int(crc)
    if crc >= 1 << 63:
        crc -= 1 << 64
    return [crc, int(nbytes), int(nkvs)]


def file_table(out_dir: str) -> dict:
    return {
        f: {
            "size": os.path.getsize(os.path.join(out_dir, f)),
            "sha256": _sha256(os.path.join(out_dir, f)),
        }
        for f in sorted(os.listdir(out_dir))
        if f != "manifest.json"
    }


class Dump:
    """One rendered dump and its manifest. Expected results need a
    Spark job (the typed digest), so they are computed on demand, after
    the cold restore, and then cached in the manifest."""

    def __init__(self, work: str, spec, seed: int, nproc: int):
        self.spec = spec
        nparts = spec.parts_per_core * nproc
        self.dir = os.path.join(
            work, "dumps", f"{spec.name}-s{seed}-r{spec.rows}-p{nparts}"
        )
        self._mpath = os.path.join(self.dir, "manifest.json")
        self._pdf = None
        self.render_s = 0.0
        if os.path.exists(self._mpath):
            with open(self._mpath) as f:
                self.manifest = json.load(f)
            if file_table(self.dir) != self.manifest["files"]:
                raise RuntimeError(
                    f"cached dump {self.dir} does not match its manifest;"
                    " delete the directory to re-render it"
                )
            return
        t0 = time.monotonic()
        rng = np.random.default_rng([seed, spec.rng_stream])
        make, ddl = TABLES[spec.table]
        self._pdf = make(rng, spec.rows)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        _write_parts(
            self.dir, spec.table, self._pdf, ddl, spec.fmt,
            part_bounds(rng, spec.rows, nparts),
        )
        files = file_table(self.dir)
        self.manifest = {
            "workload": spec.name,
            "seed": seed,
            "table": f"{DB}.{spec.table}",
            "rows": spec.rows,
            "files": files,
            "source_bytes": sum(
                v["size"] for f, v in files.items()
                if f.endswith(f".{spec.fmt}") and "-schema" not in f
            ),
        }
        self.render_s = time.monotonic() - t0

    @property
    def data_files(self) -> list[str]:
        return [
            os.path.join(self.dir, f) for f in self.manifest["files"]
            if f.endswith(f".{self.spec.fmt}") and "-schema" not in f
        ]

    def expect(self, spark) -> dict:
        """The manifest with ``digest`` (and ``kv``) filled in."""
        if "digest" in self.manifest:
            return self.manifest
        if self._pdf is None:
            raise RuntimeError(f"manifest of {self.dir} lacks its digest")
        self.manifest["digest"] = typed_digest(
            spark, self._pdf, TABLES[self.spec.table][1]
        )
        if self.spec.kv_parity:
            self.manifest["kv"] = kv_triple(self._pdf)
        tmp = self._mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._mpath)
        return self.manifest
