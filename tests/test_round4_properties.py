"""Property-based hardening of round-4 primitives (no SparkSession):

- fake_mysql's literal scanner must be the exact inverse of the JDBC
  sink's renderer for every value shape the sink can emit;
- the chunk-split row-id capacity math must keep ids unique and
  monotonic under adversarial file sizes / divisors / split sizes,
  including the worst case where every block absorbs one
  boundary-straddling row.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st

from tests.fake_mysql import _parse_dml
from tidb_lightning_release_4_0_spark.sinks.jdbc_sink import (
    render_insert,
)

# every value kind render_sql_value handles
_texts = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_categories=("Cs",)
    ),
    max_size=40,
)
_values = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**63), max_value=2**64 - 1),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    _texts,
    st.binary(max_size=32),
    st.datetimes(
        min_value=dt.datetime(1000, 1, 1),
        max_value=dt.datetime(9999, 12, 31),
    ),
    st.dates(),
)


def _expected(v):
    """What the renderer normalizes a value to (parser must return)."""
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, dt.datetime):
        return (
            v.strftime("%Y-%m-%d %H:%M:%S.%f").rstrip("0").rstrip(".")
        )
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v
    return v


@settings(max_examples=300, deadline=None)
@given(st.lists(st.lists(_values, min_size=1, max_size=5), min_size=1,
                max_size=4).filter(
                    lambda rs: len({len(r) for r in rs}) == 1))
def test_scanner_inverts_renderer(rows):
    cols = [f"c{i}" for i in range(len(rows[0]))]
    stmt = render_insert("t", cols, [tuple(r) for r in rows], "replace")
    mode, table, pcols, prows = _parse_dml(stmt)
    assert (mode, table, pcols) == ("replace", "t", cols)
    assert len(prows) == len(rows)
    for orig, parsed in zip(rows, prows):
        for o, p in zip(orig, parsed):
            e = _expected(o)
            if isinstance(e, float):
                assert p == e or (p == int(e) and float(p) == e)
            else:
                assert p == e, (o, p)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=500_000),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=16, max_value=100_000),
)
def test_split_rowid_capacity_never_collides(sizes, divisor, split):
    """Worst-case simulation of the chunk-split id scheme: every
    block holds floor(block_len/divisor) rows PLUS one straddling row
    (the absorbed line from beyond its range); ids across all blocks
    of all files must be unique and monotone in (file, block, row)
    order."""
    from tidb_lightning_release_4_0_spark.operators.rowid import (
        file_row_bases_split,
    )

    files = [(f"f{i}", sz) for i, sz in enumerate(sizes)]
    bases = file_row_bases_split(files, divisor, split)
    seen = set()
    last = -1
    total_rows_possible = {
        name: sz // max(divisor, 1) for name, sz in files
    }
    for name, sz in files:
        base = bases[name]
        budget = total_rows_possible[name]
        off = 0
        bi = 0
        while off < sz:
            blen = min(split, sz - off)
            # rows actually present can never exceed total file rows;
            # a block can still claim up to blen//divisor + 1 of them
            n = min(blen // max(divisor, 1) + 1, budget)
            budget -= n
            start = base + off // max(divisor, 1) + bi
            for j in range(n):
                rid = start + j + 1
                assert rid not in seen, (name, off, j)
                assert rid > last, "ids must be monotone in file order"
                seen.add(rid)
                last = rid
            off += blen
            bi += 1
