"""Property-based hardening of round-4 primitives (no SparkSession):

fake_mysql's literal scanner must be the exact inverse of the JDBC sink's
renderer for every value shape the sink can emit. (The chunk-split
row-id property lives in test_rowid_model.py.)
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
