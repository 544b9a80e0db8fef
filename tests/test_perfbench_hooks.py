"""The benchmark's traced run reaches into the engine by name: its
tracer patches each ``(module, attribute)`` of ``perfbench/spans.py``'s
``LAYER_CALLS``, and ``perfbench/run.py`` calls the readers with fixed
keywords. A refactor that renames or moves one of them breaks
``--trace 1`` without failing a restore; these tests fail instead."""

from __future__ import annotations

import ast
import importlib
import inspect
import os
import sys

import pytest

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)


def _layer_calls():
    sys.path.insert(0, PERFBENCH)
    try:
        import spans
    finally:
        sys.path.remove(PERFBENCH)
    return [(mod, attr) for mod, attr, *_ in spans.LAYER_CALLS]


@pytest.mark.parametrize("mod,attr", _layer_calls())
def test_layer_call_resolves(mod, attr):
    # the tracer replaces owner.__dict__[leaf]: an inherited attribute
    # would not be patched where the engine looks it up
    owner = importlib.import_module(mod)
    *path, leaf = attr.split(".")
    for p in path:
        owner = getattr(owner, p)
    assert leaf in vars(owner), f"{mod}.{attr}"
    assert callable(vars(owner)[leaf])


def _reader_calls():
    tree = ast.parse(open(os.path.join(PERFBENCH, "run.py")).read())
    calls = [
        node
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in ("read_sql_dump", "read_csv")
    ]
    assert {c.func.id for c in calls} == {"read_sql_dump", "read_csv"}
    return [
        (c.func.id, len(c.args), tuple(k.arg for k in c.keywords))
        for c in calls
    ]


@pytest.mark.parametrize("name,npos,keywords", _reader_calls())
def test_reader_accepts_benchmark_arguments(name, npos, keywords):
    from tidb_lightning_release_4_0_spark.sources import (
        csv_source,
        sql_dump_source,
    )

    fn = {
        "read_sql_dump": sql_dump_source.read_sql_dump,
        "read_csv": csv_source.read_csv,
    }[name]
    # raises TypeError on a missing, unknown or surplus argument
    inspect.signature(fn).bind(*[None] * npos, **dict.fromkeys(keywords))
