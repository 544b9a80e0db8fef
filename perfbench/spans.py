"""In-memory spans around calls into the engine's layers.

The tracer patches the public entry points of each layer from outside
(the engine's own files are untouched) and records one span per call:
(name, start, end, parent, restore id, value). Each span also sets the
Spark job description of the calling thread to its name, so the event
log attributes every job to the innermost span that triggered it.
Spans are written out only when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import time

_PKG = "tidb_lightning_release_4_0_spark"


def _checkpoint_bytes(args, kwargs, before, result):
    path = args[0].path
    return os.path.getsize(path) if os.path.exists(path) else 0


def _checkpoint_persists(args, kwargs):
    """A disabled or path-less store's _save writes nothing: no span."""
    return bool(args[0].enabled and args[0].path)


def _cache_values(args, kwargs):
    from tidb_lightning_release_4_0_spark.operators.permutation import (
        session_plan_cache,
    )

    cache = session_plan_cache(args[0].spark)
    return list(cache.values()) if cache is not None else []


def _plan_cache_hit(args, kwargs, before, result):
    return int(any(v is result for v in before))


# (module, attribute, span name, value probe, pre-call state, when):
# the layer boundaries the traced run instruments. A probe records one
# number on the span: the checkpoint file size after a save, and 1/0
# for whether read_table returned a memoized plan. ``when`` skips the
# span for calls that do no work.
LAYER_CALLS = [
    (f"{_PKG}.plans.pipeline", "discover_cfg", "sources.plan",
     None, None, None),
    (f"{_PKG}.plans.pipeline", "load_table_schema", "sources.plan",
     None, None, None),
    (f"{_PKG}.plans.pipeline", "RestoreController.restore_table",
     "pipeline.restore_table", None, None, None),
    (f"{_PKG}.plans.pipeline", "RestoreController.read_table",
     "pipeline.read_plan", _plan_cache_hit, _cache_values, None),
    (f"{_PKG}.sinks.parquet_sink", "ParquetSink.write", "sinks.write",
     None, None, None),
    (f"{_PKG}.sinks.parquet_sink", "ParquetSink.write_engine",
     "sinks.write", None, None, None),
    (f"{_PKG}.sinks.parquet_sink", "ParquetSink.analyze", "sinks.analyze",
     None, None, None),
    (f"{_PKG}.plans.checkpoints", "CheckpointStore._save",
     "checkpoints.save", _checkpoint_bytes, None, _checkpoint_persists),
]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        # [name, start, end, parent index, restore id, value]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.restore_id: int | None = None
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        rec = [name, time.time(), None, parent, self.restore_id, None]
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec[2] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(
                self.spans[self._stack[-1]][0] if self._stack else None
            )

    def install(self) -> None:
        for mod_name, attr, name, probe, pre, when in LAYER_CALLS:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = owner.__dict__[leaf]
            self._patched.append((owner, leaf, orig))
            setattr(owner, leaf, self._wrap(orig, name, probe, pre, when))

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._patched):
            setattr(owner, leaf, orig)
        self._patched.clear()

    def _wrap(self, fn, name: str, probe, pre, when):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if when and not when(args, kwargs):
                return fn(*args, **kwargs)
            before = pre(args, kwargs) if pre else None
            with self.span(name) as rec:
                result = fn(*args, **kwargs)
            if probe:
                rec[5] = probe(args, kwargs, before, result)
            return result

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent, rid, value in self.spans:
                f.write(json.dumps(
                    {"name": name, "start": t0, "end": t1,
                     "parent": parent, "restore": rid, "value": value}
                ) + "\n")


def summarize(spans: list[list]) -> dict:
    """{restore id: {span name: {"calls", "total_s", "self_s",
    "values"}}}. A span's self time is its duration minus the part its
    direct children cover; children never overlap because a restore
    runs on one thread."""
    child = [0.0] * len(spans)
    for name, t0, t1, parent, rid, value in spans:
        if parent >= 0:
            child[parent] += t1 - t0
    out: dict = {}
    for i, (name, t0, t1, parent, rid, value) in enumerate(spans):
        agg = out.setdefault(rid, {}).setdefault(
            name, {"calls": 0, "total_s": 0.0, "self_s": 0.0, "values": []}
        )
        agg["calls"] += 1
        agg["total_s"] += t1 - t0
        agg["self_s"] += (t1 - t0) - child[i]
        if value is not None:
            agg["values"].append(value)
    return out
