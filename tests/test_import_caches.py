"""`session.settle_import_caches` drops the zipimporter finders from
``sys.path_importer_cache`` so the ``importlib.invalidate_caches()``
pyspark runs before each task in a reused worker does not re-read
every zip archive on the path; imports from those archives keep
working. Every Python function a restore ships to the workers calls
it first."""

from __future__ import annotations

import ast
import inspect
import sys
import zipfile
import zipimport

import pytest

from tidb_lightning_release_4_0_spark.functions import kv_codec
from tidb_lightning_release_4_0_spark.session import settle_import_caches
from tidb_lightning_release_4_0_spark.sources import (
    csv_blocks,
    csv_strict,
    sql_dump_source,
)

ZIP_MODULES = ("zipped_pkg_probe", "zipped_pkg_probe.first", "zipped_pkg_probe.second")


@pytest.fixture
def zipped_pkg(tmp_path, monkeypatch):
    archive = tmp_path / "probe.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipped_pkg_probe/__init__.py", "")
        zf.writestr("zipped_pkg_probe/first.py", "VALUE = 1\n")
        zf.writestr("zipped_pkg_probe/second.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    yield str(archive)
    for name in ZIP_MODULES:
        sys.modules.pop(name, None)


def _zip_finders() -> list[str]:
    return [
        path
        for path, finder in sys.path_importer_cache.items()
        if isinstance(finder, zipimport.zipimporter)
    ]


def test_zip_imports_survive_the_prune(zipped_pkg):
    import zipped_pkg_probe.first as first

    assert first.__file__.startswith(zipped_pkg)
    assert any(p.startswith(zipped_pkg) for p in _zip_finders())

    settle_import_caches()
    assert _zip_finders() == []

    import zipped_pkg_probe.second as second

    assert second.VALUE == 2
    assert second.__file__.startswith(zipped_pkg)


# (module, function defined at module level, worker-side function in it)
ENTRY_POINTS = [
    (sql_dump_source, "read_sql_dump", "parse_files"),
    (kv_codec, "kv_hash_columns", "_np_kernel"),
    (csv_strict, "read_csv_strict", "parse_files"),
    (csv_blocks, "_block_lines", "extract"),
]


@pytest.mark.parametrize(
    "module, outer, inner",
    ENTRY_POINTS,
    ids=[f"{m.__name__.rsplit('.', 1)[1]}.{i}" for m, _, i in ENTRY_POINTS],
)
def test_worker_entry_point_settles_import_caches_first(module, outer, inner):
    tree = ast.parse(inspect.getsource(module))
    (outer_def,) = [
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == outer
    ]
    (inner_def,) = [
        n
        for n in ast.walk(outer_def)
        if isinstance(n, ast.FunctionDef) and n.name == inner
    ]
    first = inner_def.body[0]
    assert isinstance(first, ast.Expr) and isinstance(first.value, ast.Call)
    assert ast.unparse(first.value) == "settle_import_caches()"
