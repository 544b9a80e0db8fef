"""Sources: dump-dir discovery, CSV/SQL-dump readers, testdata loader."""

from __future__ import annotations

import re

# Hadoop's glob syntax (GlobPattern): spark.read globs every path string
# holding one of these, so a dump directory named like d[1]{a} matched
# nothing and failed the read with PATH_NOT_FOUND
_GLOB_CHAR = re.compile(r"([\\*?\[\]{}])")


def literal_paths(paths: list[str] | str) -> list[str] | str:
    """Backslash-escape the glob characters of file paths for
    ``spark.read``; a path without one is returned unchanged."""
    if isinstance(paths, str):
        return _GLOB_CHAR.sub(r"\\\1", paths)
    return [_GLOB_CHAR.sub(r"\\\1", p) for p in paths]
