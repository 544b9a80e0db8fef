"""JSON-Lines source — the ingest side of the training-data handoff
format (curation.export_jsonl writes it; this reads it back).

Beyond-reference source extension (the reference reads mydumper
CSV/SQL only): JSONL is what most public corpus distributions and
training loaders speak, so a user curating data with this engine can
both emit and re-ingest it without leaving Spark.

Scale shape: Spark's native JSON reader with an EXPLICIT schema —
no sampling/inference pass over 100 TB — and multiLine=false, so
uncompressed shards split at maxPartitionBytes byte ranges (JSONL's
one-object-per-line framing makes line-boundary resync exact);
gzip shards parallelize per-file.

Malformed lines are never silently nulled: the default is FAILFAST
(a bad line errors the job loudly); ``keep_corrupt=True`` switches
to PERMISSIVE and captures the raw line in a corrupt-record column
for the caller to route — the CSV fast path's fallback contract.
(PERMISSIVE with the capture column then dropped would be the worst
of both: garbage all-null rows indistinguishable from real nulls.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import literal_paths

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    paths: list[str] | str,
    schema: T.StructType | str,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Read JSONL file(s) with an explicit schema. Paths are literal:
    glob characters in them match themselves.

    ``schema``: StructType or DDL string ("doc_id bigint, text
    string, ..."). ``keep_corrupt=True`` appends ``_corrupt_record``
    (the raw line for rows that failed the schema; NULL otherwise) —
    the caller decides whether to route them to a fallback parse or
    count them as data-quality signal. With the default
    ``keep_corrupt=False`` a malformed line FAILS the read instead
    of materializing as an all-null row.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if not keep_corrupt:
        return (
            spark.read.option("mode", "FAILFAST")
            .schema(schema)
            .json(literal_paths(paths))
        )
    fields = list(schema.fields) + [
        T.StructField(CORRUPT_COL, T.StringType(), True)
    ]
    return (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .schema(T.StructType(fields))
        .json(literal_paths(paths))
    )


def probe_jsonl_keys(path: str) -> list[str] | None:
    """Driver-side peek at the key casings used by the file — the
    JSONL analog of the .sql path's first-INSERT column probe
    (sql_dump_source.probe_insert_columns): one 64 KiB read, no Spark
    job. Keys accumulate across EVERY parseable line in the head
    (JSONL rows may omit keys, so one line alone under-reports);
    first-seen casing wins per lowercased key. Returns None when
    nothing parseable is found."""
    import gzip
    import json as _json

    opener = gzip.open if path.endswith(".gz") else open
    try:
        with opener(path, "rt", encoding="utf-8", errors="replace") as f:
            head = f.read(64 * 1024)
    except OSError:
        return None
    seen: dict[str, str] = {}
    any_obj = False
    for line in head.splitlines():
        line = line.strip()
        if not line:
            continue
        try:
            obj = _json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict):
            any_obj = True
            for k in obj:
                seen.setdefault(k.lower(), k)
    return list(seen.values()) if any_obj else None


def resolve_field_names(
    ddl_names: list[str], path: str, require_match: bool = False
) -> dict[str, str]:
    """DDL column -> actual file key, matched case-insensitively
    against the head's keys (Spark's JSON parser matches schema
    field names EXACTLY, so a dump whose keys differ in case from the
    DDL would otherwise read every such value as NULL). Falls back to
    the DDL casing for keys the probe does not see. MySQL column
    names are unique case-insensitively, so the mapping is
    injective.

    ``require_match=True`` raises when the probe sees keys but NONE
    of them matches a DDL column: such a file would read as all-NULL
    rows, and the NOT NULL default-fill ladder would then silently
    fabricate rows out of column defaults — refusing loudly is the
    only honest behavior."""
    probed = probe_jsonl_keys(path) or []
    by_lower = {k.lower(): k for k in probed}
    if require_match and probed:
        if not any(n.lower() in by_lower for n in ddl_names):
            raise ValueError(
                f"JSONL file {path!r}: none of its keys "
                f"{sorted(probed)[:8]} match any target column "
                f"{list(ddl_names)[:8]} — its rows would read as "
                "all-NULL and default-fill would fabricate data; "
                "refusing to ingest it"
            )
    return {n: by_lower.get(n.lower(), n) for n in ddl_names}
