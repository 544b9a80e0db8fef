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
gzip shards parallelize per-file. The restore lanes read the lines
as text instead and match each line's keys to the DDL
case-insensitively (json_line_map).

Malformed lines are never silently nulled: the default is FAILFAST
(a bad line errors the job loudly); ``keep_corrupt=True`` switches
to PERMISSIVE and captures the raw line in a corrupt-record column
for the caller to route — the CSV fast path's fallback contract.
(PERMISSIVE with the capture column then dropped would be the worst
of both: garbage all-null rows indistinguishable from real nulls.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
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


def json_line_map(line: Column) -> Column:
    """One JSON line as map<string,string> with lower-cased keys: the
    one JSONL parse of both restore lanes (read_jsonl_lines and
    csv_blocks.read_blocks). MySQL column names are case-insensitive
    and Spark's JSON parser is not, so each line's keys are matched on
    their own: one part may spell a key differently on every line.
    Values are the JSON reader's strings. FAILFAST: a malformed line
    FAILS the job instead of materializing as an all-null row that
    default-fill would fabricate into data."""
    m = F.from_json(line, "map<string,string>", {"mode": "FAILFAST"})
    return F.transform_keys(m, lambda k, _: F.lower(k))


def json_line_fields(m: Column, names: list[str]) -> list[Column]:
    """Each of ``names`` looked up by its lower-cased name in a
    json_line_map column (an absent key reads NULL)."""
    return [m[n.lower()].alias(n) for n in names]


def read_jsonl_lines(
    spark: SparkSession, paths: list[str], names: list[str]
) -> DataFrame:
    """JSONL files as all-string columns ``names`` (json_line_map).
    Whitespace-only lines are skipped, as Spark's JSON source does;
    the text source splits and decompresses as the JSON one would.
    Paths are literal."""
    return (
        spark.read.text(literal_paths(paths))
        .filter(F.col("value").rlike(r"\S"))
        .select(json_line_map(F.col("value")).alias("_m"))
        .select(*json_line_fields(F.col("_m"), names))
    )


def require_key_match(ddl_names: list[str], path: str) -> None:
    """Refuse a JSONL file whose keys match NO target column: its rows
    would read as all-NULL, and the NOT NULL default-fill ladder would
    then silently fabricate rows out of column defaults. Driver-side
    peek at the keys of every parseable line in the file's 64 KiB head
    (JSONL rows may omit keys, so one line alone under-reports), no
    Spark job; keys compare case-insensitively, as the read matches
    them. A head with no parseable object passes: the read's FAILFAST
    parse owns malformed lines."""
    import gzip
    import json as _json

    opener = gzip.open if path.endswith(".gz") else open
    try:
        with opener(path, "rt", encoding="utf-8", errors="replace") as f:
            head = f.read(64 * 1024)
    except OSError:
        return
    seen: set[str] = set()
    for line in head.splitlines():
        line = line.strip()
        if not line:
            continue
        try:
            obj = _json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict):
            seen.update(k.lower() for k in obj)
    wanted = {n.lower() for n in ddl_names}
    if seen and not seen & wanted:
        raise ValueError(
            f"JSONL file {path!r}: none of its keys "
            f"{sorted(seen)[:8]} match any target column "
            f"{list(ddl_names)[:8]} — its rows would read as "
            "all-NULL and default-fill would fabricate data; "
            "refusing to ingest it"
        )
