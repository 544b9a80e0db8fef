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
gzip shards parallelize per-file. The restore's table-grain lane
reads the lines as text instead (read_jsonl_lines, a JVM text scan)
and matches each line's keys to the DDL case-insensitively
(json_line_map); on a strict-format table of plain .jsonl parts its
rows take rowid.assign_rowid_by_range, the ids the block-grain
reader (csv_blocks.read_blocks) assigns to the same lines.

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


def json_line_map(line: Column, names: list[str]) -> Column:
    """One JSON line as map<string,string> with lower-cased keys: the
    one JSONL parse of both restore lanes (read_jsonl_lines and
    csv_blocks.read_blocks). MySQL column names are case-insensitive
    and Spark's JSON parser is not, so each line's keys are matched on
    their own: one part may spell a key differently on every line.
    Values are the JSON reader's strings. FAILFAST: a malformed line
    FAILS the job instead of materializing as an all-null row that
    default-fill would fabricate into data; for the same reason a
    non-empty object none of whose keys is one of ``names`` (the DDL
    columns) fails the job, whichever line of its part it is."""
    parsed = F.transform_keys(
        F.from_json(line, "map<string,string>", {"mode": "FAILFAST"}),
        lambda k, _: F.lower(k),
    )
    wanted = F.array(*[F.lit(n.lower()) for n in names])

    def checked(m: Column) -> Column:
        unmatched = (F.size(m) > 0) & ~F.arrays_overlap(F.map_keys(m), wanted)
        message = F.concat(
            F.lit("JSONL line "),
            F.substring(line, 1, 200),
            F.lit(
                " has no key matching a target column "
                f"{list(names)[:8]}: its row would read as all-NULL and "
                "default-fill would fabricate data; refusing to ingest it"
            ),
        )
        return F.when(unmatched, F.raise_error(message)).otherwise(m)

    # the check reads the map through a lambda variable: each line is
    # parsed once (a plain CASE over the parse would repeat it per use)
    return F.transform(F.array(parsed), checked)[0]


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
    One row per kept line in scan order, with no shuffle, so a row-id
    stamp applied on top counts kept lines only, as the block reader
    does. Paths are literal."""
    return (
        spark.read.text(literal_paths(paths))
        .filter(F.col("value").rlike(r"\S"))
        .select(json_line_map(F.col("value"), names).alias("_m"))
        .select(*json_line_fields(F.col("_m"), names))
    )
