"""S3/T1/T2: mydumper ``.sql`` dump source.

Spark has no built-in reader for mydumper dumps (``INSERT INTO tbl
(cols) VALUES (...),(...);`` text). The reference lexes them with a
Ragel state machine (lightning/mydump/parser.rl:36-160,
parser.go:293-495) that is *tolerant*: anything that is not an INSERT
statement (DDL, SET, comments) is skipped; literals are typed
(parser.go:442-493) and unescaped (parser.go:244-290).

This module re-expresses that as a Python tokenizer (regex DFA — the
moral equivalent of the Ragel-generated scanner) run inside
``mapInPandas`` over a plan-time DataFrame of file paths: one task
per data file, matching the reference's one-TableRegion-per-file
parallelization (lightning/mydump/region.go:135-176). mydumper
splits large tables into many ``{db}.{tbl}.{part}.sql`` files, so
file-level fan-out is the natural 100 TB strategy; rows never touch
the driver.

Row representation: ``array<string>`` in canonical text form —
NULL -> None, TRUE/FALSE -> '1'/'0', numbers as written, strings
unescaped, hex/bin literals -> ``0x<HEX>`` (the cast layer decodes
them for binary columns). Deterministic per-file row-id bases are
reserved at plan time like PrevRowIDMax chaining
(region.go:146-170), using file size as a safe upper bound on rows.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import settle_import_caches

_TOKEN = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<comment>--[^\n]*|\#[^\n]*|/\*.*?\*/)
  | (?P<str>'(?:[^'\\]|\\.|'')*'|"(?:[^"\\]|\\.|"")*")
  | (?P<bq>`(?:[^`]|``)*`)
  | (?P<hex>0[xX][0-9a-fA-F]+|[xX]'[0-9a-fA-F]*')
  | (?P<bin>0[bB][01]+|[bB]'[01]*')
  | (?P<num>[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?)
  | (?P<word>[A-Za-z_][A-Za-z0-9_$]*)
  | (?P<punct>.)
    """,
    re.S | re.X,
)

_TOKEN_NOESC = re.compile(
    # NO_BACKSLASH_ESCAPES flavor: backslash is literal in strings
    r"""
    (?P<ws>\s+)
  | (?P<comment>--[^\n]*|\#[^\n]*|/\*.*?\*/)
  | (?P<str>'(?:[^']|'')*'|"(?:[^"]|"")*")
  | (?P<bq>`(?:[^`]|``)*`)
  | (?P<hex>0[xX][0-9a-fA-F]+|[xX]'[0-9a-fA-F]*')
  | (?P<bin>0[bB][01]+|[bB]'[01]*')
  | (?P<num>[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?)
  | (?P<word>[A-Za-z_][A-Za-z0-9_$]*)
  | (?P<punct>.)
    """,
    re.S | re.X,
)

_ESCAPES = {
    "0": "\0", "b": "\b", "n": "\n", "r": "\r", "t": "\t",
    "Z": "\x1a", "\\": "\\", "'": "'", '"': '"', "%": "\\%", "_": "\\_",
}


_BS_RE = re.compile(r"\\(.)", re.S)


def _esc_repl(m: re.Match) -> str:
    return _ESCAPES.get(m.group(1), m.group(1))


def _unescape(body: str, quote: str, backslash: bool) -> str:
    """T2: MySQL string unescape (parser.go:244-290)."""
    if quote in body:
        body = body.replace(quote + quote, quote)
    if backslash and "\\" in body:
        body = _BS_RE.sub(_esc_repl, body)
    return body


def parse_insert_statements(
    text: str, backslash_escape: bool = True
) -> Iterator[tuple[list[str] | None, list[list[str | None]]]]:
    """Yield (column_list_or_None, rows) per INSERT statement.

    Tolerant like the reference: non-INSERT statements are skipped
    (parser.rl:139-152 treats unknown keywords as comments).

    Tries the vectorized fast path first (C-level splits after a
    single string/comment-extraction pass — ~6× the per-token
    tokenizer); any structural anomaly falls back to the exact
    tokenizer for the whole text.
    """
    fast = _parse_fast(text, backslash_escape)
    if fast is not None:
        yield from fast
        return
    yield from _parse_insert_statements_slow(text, backslash_escape)


# -- fast path ---------------------------------------------------------------

_PRE = re.compile(
    r"""(?P<comment>--[^\n]*|\#[^\n]*|/\*.*?\*/)
      | (?P<str>'(?:[^'\\]|\\.|'')*'|"(?:[^"\\]|\\.|"")*")
      | (?P<bq>`(?:[^`]|``)*`)""",
    re.S | re.X,
)
_PRE_NOESC = re.compile(
    r"""(?P<comment>--[^\n]*|\#[^\n]*|/\*.*?\*/)
      | (?P<str>'(?:[^']|'')*'|"(?:[^"]|"")*")
      | (?P<bq>`(?:[^`]|``)*`)""",
    re.S | re.X,
)
_HDR = re.compile(
    r"^\s*(?:INSERT|REPLACE)(?:\s+(?:IGNORE|INTO|LOW_PRIORITY|DELAYED"
    r"|HIGH_PRIORITY))*\s+(?:[\x00\x01]\d+[\x00\x01]|[A-Za-z0-9_$.]+)"
    r"(?:\s*\.\s*(?:[\x00\x01]\d+[\x00\x01]|[A-Za-z0-9_$.]+))?"
    r"\s*(?:\((?P<cols>[^()]*)\))?\s*VALUES?\s*",
    re.I | re.S,
)
_TUPLE_SEP = re.compile(r"\)\s*,\s*\(")
_STMT_START = re.compile(r"\s*(INSERT|REPLACE)\b", re.I)
_HEXNUM = re.compile(r"0[xX][0-9a-fA-F]+\Z")
_BINNUM = re.compile(r"0[bB][01]+\Z")
_HEXDIGITS = re.compile(r"[0-9a-fA-F]*\Z")
_BINDIGITS = re.compile(r"[01]*\Z")


def _parse_fast(
    text: str, backslash_escape: bool
) -> list[tuple[list[str] | None, list[list[str | None]]]] | None:
    """Whole-text fast parse; None when the input needs the tokenizer.

    Pass 1 replaces strings/backticks with ``\\x00<idx>\\x00``
    placeholders (decoded eagerly) and comments with a space — one
    Python callback per *literal*, not per token. The remainder has
    no quotes, so statement split on ';', tuple split on ``),(`` and
    field split on ',' are all plain C string ops.
    """
    if "\x00" in text or "\x01" in text:
        return None
    strings: list[str] = []
    pre = _PRE if backslash_escape else _PRE_NOESC

    def _store(m: re.Match) -> str:
        g = m.lastgroup
        if g == "comment":
            return " "
        s = m.group(0)
        idx = len(strings)
        if g == "bq":
            strings.append(s[1:-1].replace("``", "`"))
            return f"\x01{idx}\x01"
        strings.append(_unescape(s[1:-1], s[0], backslash_escape))
        return f"\x00{idx}\x00"

    text = pre.sub(_store, text)
    out: list[tuple[list[str] | None, list[list[str | None]]]] = []
    for stmt in text.split(";"):
        if not _STMT_START.match(stmt):
            continue
        hdr = _HDR.match(stmt)
        if not hdr:
            return None  # tolerant-header shape the fast path can't see
        cols: list[str] | None = None
        if hdr.group("cols") is not None:
            try:
                cols = [
                    _resolve_field(c, strings, identifier=True)
                    for c in hdr.group("cols").split(",")
                    if c.strip()
                ]
            except _FastMiss:
                return None
        body = stmt[hdr.end():].strip()
        if not (body.startswith("(") and body.endswith(")")):
            return None  # e.g. ON DUPLICATE KEY tail / empty VALUES
        rows: list[list[str | None]] = []
        for tup in _TUPLE_SEP.split(body[1:-1]):
            if "(" in tup or ")" in tup:
                return None  # nested parens: not literal-only VALUES
            try:
                rows.append(
                    [_resolve_field(f, strings) for f in tup.split(",")]
                )
            except _FastMiss:
                return None
        out.append((cols, rows))
    return out


class _FastMiss(Exception):
    pass


_CLEAN_NUM = re.compile(r"[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?\Z")


def _resolve_field(
    f: str, strings: list[str], identifier: bool = False
) -> str | None:
    f = f.strip()
    if not f:
        raise _FastMiss
    if f.isdigit():  # majority case: unsigned int literals
        return f
    c = f[0]
    if c == "\x00":
        # quoted-string column names are ignored by the tokenizer's
        # header scan — divergent shape, let the slow path decide
        if f.endswith("\x00") and len(f) > 2 and not identifier:
            inner = f[1:-1]
            if inner.isdigit():
                return strings[int(inner)]
        raise _FastMiss
    if c == "\x01":
        if f.endswith("\x01") and len(f) > 2:
            inner = f[1:-1]
            if inner.isdigit():
                return strings[int(inner)]
        raise _FastMiss
    if "\x00" in f or "\x01" in f:
        # x'..'/b'..' literals: the quoted digits were string-extracted,
        # leaving `x<placeholder>` — reconstruct the hex form
        if (
            len(f) > 3
            and c in "xXbB"
            and f[1] == "\x00"
            and f.endswith("\x00")
            and f[2:-1].isdigit()
        ):
            d = strings[int(f[2:-1])]
            if c in "xX" and _HEXDIGITS.match(d):
                return "0x" + d.upper()
            if c in "bB" and _BINDIGITS.match(d):
                return ("0x%X" % int(d, 2)) if d else "0x"
        raise _FastMiss
    if "'" in f or '"' in f or "`" in f:
        raise _FastMiss  # partial string artifacts → tokenizer
    if identifier:
        return f
    if _CLEAN_NUM.match(f):
        return f
    u = f.upper()
    if u == "NULL":
        return None
    if u == "TRUE":
        return "1"
    if u == "FALSE":
        return "0"
    if u.startswith("0X") and _HEXNUM.match(f):
        return "0x" + f[2:].upper()
    if u.startswith("0B") and _BINNUM.match(f):
        return "0x%X" % int(f[2:], 2)
    return f


def _insert_header(
    text: str, pos: int, tok: re.Pattern
) -> tuple[list[str] | None, int] | None:
    """The next INSERT/REPLACE ... VALUES header at or after ``pos``:
    (its column list, None without one; the position after VALUES),
    or None when no statement follows."""
    n = len(text)
    while pos < n:
        m = tok.match(text, pos)
        if not m:
            pos += 1
            continue
        pos = m.end()
        kind = m.lastgroup
        if kind != "word":
            continue
        if m.group("word").upper() not in ("INSERT", "REPLACE"):
            continue
        # scan forward for VALUES/VALUE, collecting a possible (col,..)
        cols: list[str] | None = None
        pending: list[str] = []
        in_parens = False
        while pos < n:
            m = tok.match(text, pos)
            if not m:
                pos += 1
                continue
            pos = m.end()
            kind = m.lastgroup
            if kind in ("ws", "comment"):
                continue
            if kind == "word":
                w = m.group("word").upper()
                if w in ("VALUES", "VALUE") and not in_parens:
                    return cols, pos
                if in_parens:
                    pending.append(m.group("word"))
                continue
            if kind == "bq" and in_parens:
                pending.append(m.group("bq")[1:-1].replace("``", "`"))
                continue
            if kind == "punct":
                p = m.group("punct")
                if p == "(" and not in_parens:
                    in_parens, pending = True, []
                elif p == ")" and in_parens:
                    in_parens, cols = False, pending
                elif p == ";":
                    break
            # anything else inside the header is ignored
    return None


def _parse_insert_statements_slow(
    text: str, backslash_escape: bool = True
) -> Iterator[tuple[list[str] | None, list[list[str | None]]]]:
    """Exact per-token state machine (the reference-parity path)."""
    tok = _TOKEN if backslash_escape else _TOKEN_NOESC
    pos = 0
    while (header := _insert_header(text, pos, tok)) is not None:
        cols, pos = header
        rows, pos = _parse_tuples(text, pos, tok, backslash_escape)
        yield cols, rows


def _parse_tuples(
    text: str, pos: int, tok: re.Pattern, backslash: bool
) -> tuple[list[list[str | None]], int]:
    """Parse (v,v,..),(v,..)...; returning (rows, end_pos)."""
    n = len(text)
    rows: list[list[str | None]] = []
    row: list[str | None] = []
    depth = 0
    # literal-wrapping expression calls (parser.go treats these as
    # expressions around one literal): CONVERT('...' USING cs) in the
    # reference's own vt.json fixture. A frame is [entry_depth,
    # literal_appended]; inside it, exactly the FIRST literal token
    # lands in the row and the function name / USING / charset words
    # are consumed silently.
    fn_stack: list[list] = []
    pending_fn = False
    while pos < n:
        m = tok.match(text, pos)
        if not m:
            pos += 1
            continue
        kind = m.lastgroup
        if depth == 0 and kind == "word" and m.group("word").upper() in (
            "INSERT",
            "REPLACE",
        ):
            # missing ';' before the next statement: rewind, end here
            return rows, pos
        pos = m.end()
        if kind in ("ws", "comment"):
            continue
        if kind == "punct":
            p = m.group("punct")
            if p == "(":
                depth += 1
                if pending_fn and depth >= 2:
                    fn_stack.append([depth, False])
                pending_fn = False
                if depth == 1:
                    row = []
                continue
            if p == ")":
                if fn_stack and depth == fn_stack[-1][0]:
                    fn_stack.pop()
                depth -= 1
                if depth == 0:
                    rows.append(row)
                continue
            if p == ",":
                continue
            if p == ";":
                return rows, pos
            continue
        if depth == 0:
            # junk between tuples (e.g. ON DUPLICATE KEY ...) — skip
            continue
        # a CONVERT not directly followed by "(" was a plain word; the
        # pending flag must not leak onto a later paren
        was_pending, pending_fn = pending_fn, False
        in_fn = bool(fn_stack)
        if in_fn and kind in ("str", "num", "hex", "bin"):
            if fn_stack[-1][1]:
                continue  # only the first literal is the value
            fn_stack[-1][1] = True
        # T1: literal typing (parser.go:442-493)
        if kind == "str":
            s = m.group("str")
            row.append(_unescape(s[1:-1], s[0], backslash))
        elif kind == "num":
            row.append(m.group("num"))
        elif kind == "word":
            w = m.group("word").upper()
            if in_fn:
                continue  # USING / charset-name inside CONVERT(...)
            if w == "CONVERT" and not was_pending:
                pending_fn = True
            elif w == "NULL":
                row.append(None)
            elif w == "TRUE":
                row.append("1")
            elif w == "FALSE":
                row.append("0")
            else:
                row.append(m.group("word"))
        elif kind == "hex":
            h = m.group("hex")
            digits = h[2:] if h[1] in "xX" and h[0] == "0" else h[2:-1]
            row.append("0x" + digits.upper())
        elif kind == "bin":
            b = m.group("bin")
            digits = b[2:] if b[1] in "bB" and b[0] == "0" else b[2:-1]
            row.append("0x%X" % int(digits, 2) if digits else "0x")
        elif kind == "bq":
            row.append(m.group("bq")[1:-1].replace("``", "`"))
    return rows, pos


def _decode(raw: bytes, character_set: str) -> str:
    cs = character_set.lower()
    if cs in ("utf8", "utf8mb4"):
        return raw.decode("utf-8")
    if cs == "gb18030":
        return raw.decode("gb18030")
    if cs == "binary":
        return raw.decode("latin-1")
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        try:
            return raw.decode("gb18030")
        except UnicodeDecodeError:
            return raw.decode("latin-1")


# marks a field position ABSENT from the source row (short VALUES
# tuple) — distinct from an explicit NULL literal; the permutation
# layer fills the column default for it. Control-char framing keeps
# collision with real data out of reach (a dump string would need
# this exact 20-byte sequence).
MISSING_FIELD = "\x00\x1f\x7f__tlr4s_default__\x7f\x1f\x00"

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("_file", T.StringType(), False),
        T.StructField("_row_id", T.LongType(), False),
        T.StructField("_columns", T.ArrayType(T.StringType()), True),
        T.StructField("_fields", T.ArrayType(T.StringType()), True),
    ]
)


def positional_schema(n: int) -> T.StructType:
    """``_row_id`` plus ``_c0.._c{n-1}`` strings: the row shape of the
    .sql reader's columnar branch and of the strict CSV reader."""
    return T.StructType(
        [T.StructField("_row_id", T.LongType(), False)]
        + [T.StructField(f"_c{i}", T.StringType(), True) for i in range(n)]
    )


def positional_frame(row_ids, rows: list[list], n: int) -> pd.DataFrame:
    """``rows`` in positional_schema(n) columns. A short row pads with
    MISSING_FIELD (NOT None): `VALUES ()` means column defaults, an
    explicit NULL literal means NULL (restore.go:1356-1406). A long
    row is cut to ``n`` fields."""
    if {len(r) for r in rows} != {n}:
        rows = [
            r if len(r) == n else (r + [MISSING_FIELD] * (n - len(r)))[:n]
            for r in rows
        ]
    cols = list(zip(*rows)) or [()] * n
    return pd.DataFrame(
        {"_row_id": row_ids, **{f"_c{i}": c for i, c in enumerate(cols)}}
    )


_MARKERS = (b"\nINSERT", b"\nREPLACE")
_READ_STEP = 8 << 20
# auto-sized byte-range splits: table bytes / SPLIT_TARGETS, clamped
# to [1 MiB, 64 MiB]. A constant, not defaultParallelism: a PK-less
# table's _tidb_rowid depends on where the splits fall, so the same
# dump must split the same way on every cluster (32 reproduces the
# local[32] record).
SPLIT_TARGETS = 32


def _find_marker(buf: bytes, frm: int) -> int:
    """First \\nINSERT/\\nREPLACE position at/after ``frm`` (-1: none)."""
    best = -1
    for m in _MARKERS:
        i = buf.find(m, frm)
        if i != -1 and (best == -1 or i < best):
            best = i
    return best


def _utf8_head(path: str) -> bool:
    """Head-probe: True when the file looks UTF-8/ASCII (byte-range
    splitting is then safe — ASCII markers can't occur inside UTF-8
    multi-byte sequences; GB18030 second bytes CAN be ASCII letters,
    so non-UTF-8 files stay whole-file)."""
    try:
        head = open(path, "rb").read(65536)
    except OSError:
        return False
    if len(head) == 65536:
        head = head[:-4]  # drop a possibly-truncated trailing char
    try:
        head.decode("utf-8")
        return True
    except UnicodeDecodeError:
        return False


def probe_insert_columns(
    path: str, character_set: str = "auto"
) -> list[str] | None:
    """Driver-side peek at the first INSERT's column list (no Spark
    job): mydumper writes the header at the top of every data file,
    so a 64 KiB head + the tolerant tokenizer, stopped at VALUES,
    finds it. None when statements carry no column list (the common
    case — table order applies)."""
    try:
        head = open(path, "rb").read(65536)
    except OSError:
        return None
    try:
        text = _decode(head, character_set)
    except UnicodeDecodeError:
        text = head.decode("utf-8", errors="ignore")
    header = _insert_header(text, 0, _TOKEN)
    return header[0] if header else None


def read_sql_dump(
    spark: SparkSession,
    files: list[tuple[str, int]],
    character_set: str = "auto",
    num_columns: int | None = None,
    split_bytes: int | None = None,
    columnar: bool = False,
    all_files: list[tuple[str, int]] | None = None,
    column_names: list[str] | None = None,
    bases: dict[str, int] | None = None,
    divisor: int | None = None,
) -> DataFrame:
    """Parse mydumper .sql data files into (file, row_id, fields) rows.

    ``files``: (path, size) pairs from the discovery step. Row-id
    ``bases`` and ``divisor`` come from the table's row-id chain
    (rowid.plan_row_ids, which reserves size/divisor ids per file as
    the reference does, region.go:146-170): ids are unique +
    deterministic, bounded gaps. Without them the chain is planned
    over ``all_files`` alone, ``num_columns`` being the narrowest
    INSERT column list. ``columnar`` rows are ``_row_id`` plus one
    string column per field: named ``column_names`` (the files'
    INSERT column list, which may differ from the table's) or
    ``_c0..`` for ``num_columns`` fields.

    Large UTF-8 files are **byte-range split** (the distributed analog
    of the reference's statement-boundary ReadChunks,
    lightning/mydump/parser.go:502-535): each task owns the statements
    whose ``\\nINSERT``/``\\nREPLACE`` marker starts inside its byte
    range and reads ahead to the next marker to finish the last one —
    regions tile the file exactly. Per-statement row-id bases come
    from the statement's absolute byte offset (``base + off //
    divisor``), collision-free for any chunking because every row
    occupies ≥ divisor bytes. Caveat (documented, mydumper-shape
    assumption): a *string literal* containing a raw newline
    immediately followed by INSERT/REPLACE would be mis-split;
    mydumper and this repo's writer always escape newlines in strings.
    """
    from ..operators.rowid import plan_row_ids

    # row-id bases AND the split size always come from the table's
    # FULL file list: engine-grain resume reads a subset of files per
    # call, and the ids of a file must not depend on which other files
    # ride along (checkpoint resume parity, restore.go:861-870) — a
    # file read whole gets dense ids from its base, a split one
    # base + statement_offset // divisor
    table_files = all_files if all_files is not None else files
    if bases is None:
        ids = plan_row_ids(
            [(p, sz, "sql") for p, sz in table_files],
            {"sql": num_columns or 0},
        )
        bases, divisor = ids.bases, ids.divisor["sql"]

    width = len(column_names) if column_names else int(num_columns or 0)
    if split_bytes is None:
        total = sum(sz for _, sz in table_files)
        split_bytes = min(64 << 20, max(1 << 20, total // SPLIT_TARGETS + 1))

    chunks: list[tuple[str, int, int, int]] = []
    for p, sz in files:
        if (
            sz > split_bytes * 3 // 2
            and character_set.lower() in ("utf8", "utf8mb4", "auto", "binary")
            and _utf8_head(p)
        ):
            nchunks = -(-sz // split_bytes)
            for i in range(nchunks):
                chunks.append(
                    (p, i * split_bytes, min((i + 1) * split_bytes, sz), bases[p])
                )
        else:
            chunks.append((p, 0, sz, bases[p]))

    # one PARTITION per chunk directly — see metadata_df for why a
    # .repartition here would cost an extra shuffle job per read
    from ..operators.rowid import metadata_df

    plan_schema = T.StructType(
        [
            T.StructField("path", T.StringType(), False),
            T.StructField("start", T.LongType(), False),
            T.StructField("end", T.LongType(), False),
            T.StructField("base", T.LongType(), False),
        ]
    )
    plan = metadata_df(spark, chunks, plan_schema, slices=len(chunks))

    whole_file = {p: (len([c for c in chunks if c[0] == p]) == 1) for p, _ in files}

    def _parse_region(
        path: str, text: str, fbase: int, byte_off: int
    ) -> tuple[list, list, list, list]:
        """Parse one region; ids from per-segment byte offsets."""
        out_file: list = []
        out_rid: list = []
        out_cols: list = []
        out_fields: list = []
        # split the region at its own internal markers so each
        # statement-group gets its byte-offset-derived id base
        # (marker chars are ASCII; char offsets <= byte offsets keeps
        # the >=divisor-bytes-per-row uniqueness argument valid)
        seg_starts = [0]
        i = 0
        while True:
            j1 = text.find("\nINSERT", i)
            j2 = text.find("\nREPLACE", i)
            j = min(x for x in (j1, j2) if x != -1) if (j1 != -1 or j2 != -1) else -1
            if j == -1:
                break
            seg_starts.append(j + 1)
            i = j + 1
        seg_starts = sorted(set(seg_starts))
        for k, s0 in enumerate(seg_starts):
            s1 = seg_starts[k + 1] if k + 1 < len(seg_starts) else len(text)
            seg = text[s0:s1]
            if not seg.strip():
                continue
            rid = fbase + (byte_off + s0) // divisor
            for cols, rows in parse_insert_statements(seg):
                for r in rows:
                    rid += 1
                    out_file.append(path)
                    out_rid.append(rid)
                    out_cols.append(cols)
                    out_fields.append(r)
        return out_file, out_rid, out_cols, out_fields

    def parse_files(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        settle_import_caches()
        for pdf in batches:
            for path, start, end, fbase in zip(
                pdf["path"], pdf["start"], pdf["end"], pdf["base"]
            ):
                start, end, fbase = int(start), int(end), int(fbase)
                if whole_file.get(path) and start == 0:
                    # single-chunk file: sequential ids from the file
                    # base (round-1 behavior, dense within the file)
                    raw = open(path, "rb").read()
                    text = _decode(raw, character_set)
                    out_file, out_rid, out_cols, out_fields = [], [], [], []
                    rid = fbase
                    for cols, rows in parse_insert_statements(text):
                        for r in rows:
                            rid += 1
                            out_file.append(path)
                            out_rid.append(rid)
                            out_cols.append(cols)
                            out_fields.append(r)
                else:
                    with open(path, "rb") as fh:
                        read_from = max(start - 1, 0)
                        fh.seek(read_from)
                        # +7: a marker whose pos+1 is inside [start,end)
                        # can have its text spill past end-1 — without
                        # the overlap no chunk would claim it
                        buf = fh.read(end - read_from + 7)
                        # region start: first marker with pos+1 >= start
                        if start == 0:
                            s_abs = 0
                        else:
                            sm = _find_marker(buf, 0)
                            s_abs = read_from + sm + 1 if sm != -1 else -1
                        if s_abs == -1 or s_abs >= end:
                            continue  # no statement starts in this chunk
                        # region end: first marker with pos+1 >= end
                        floor = max(end - 1 - read_from, 0)
                        search_from = floor
                        while True:
                            em = _find_marker(buf, search_from)
                            if em != -1:
                                e_abs = read_from + em + 1
                                break
                            step = fh.read(_READ_STEP)
                            if not step:
                                e_abs = read_from + len(buf)
                                break
                            # back up 7 bytes for a straddling marker,
                            # never below the chunk-end floor
                            search_from = max(len(buf) - 7, floor)
                            buf += step
                        if s_abs == -1 or s_abs >= e_abs:
                            out_file, out_rid, out_cols, out_fields = (
                                [], [], [], [],
                            )
                        else:
                            region = buf[s_abs - read_from : e_abs - read_from]
                            text = _decode(region, character_set)
                            (
                                out_file,
                                out_rid,
                                out_cols,
                                out_fields,
                            ) = _parse_region(path, text, fbase, s_abs)
                if not out_file:
                    continue
                if columnar:
                    # emit positional string columns directly: no
                    # list<string> Arrow arrays, no JVM-side getItem
                    # re-projection — measurably faster at 100 TB
                    # where every extra pass over the row stream counts
                    yield positional_frame(out_rid, out_fields, width)
                else:
                    yield pd.DataFrame(
                        {
                            "_file": out_file,
                            "_row_id": out_rid,
                            "_columns": out_cols,
                            "_fields": out_fields,
                        }
                    )

    if not columnar:
        return plan.mapInPandas(parse_files, schema=OUTPUT_SCHEMA)
    df = plan.mapInPandas(parse_files, schema=positional_schema(width))
    return df.toDF("_row_id", *column_names) if column_names else df
