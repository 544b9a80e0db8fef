"""TOML task-file loader — the ``tidb-lightning -config task.toml``
surface.

Parses the reference's TOML layout (lightning/config/config.go:83-160,
tidb-lightning.toml) into a ``Config``, with the reference's
unused-key check: unknown sections or keys FAIL the load, listing
every offender (lightning/config/config.go:300-320 strict decoding;
tests/unused_config_keys/run.sh asserts each typo'd key is named).

TiKV-physical keys (importer addr, region split sizes, security TLS
paths, cron switch-mode …) are ACCEPTED and ignored — they configure
the physical backend this engine maps to Spark (SURVEY.md §2.4);
accepting them keeps real task.toml files loadable unchanged.
"""

from __future__ import annotations

import tomllib

from .config import (
    Config,
    CSVConfig,
    FilterRule,
    MydumperConfig,
    RouteRule,
    TiDBConfig,
)

# section -> known keys. A key listed here may still be unused by the
# Spark engine (physical knobs) — "known" means it exists in the
# reference's config struct, so a real task.toml round-trips.
_KNOWN: dict[str, set[str]] = {
    "lightning": {
        "table-concurrency", "index-concurrency", "region-concurrency",
        "io-concurrency", "check-requirements", "file", "level",
        "max-size", "max-days", "max-backups", "pprof-port",
    },
    "tikv-importer": {"backend", "addr", "on-duplicate"},
    "mydumper": {
        "data-source-dir", "no-schema", "character-set",
        "read-block-size", "batch-size", "batch-import-ratio",
        "case-sensitive", "strict-format", "max-region-size", "filter",
    },
    "mydumper.csv": {
        "separator", "delimiter", "header", "not-null", "null",
        "backslash-escape", "trim-last-separator",
    },
    "tidb": {
        "host", "port", "user", "password", "status-port", "pd-addr",
        "sql-mode", "tls", "security", "max-allowed-packet",
        "distsql-scan-concurrency", "index-serial-scan-concurrency",
        "checksum-table-concurrency", "build-stats-concurrency",
        "log-level",
    },
    "checkpoint": {"enable", "schema", "driver", "dsn", "keep-after-success"},
    # analyze-mode and checksum-algo are beyond-reference extensions
    # (auto = skip the ANALYZE row-count scan when the run already
    # verified the count; checksum-algo selects xxdirect or
    # kv_crc64[_v2] — the reference's checksum algorithm is
    # fixed crc64 over TiKV KV bytes, which kv_crc64 reproduces)
    "post-restore": {
        "checksum", "compact", "level-1-compact", "analyze",
        "analyze-mode", "checksum-algo", "kv-table-ids",
    },
    "black-white-list": {
        "do-dbs", "ignore-dbs", "do-tables", "ignore-tables",
    },
    "cron": {"switch-mode", "log-progress"},
    "security": {
        "ca-path", "cert-path", "key-path", "redact-info-log",
    },
    "routes": set(),  # array of route tables, validated separately
}
_ROUTE_KEYS = {
    "schema-pattern", "table-pattern", "target-schema", "target-table",
}
# tidb-tools filter TOML tags (black-white-list do/ignore-tables)
_TABLE_RULE_KEYS = {"db-name", "tbl-name"}


def _check_unknown(doc: dict) -> list[str]:
    bad: list[str] = []
    for section, body in doc.items():
        if section not in _KNOWN:
            bad.append(section)
            continue
        if section == "routes":
            if isinstance(body, dict):
                bad.append("routes (expected [[routes]] array of tables)")
                continue
            for i, r in enumerate(body or []):
                bad += [
                    f"routes[{i}].{k}" for k in r if k not in _ROUTE_KEYS
                ]
            continue
        if not isinstance(body, dict):
            continue
        for k, v in body.items():
            if section == "mydumper" and k == "csv":
                bad += [
                    f"mydumper.csv.{ck}"
                    for ck in v
                    if ck not in _KNOWN["mydumper.csv"]
                ]
                continue
            if section == "black-white-list" and k in (
                "do-tables", "ignore-tables",
            ):
                for i, r in enumerate(v or []):
                    bad += [
                        f"black-white-list.{k}[{i}].{rk}"
                        for rk in r
                        if rk not in _TABLE_RULE_KEYS
                    ]
                continue
            if k not in _KNOWN[section]:
                bad.append(f"{section}.{k}")
    return bad


_BACKEND_MAP = {
    # physical backends map to the bulk-file sink; "tidb" is the
    # SQL-statement path -> JDBC sink
    "importer": "parquet",
    "local": "parquet",
    "tidb": "jdbc",
}


def _pick(src: dict, mapping: dict[str, tuple[str, type]]) -> dict:
    """kwargs for keys PRESENT in the TOML section — absent keys fall
    through to the dataclass defaults (single source of truth)."""
    out = {}
    for toml_key, (field_name, conv) in mapping.items():
        if toml_key in src:
            out[field_name] = conv(src[toml_key])
    return out


def load_toml(path: str) -> Config:
    """Load a reference-layout task.toml into a Config.

    Raises ValueError naming every unknown section/key (the
    reference's strict decode, tests/unused_config_keys)."""
    with open(path, "rb") as f:
        doc = tomllib.load(f)
    bad = _check_unknown(doc)
    if bad:
        raise ValueError(
            "unknown configuration keys: " + ", ".join(sorted(bad))
        )

    light = doc.get("lightning", {})
    imp = doc.get("tikv-importer", {})
    md = doc.get("mydumper", {})
    csv_d = md.get("csv", {})
    tidb = doc.get("tidb", {})
    ck = doc.get("checkpoint", {})
    post = doc.get("post-restore", {})
    bw = doc.get("black-white-list", {})

    csv = CSVConfig(**_pick(csv_d, {
        "separator": ("separator", str),
        "delimiter": ("delimiter", str),
        "header": ("header", bool),
        "not-null": ("not_null", bool),
        "null": ("null", str),
        "backslash-escape": ("backslash_escape", bool),
        "trim-last-separator": ("trim_last_sep", bool),
    }))
    # strict-format is a beyond-reference extension modeled on later
    # tidb-lightning versions (release-4.0 has no SplitLargeFile); it
    # lives at the mydumper level and drives the CSV split mode here
    if md.get("strict-format"):
        csv.strict_format = True
    routes = [
        RouteRule(
            r["schema-pattern"],
            r.get("table-pattern", "*"),
            r["target-schema"],
            r.get("target-table", r.get("table-pattern", "*")),
        )
        for r in doc.get("routes", [])
    ]
    # tidb-tools filter tags: db-name / tbl-name
    to_pair = lambda d: (d["db-name"], d["tbl-name"])  # noqa: E731
    driver = ck.get("driver", "file")
    if driver not in ("file", ""):
        # a non-file driver silently downgraded to an in-memory store
        # would LOSE crash-resume; fail loud with the supported path
        raise ValueError(
            f"checkpoint driver {driver!r} is not supported by the TOML "
            "loader; use driver='file' with a dsn path, or construct "
            "RestoreController with a SQLCheckpointStore(connection_factory)"
        )
    cfg = Config(
        mydumper=MydumperConfig(
            csv=csv,
            **_pick(md, {
                "data-source-dir": ("source_dir", str),
                "no-schema": ("no_schema", bool),
                "character-set": ("character_set", str),
                "read-block-size": ("read_block_size", int),
                "batch-size": ("batch_size", int),
                "case-sensitive": ("case_sensitive", bool),
            }),
        ),
        tidb=TiDBConfig(**_pick(tidb, {
            "host": ("host", str),
            "port": ("port", int),
            "user": ("user", str),
            "password": ("password", str),
            "sql-mode": ("sql_mode", str),
        })),
        bw_list=FilterRule(
            do_dbs=list(bw.get("do-dbs", [])),
            ignore_dbs=list(bw.get("ignore-dbs", [])),
            do_tables=[to_pair(d) for d in bw.get("do-tables", [])],
            ignore_tables=[to_pair(d) for d in bw.get("ignore-tables", [])],
        ),
        routes=routes,
        backend=_BACKEND_MAP.get(imp.get("backend", "importer"), "parquet"),
        checkpoint_path=ck.get("dsn", ""),
        **_pick(imp, {"on-duplicate": ("on_duplicate", str)}),
        **_pick(ck, {"enable": ("checkpoint_enable", bool)}),
        **_pick(post, {
            "checksum": ("checksum", bool),
            "compact": ("compact", bool),
            "analyze": ("analyze", bool),
            "analyze-mode": ("analyze_mode", str),
            "checksum-algo": ("checksum_algo", str),
            # table name -> TiKV table id for the kv_crc64 modes
            "kv-table-ids": ("kv_table_ids", dict),
        }),
        **_pick(light, {"table-concurrency": ("table_concurrency", int)}),
    )
    return cfg
