"""Independent references for the benchmark's output checks (DuckDB).

The flagship and stream references rebuild transcripts and dims with the
program's own dialect-portable SQL (``sources.transcripts.oracle_ctes``)
and then parse, enrich and route in DuckDB with the same route
predicates as ``plans.pipeline.build``. The output digest is computed by
DuckDB on both sides, over the program's written files and over the
reference rows, so it compares like with like.
"""

from __future__ import annotations

import hashlib
import json

import duckdb

from opentelemetry_collector_contrib_spark.schema import PARSE_PATTERN
from opentelemetry_collector_contrib_spark.sources import transcripts as src

#: routes of plans.pipeline.build, first match wins; ``None`` marks the
#: resource-context route (any FATAL turn routes the whole conversation)
BATCH_ROUTES = [
    ("level IN ('ERROR', 'FATAL')", ["errors", "audit"]),
    (None, ["incident"]),
    ("tool <> '' AND risk_tier = 'high'", ["risky_tools"]),
]
#: streaming keeps only the log-context routes
STREAM_ROUTES = [r for r in BATCH_ROUTES if r[0] is not None]
DEFAULT_SINK = "catchall"

_ROW_HASH = "hash(conv_id, turn_idx, coalesce(text, ''))"


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET memory_limit = '1GB'")
    con.execute("SET threads = 2")
    return con


def _parsed(source: str) -> str:
    m = f"regexp_matches(text, '{PARSE_PATTERN}')"
    level = f"CASE WHEN {m} THEN regexp_extract(text, '{PARSE_PATTERN}', 2) END"
    return f"parsed AS (SELECT t.*, {m} AS parse_ok, {level} AS level FROM {source} t)"


def _routed(routes) -> str:
    whens = []
    for i, (cond, _sinks) in enumerate(routes):
        if cond is None:
            cond = (
                "max(CASE WHEN level = 'FATAL' THEN 1 ELSE 0 END) "
                "OVER (PARTITION BY conv_id) = 1"
            )
        whens.append(f"WHEN coalesce({cond}, false) THEN {i}")
    tagged = (
        "tagged AS (SELECT e.*, CASE " + " ".join(whens) + " ELSE -1 END AS _route "
        "FROM enriched e)"
    )
    arms = [
        f"SELECT '{sink}' AS sink, * FROM tagged WHERE _route = {i}"
        for i, (_c, sinks) in enumerate(routes)
        for sink in sinks
    ]
    arms.append(f"SELECT '{DEFAULT_SINK}' AS sink, * FROM tagged WHERE _route = -1")
    return tagged + ", routed AS (" + " UNION ALL ".join(arms) + ")"


_ENRICHED = (
    "enriched AS (SELECT p.*, cd.team, td.risk_tier FROM parsed p "
    "LEFT JOIN conv_dim cd ON p.conv_id = cd.conv_id "
    "LEFT JOIN tool_dim td ON p.tool = td.tool)"
)

_DIGEST_SELECT = (
    f"SELECT sink, count(*) AS n, sum({_ROW_HASH}::HUGEINT) AS h FROM {{}} "
    "GROUP BY sink ORDER BY sink"
)


def _register(con, in_dir: str, tables=src.BASE_TABLES) -> None:
    for t in tables:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{in_dir}/{t}.parquet')"
        )


def flagship_reference(in_dir: str) -> dict:
    """Per-sink counts and per-sink row digests of the batch pipeline,
    plus the input properties the generator records."""
    con = connect()
    _register(con, in_dir)
    ctes = src.oracle_ctes(transcripts=True, dims=True)
    body = (
        f"{ctes}, {_parsed('transcripts')}, {_ENRICHED}, {_routed(BATCH_ROUTES)} "
    )
    rows = con.execute(body + _DIGEST_SELECT.format("routed")).fetchall()
    parse_ok, err = con.execute(
        f"{ctes}, {_parsed('transcripts')} SELECT avg(parse_ok::DOUBLE), "
        "avg(coalesce(level IN ('ERROR', 'FATAL'), false)::INT::DOUBLE) FROM parsed"
    ).fetchone()
    con.close()
    return {
        "per_sink": {s: (int(n), int(h)) for s, n, h in rows},
        "parseable_share": round(parse_ok, 6),
        "error_fatal_share": round(err, 6),
    }


def written_digest(routed_dir: str) -> dict:
    """Per-sink counts and row digests of a ``write_routed`` output tree."""
    con = connect()
    rel = f"read_parquet('{routed_dir}/sink=*/*.parquet', hive_partitioning = true)"
    rows = con.execute(_DIGEST_SELECT.format(rel)).fetchall()
    con.close()
    return {s: (int(n), int(h)) for s, n, h in rows}


def stream_file_counts(path: str, dims_dir: str) -> dict[str, int]:
    """Log-context per-sink counts of one dropped transcript file."""
    con = connect()
    _register(con, dims_dir, ("customer",))
    sql = (
        f"WITH conv_dim AS ({src.CONV_DIM_SQL}), tool_dim AS ({src.TOOL_DIM_SQL}), "
        f"{_parsed(f'read_parquet({path!r})')}, {_ENRICHED}, {_routed(STREAM_ROUTES)} "
        "SELECT sink, count(*) FROM routed GROUP BY sink"
    )
    out = {s: int(n) for s, n in con.execute(sql).fetchall()}
    con.close()
    return out


def metrics_totals(metrics_dir: str) -> dict[str, int]:
    """Per-sink totals of the streaming job's ``metrics`` table."""
    con = connect()
    rows = con.execute(
        f"SELECT sink, sum(n) FROM read_parquet('{metrics_dir}/*.parquet') GROUP BY sink"
    ).fetchall()
    con.close()
    return {s: int(n) for s, n in rows}


def digest(obj) -> str:
    """Short stable digest of a JSON-serialisable value."""
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]
