"""Independent checks of the engine's outputs.

Committed output is located from the lineage manifest JSON files and
read with DuckDB straight from parquet; expected values come from the
generator's ground truth (pipeline), from DuckDB SQL written here
(queries) or from the registered DuckDB oracle (curation funnel).  No
check runs Spark code.
"""

from __future__ import annotations

import calendar
import glob
import json
import os

import duckdb
import pandas as pd

SINKS = ("errors", "tool_calls", "user_turns")


def committed_dirs(out_dir: str) -> dict[str, list[str]]:
    """sink -> committed run directories, from the manifest files."""
    dirs: dict[str, list[str]] = {s: [] for s in SINKS}
    for fn in sorted(glob.glob(os.path.join(out_dir, "_lineage", "*.json"))):
        with open(fn) as f:
            doc = json.load(f)
        d = os.path.join(out_dir, "sinks", f"run={doc['run_id']}", f"sink={doc['sink']}")
        dirs[doc["sink"]].append(d)
    return dirs


def parquet_list(dirs: list[str]) -> str:
    files = [f for d in dirs for f in sorted(glob.glob(os.path.join(d, "*.parquet")))]
    return "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"


def pipeline_state(con: duckdb.DuckDBPyConnection, out_dir: str) -> dict:
    """Per sink: committed row count, an order-independent fingerprint
    of (conv_id, turn_idx), and the conv-hour aggregate's group count
    and n_turns sum."""
    state = {}
    for sink, dirs in committed_dirs(out_dir).items():
        rows, fp = 0, 0
        if dirs:
            rows, fp = con.sql(
                f"SELECT count(*), coalesce(sum(hash(conv_id, turn_idx)), 0) "
                f"FROM read_parquet({parquet_list(dirs)})"
            ).fetchone()
        agg_dir = os.path.join(out_dir, "aggs", "conv_hour", f"sink={sink}")
        groups, n_turns = 0, 0
        if glob.glob(os.path.join(agg_dir, "*.parquet")):
            groups, n_turns = con.sql(
                f"SELECT count(*), coalesce(sum(n_turns), 0) "
                f"FROM read_parquet({parquet_list([agg_dir])})"
            ).fetchone()
        state[sink] = (int(rows), int(fp), int(groups), int(n_turns))
    return state


def expected_state(con: duckdb.DuckDBPyConnection, routes: pd.DataFrame) -> dict:
    """The same tuple per sink, from the generator's expected routes
    (columns sink, conv_id, turn_idx, hour)."""
    con.register("_routes", routes)
    got = con.sql(
        "SELECT sink, count(*), coalesce(sum(hash(conv_id, turn_idx)), 0), "
        "count(DISTINCT (conv_id, hour)) FROM _routes GROUP BY sink"
    ).fetchall()
    con.unregister("_routes")
    state = {s: (0, 0, 0, 0) for s in SINKS}
    for sink, rows, fp, groups in got:
        state[sink] = (int(rows), int(fp), int(groups), int(rows))
    return state


def add_states(a: dict, b: dict) -> dict:
    """Expected state after appending hour-disjoint batch ``b`` to ``a``
    (counts, fingerprint sums and conv-hour groups are all additive)."""
    return {s: tuple(x + y for x, y in zip(a[s], b[s])) for s in SINKS}


# ---------------------------------------------------------------------------
# Queries over committed sinks.
# ---------------------------------------------------------------------------
def _epoch(v) -> int:
    return calendar.timegm(v.timetuple())


def _where(spec: dict) -> str:
    conds = [f"ts BETWEEN TIMESTAMP '{spec['start']}' AND TIMESTAMP '{spec['end']}'"]
    if spec.get("q"):
        conds.append(f"contains(lower(text), '{spec['q'].lower()}')")
    return " AND ".join(conds)


def query_reference(con: duckdb.DuckDBPyConnection, out_dir: str, spec: dict) -> list:
    """The expected result of one query spec, normalized like
    ``normalize_result``."""
    dirs = committed_dirs(out_dir)
    kind = spec["kind"]
    if kind == "lookup":
        src = parquet_list([d for s in SINKS for d in dirs[s]])
        rows = con.sql(
            f"SELECT DISTINCT conv_id, turn_idx FROM read_parquet({src}) "
            f"WHERE id = '{spec['id']}'"
        ).fetchall()
        return sorted(rows)
    src = f"read_parquet({parquet_list(dirs[spec['sink']])})"
    if kind == "search":
        return con.sql(
            f"SELECT conv_id, turn_idx, level, error_code FROM {src} WHERE {_where(spec)} "
            f"ORDER BY ts DESC, conv_id DESC, turn_idx DESC "
            f"LIMIT {spec['limit']} OFFSET {spec['offset']}"
        ).fetchall()
    if kind == "terms":
        f = spec["field"]
        return con.sql(
            f"SELECT {f}, count(*) FROM {src} WHERE {_where(spec)} AND {f} IS NOT NULL "
            f"AND {f} <> '' GROUP BY 1 ORDER BY 2 DESC, 1 ASC"
        ).fetchall()
    if kind == "histogram":
        return [(_epoch(b), n) for b, n in con.sql(
            f"SELECT date_trunc('hour', ts), count(*) FROM {src} WHERE {_where(spec)} "
            f"GROUP BY 1 ORDER BY 1"
        ).fetchall()]
    if kind == "count":
        return con.sql(f"SELECT count(*) FROM {src} WHERE {_where(spec)}").fetchall()
    if kind == "session":
        return con.sql(
            f"""WITH t AS (
                  SELECT conv_id, turn_idx, epoch(ts) AS s FROM {src}
                  WHERE conv_id = '{spec['conv_id']}'),
                g AS (
                  SELECT *, row_number() OVER w AS turn_rank,
                         CASE WHEN s - lag(s) OVER w > 1800 THEN 1 ELSE 0 END AS brk
                  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
                SELECT conv_id, turn_idx, turn_rank,
                       sum(brk) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                      ROWS UNBOUNDED PRECEDING) AS session_id
                FROM g ORDER BY turn_idx"""
        ).fetchall()
    raise ValueError(f"unknown query kind {kind!r}")


def normalize_result(spec: dict, rows: list) -> list:
    """Collected Spark rows -> plain tuples comparable with
    ``query_reference``."""
    kind = spec["kind"]
    if kind == "lookup":
        return sorted((r["conv_id"], r["turn_idx"]) for r in rows)
    if kind == "histogram":
        return [(_epoch(r[0]), r[1]) for r in rows]
    if kind == "session":
        return sorted((r["conv_id"], r["turn_idx"], r["turn_rank"], r["session_id"])
                      for r in rows)
    return [tuple(r) for r in rows]


def lookup_ok(got: list, want: list) -> bool:
    """A point lookup returns one of the rows carrying the id, or
    nothing when no row carries it."""
    return got == [] if not want else len(got) == 1 and got[0] in want


# ---------------------------------------------------------------------------
# Curation funnel.
# ---------------------------------------------------------------------------
def funnel_reference(docs: pd.DataFrame, oracle_sql: str) -> dict:
    """The funnel report row from the registered DuckDB oracle."""
    con = duckdb.connect()
    try:
        con.register("documents", docs)
        cur = con.execute(oracle_sql)
        names = [d[0] for d in cur.description]
        return dict(zip(names, cur.fetchone()))
    finally:
        con.close()
