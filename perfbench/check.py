"""Output checks. Every op's output is compared with the oracle before
the op counts as passed; a failed check counts the op as failed.

Sinks are read back with DuckDB straight from the parquet files the op
wrote, so a check submits no Spark job and cannot blur the stage
attribution of a traced run.
"""

from __future__ import annotations

import datetime
import hashlib
import math


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def value_hash(rows, columns) -> str:
    """Order-insensitive hash of a result set, columns taken by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    canon = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(canon).encode()).hexdigest()


def span_key_hash(keys) -> str:
    """Hash of a set of (trace_id, span_id) natural keys."""
    return hashlib.md5("\n".join(sorted(f"{t}|{s}" for t, s in keys)).encode()).hexdigest()


def _q(con, sql: str):
    return con.execute(sql).fetchall()


def _pq(out_dir: str, name: str) -> str:
    return f"read_parquet('{out_dir}/{name}/**/*.parquet')"


def sink_state(out_dir: str, dims_dir: str | None = None) -> dict:
    """Row counts and span-key hash of a sink directory; the dimension
    tables are read from ``dims_dir`` when given."""
    import duckdb

    con = duckdb.connect()
    try:
        counts = {
            name: _q(con, f"SELECT count(*) FROM {_pq(dims_dir or out_dir, name)}")[0][0]
            for name in ("resources", "instrumentation_scopes", "metrics")
        }
        counts.update({
            name: _q(con, f"SELECT count(*) FROM {_pq(out_dir, name)}")[0][0]
            for name in ("spans", "log_records", "metric_data_points", "rejects")
        })
        keys = _q(con, f"SELECT trace_id, span_id FROM {_pq(out_dir, 'spans')}")
        return {"counts": counts, "span_hash": span_key_hash(keys)}
    finally:
        con.close()


def check_batch(state: dict, aggregates: dict, expected: dict) -> list[str]:
    """Problems of one batch op against the oracle; empty when it passed."""
    problems = []
    for name, n in expected["counts"].items():
        if state["counts"].get(name) != n:
            problems.append(f"{name}: {state['counts'].get(name)} rows, expected {n}")
    if state["span_hash"] != expected["span_hash"]:
        problems.append("span keys differ from the oracle")
    got = {r[0]: [r[1], r[3]] for r in aggregates["accounting"] if r[0] is not None}
    for sig, want in expected["accounting"].items():
        if got.get(sig) != want:
            problems.append(f"accounting {sig}: {got.get(sig)}, expected {want}")
    return problems


def check_stream(out_dir: str, per_file: list[dict], n_batches: int) -> list[list[str]]:
    """Problems per committed micro-batch (file) of a stream drain.

    Fact rows are assigned to the file that holds their (conv_id,
    turn_idx); files are contiguous in the oracle's commit order, so each
    file's rows must equal the oracle's increment for that file. The
    dimension tables are cumulative state, checked against the oracle
    after the last committed file and charged to that batch."""
    import duckdb

    where = {}
    for i, f in enumerate(per_file):
        for c, t in f["keys"]:
            where[(c, t)] = i
    problems: list[list[str]] = [[] for _ in range(n_batches)]
    con = duckdb.connect()
    try:
        for name in ("spans", "log_records", "metric_data_points", "rejects"):
            cols = "conv_id, turn_idx" + (", trace_id, span_id" if name == "spans" else "")
            got = [0] * n_batches
            keys: list[list] = [[] for _ in range(n_batches)]
            for row in _q(con, f"SELECT {cols} FROM {_pq(out_dir, name)}"):
                i = where.get((row[0], row[1]))
                if i is None:
                    problems[-1].append(f"{name}: row of an unknown turn")
                elif i < n_batches:  # rows of a batch cut by the stop are ignored
                    got[i] += 1
                    if name == "spans":
                        keys[i].append(row[2:])
            for i in range(n_batches):
                want = per_file[i]["delta"][name]
                if got[i] != want:
                    problems[i].append(f"{name}: {got[i]} rows, expected {want}")
                if name == "spans" and span_key_hash(keys[i]) != per_file[i]["delta_span_hash"]:
                    problems[i].append("span keys differ from the oracle")
        metric_keys = {
            r[2:] for r in _q(
                con, "SELECT DISTINCT conv_id, turn_idx, name, metric_type, res_attributes,"
                     " res_schema_url, scope_name, scope_version, scope_attributes,"
                     f" scope_schema_url FROM {_pq(out_dir, 'metric_defs_touch')}")
            if where.get((r[0], r[1]), n_batches) < n_batches
        }
        dims = {
            "resources": _q(con, "SELECT count(*) FROM (SELECT DISTINCT res_attributes,"
                                 " res_schema_url FROM"
                                 f" {_pq(out_dir, 'resources_touch')})")[0][0],
            "instrumentation_scopes": _q(
                con, "SELECT count(*) FROM (SELECT DISTINCT scope_name, scope_version,"
                     " scope_attributes, scope_schema_url FROM"
                     f" {_pq(out_dir, 'scopes_touch')})")[0][0],
            "metrics": len(metric_keys),
        }
        for name, want in per_file[n_batches - 1]["dims"].items():
            if dims[name] != want:
                problems[-1].append(f"{name}: {dims[name]} rows, expected {want}")
    finally:
        con.close()
    return problems


def check_query(name: str, rows, columns, expected: dict) -> list[str]:
    want = expected[name]
    if len(rows) != want["rows"]:
        return [f"{name}: {len(rows)} rows, expected {want['rows']}"]
    if value_hash(rows, columns) != want["hash"]:
        return [f"{name}: value hash differs from the DuckDB oracle"]
    return []
