"""Tests of the benchmark's output checks; no Spark needed.

    python3 -m pytest perfbench -q

The mutation probes perturb one expected value and require the check to
fail, so a check that passes everything cannot go unnoticed.
"""

from __future__ import annotations

import copy
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from check import check_batch, check_query, check_stream, sink_state, span_key_hash, value_hash

SPANS = [("c1", 0, "t1", "s1"), ("c1", 1, "t1", "s2"), ("c2", 0, "t2", "s3")]


def _write(path: str, rows: list[dict], schema: pa.Schema) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), f"{path}/part-0.parquet")


def _lineage(rows):
    return [{"conv_id": c, "turn_idx": t} for c, t in rows]


LIN = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32())])
SPAN_SCHEMA = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                         ("trace_id", pa.string()), ("span_id", pa.string())])


@pytest.fixture()
def batch_dir(tmp_path):
    out = str(tmp_path)
    _write(f"{out}/spans", [dict(zip(SPAN_SCHEMA.names, s)) for s in SPANS], SPAN_SCHEMA)
    for name, n in (("resources", 2), ("instrumentation_scopes", 1), ("metrics", 3),
                    ("log_records", 4), ("metric_data_points", 5), ("rejects", 1)):
        _write(f"{out}/{name}", _lineage([("c9", i) for i in range(n)]), LIN)
    return out


def _expected():
    return {
        "counts": {"resources": 2, "instrumentation_scopes": 1, "metrics": 3, "spans": 3,
                   "log_records": 4, "metric_data_points": 5, "rejects": 1},
        "span_hash": span_key_hash([s[2:] for s in SPANS]),
        "accounting": {"trace": [2, 1]},
    }


AGGS = {"accounting": [("trace", 2, 100, 1, 10), (None, 0, 0, 0, 0)]}


def test_batch_check_passes_on_matching_output(batch_dir):
    assert check_batch(sink_state(batch_dir), AGGS, _expected()) == []


@pytest.mark.parametrize("mutate", [
    lambda e: e["counts"].__setitem__("log_records", 5),
    lambda e: e["counts"].__setitem__("resources", 1),
    lambda e: e.__setitem__("span_hash", span_key_hash([("t1", "s1")])),
    lambda e: e["accounting"].__setitem__("trace", [2, 0]),
])
def test_batch_check_fails_on_one_perturbed_expectation(batch_dir, mutate):
    exp = _expected()
    mutate(exp)
    assert check_batch(sink_state(batch_dir), AGGS, exp)


def _stream_dir(out: str, extra_span: tuple | None = None) -> None:
    spans = SPANS + ([extra_span] if extra_span else [])
    _write(f"{out}/spans", [dict(zip(SPAN_SCHEMA.names, s)) for s in spans], SPAN_SCHEMA)
    _write(f"{out}/log_records", _lineage([("c1", 0), ("c2", 0)]), LIN)
    _write(f"{out}/metric_data_points", _lineage([]), LIN)
    _write(f"{out}/rejects", _lineage([("c1", 1)]), LIN)
    _write(f"{out}/resources_touch", [{"res_attributes": "{}", "res_schema_url": ""}],
           pa.schema([("res_attributes", pa.string()), ("res_schema_url", pa.string())]))
    _write(f"{out}/scopes_touch", [], pa.schema([
        ("scope_name", pa.string()), ("scope_version", pa.string()),
        ("scope_attributes", pa.string()), ("scope_schema_url", pa.string())]))
    _write(f"{out}/metric_defs_touch", [], pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("name", pa.string()),
        ("metric_type", pa.string()), ("res_attributes", pa.string()),
        ("res_schema_url", pa.string()), ("scope_name", pa.string()),
        ("scope_version", pa.string()), ("scope_attributes", pa.string()),
        ("scope_schema_url", pa.string())]))


PER_FILE = [
    {"keys": [["c1", 0], ["c1", 1]],
     "delta": {"spans": 2, "log_records": 1, "metric_data_points": 0, "rejects": 1},
     "delta_span_hash": span_key_hash([("t1", "s1"), ("t1", "s2")]),
     "dims": {"resources": 1, "instrumentation_scopes": 0, "metrics": 0}},
    {"keys": [["c2", 0]],
     "delta": {"spans": 1, "log_records": 1, "metric_data_points": 0, "rejects": 0},
     "delta_span_hash": span_key_hash([("t2", "s3")]),
     "dims": {"resources": 1, "instrumentation_scopes": 0, "metrics": 0}},
    {"keys": [["c3", 0]],
     "delta": {"spans": 1, "log_records": 0, "metric_data_points": 0, "rejects": 0},
     "delta_span_hash": span_key_hash([("t3", "s4")]),
     "dims": {"resources": 1, "instrumentation_scopes": 0, "metrics": 0}},
]


def test_stream_check_passes_and_ignores_a_cut_batch(tmp_path):
    # file 2's span landed, but its batch never committed
    _stream_dir(str(tmp_path), extra_span=("c3", 0, "t3", "s4"))
    assert check_stream(str(tmp_path), PER_FILE, 2) == [[], []]


def test_stream_check_fails_only_the_perturbed_batch(tmp_path):
    _stream_dir(str(tmp_path))
    per_file = copy.deepcopy(PER_FILE)
    per_file[0]["delta"]["log_records"] = 2
    problems = check_stream(str(tmp_path), per_file, 2)
    assert problems[0] and not problems[1]


def test_stream_check_charges_dimension_mismatch_to_last_batch(tmp_path):
    _stream_dir(str(tmp_path))
    per_file = copy.deepcopy(PER_FILE)
    per_file[1]["dims"]["resources"] = 2
    problems = check_stream(str(tmp_path), per_file, 2)
    assert not problems[0] and problems[1]


def test_query_check_and_value_hash_are_order_and_column_insensitive():
    rows = [(1, 2, 0.5), (0, 3, 0.25)]
    h = value_hash(rows, ["a", "b", "c"])
    assert value_hash([(0.25, 3, 0), (0.5, 2, 1)], ["c", "b", "a"]) == h
    exp = {"q": {"rows": 2, "hash": h}}
    assert check_query("q", rows, ["a", "b", "c"], exp) == []
    assert check_query("q", [(1, 2, 0.5), (0, 3, 0.26)], ["a", "b", "c"], exp)
    assert check_query("q", rows[:1], ["a", "b", "c"], exp)
