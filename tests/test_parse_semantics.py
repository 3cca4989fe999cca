"""Per-operator unit tests for the parse stage's edge semantics
(SURVEY §5.2: one test per §2 operator ID; §7 risk (a) — encode each
edge-case divergence as a unit test). Pure Python: parse_turn /
canonical_dumps and the Arrow parse kernel, cross-checked against the
independent sequential oracle where both define the behavior.

Reference citations per case are in the assertions' comments.
"""

import json

import pytest

from sqlite_otel_spark.functions.canonical_json import canonical_dumps, go_loads
from sqlite_otel_spark.functions.parse import (
    REJECT_EMPTY,
    REJECT_INVALID_JSON,
    REJECT_NOT_JSON,
    REJECT_OVERSIZE,
    REJECT_UNKNOWN_SIGNAL,
    parse_turn,
)
from sqlite_otel_spark.oracle import OracleDB


def trace(body) -> str:
    return json.dumps({"resourceSpans": body})


SPAN = {"traceId": "t1", "spanId": "s1"}
RS = [{"resource": {"attributes": {"a": 1}}, "scopeSpans": [{"spans": [SPAN]}]}]


# --------------------------------------------------------------------------
# F-series: validation / reject reasons (handlers/handler_common.go:15-45)
# --------------------------------------------------------------------------

@pytest.mark.parametrize("text,reason", [
    (None, REJECT_EMPTY),
    ("", REJECT_EMPTY),
    ("   \n\t ", REJECT_EMPTY),                       # F4 empty body -> 400
    ("x" * 100, REJECT_NOT_JSON),                     # F2 content-type analogue
    ('[1,2,3]', REJECT_NOT_JSON),                     # top-level non-object
    ('{"resourceSpans": ', REJECT_INVALID_JSON),      # truncated JSON
    ('{"somethingElse": []}', REJECT_UNKNOWN_SIGNAL), # F5 envelope missing
])
def test_reject_reasons(text, reason):
    p = parse_turn(text)
    assert p["error"] == reason
    assert p["spans"] == [] and p["logs"] == [] and p["points"] == []


def test_oversize_guard_is_bytes_not_chars():
    # F3: MaxBytesReader caps BYTES (handler_common.go:29); multibyte
    # chars must count at their UTF-8 width.
    text = '{"resourceLogs": []}' + "é" * 50   # 2 bytes each
    assert parse_turn(text, max_bytes=len(text) + 49)["error"] == REJECT_OVERSIZE
    assert parse_turn(text, max_bytes=len(text) + 50)["error"] is None


def test_trailing_garbage_accepted_like_streaming_decoder():
    # handler_common.go:35 uses json.Decoder.Decode: only the FIRST value
    # is read; trailing bytes don't fail the request.
    p = parse_turn(trace(RS) + "GARBAGE AFTER")
    assert p["error"] is None and len(p["spans"]) == 1


# --------------------------------------------------------------------------
# P2/F7: trace flatten, lenient shapes (database/traces.go:22-83)
# --------------------------------------------------------------------------

def test_trace_skips_malformed_shapes_but_keeps_rest():
    body = [
        "not a map",                                   # skipped (traces.go:24-26)
        {"resource": "not a map"},                     # skipped (:30-33)
        {"resource": {}, "scopeSpans": "not a list"},  # resource touched, no spans
        {"resource": {}, "scopeSpans": [
            "not a map",                               # skipped (:41-43)
            {"scope": "not-a-map", "spans": [SPAN]},   # default scope (:52-61)
            {"spans": "not a list"},                   # scope touched, no spans
        ]},
    ]
    p = parse_turn(trace(body))
    assert p["error"] is None
    assert len(p["spans"]) == 1
    # dimension rows created even when inner loops find nothing (traces.go:34)
    assert len(p["resources"]) == 2
    assert len(p["scopes"]) == 2
    # default empty scope natural key
    assert p["spans"][0]["scope_name"] == ""
    assert p["spans"][0]["scope_attributes"] == "[]"


@pytest.mark.parametrize("span", [
    {},                             # both ids missing
    {"traceId": "", "spanId": "x"}, # empty traceId (traces.go:92-95)
    {"traceId": "x", "spanId": ""},
    {"traceId": 7, "spanId": "x"},  # wrong type
])
def test_span_requires_ids(span):
    p = parse_turn(trace([{"resource": {}, "scopeSpans": [{"spans": [span]}]}]))
    assert p["error"] is not None      # F6: whole turn aborts (tx rollback)
    assert p["resources"] == []        # rollback discards dimension touches


def test_within_turn_duplicate_span_pk_aborts():
    # db.go:95 PRIMARY KEY(trace_id, span_id): second insert aborts the tx.
    p = parse_turn(trace([{"resource": {}, "scopeSpans": [{"spans": [SPAN, dict(SPAN)]}]}]))
    assert "duplicate span" in p["error"]
    assert p["spans"] == []


def test_span_projection_coercions_and_defaults():
    span = {
        "traceId": "t", "spanId": "s",
        "kind": 2.0,                              # float64 -> int (traces.go:107-109)
        "status": {"code": 3.0, "message": "m"},  # nested flatten (:149-153)
        "startTimeUnixNano": "123",
    }
    p = parse_turn(trace([{"resource": {}, "scopeSpans": [{"spans": [span]}]}]))
    s = p["spans"][0]
    assert s["kind"] == 2 and isinstance(s["kind"], int)
    assert s["status_code"] == 3 and s["status_message"] == "m"
    assert s["start_time_unix_nano"] == 123 and s["end_time_unix_nano"] == 0
    # Marshal(nil) == "null" for missing attrs/events/links (traces.go:130-146)
    assert s["attributes"] == "null" and s["events"] == "null" and s["links"] == "null"
    assert s["trace_state"] == "" and s["parent_span_id"] == ""


# --------------------------------------------------------------------------
# P3/F7: logs are strict (database/logs.go:22-81)
# --------------------------------------------------------------------------

def logs(body) -> str:
    return json.dumps({"resourceLogs": body})


LR = {"severityNumber": 5.0, "body": {"msg": "hi"}}


@pytest.mark.parametrize("body", [
    ["not a map"],
    [{"resource": {}, "scopeLogs": "not a list"}],
    [{"resource": {}, "scopeLogs": ["not a map"]}],
    [{"resource": {}, "scopeLogs": [{"logRecords": "not a list"}]}],
    [{"resource": {}, "scopeLogs": [{"logRecords": ["not a map"]}]}],
])
def test_log_shape_errors_abort_whole_turn(body):
    # logs.go:24-74: malformed shapes FAIL the request (strict policy F7),
    # unlike traces/metrics which skip them.
    p = parse_turn(logs(body))
    assert p["error"] is not None
    assert p["logs"] == [] and p["resources"] == []


def test_log_missing_resource_keeps_zero_fk_and_no_dim_row():
    # logs.go:29-35: resource optional; no dimension row, resource_id = 0.
    p = parse_turn(logs([{"scopeLogs": [{"logRecords": [LR]}]}]))
    assert p["error"] is None
    assert p["resources"] == []
    assert p["logs"][0]["res_attributes"] is None  # -> id 0 downstream (D6)


def test_log_defaults_and_strict_strings():
    p = parse_turn(logs([{"resource": {}, "scopeLogs": [{"logRecords": [{}]}]}]))
    lr = p["logs"][0]
    # body default '{}', attributes default '[]' (logs.go:132-135,145-148)
    assert lr["body"] == "{}" and lr["attributes"] == "[]"
    assert lr["severity_text"] == "" and lr["trace_id"] == ""
    # severityText present-but-not-string hard-fails (logs.go:114-122)
    p2 = parse_turn(logs([{"resource": {}, "scopeLogs": [{"logRecords": [
        {"severityText": 5}]}]}]))
    assert p2["error"] is not None


# --------------------------------------------------------------------------
# P8/C2/C3: nanosecond timestamp parse (database/shared.go:122-136)
# --------------------------------------------------------------------------

@pytest.mark.parametrize("s,expected", [
    ("  42  ", 42),            # TrimSpace then parse
    ("", 0), ("   ", 0),       # empty -> 0
    ("+5", 5), ("-5", -5),     # explicit sign accepted by ParseInt
    ("9223372036854775807", 2**63 - 1),
])
def test_time_nano_ok(s, expected):
    lr = {"timeUnixNano": s}
    p = parse_turn(logs([{"resource": {}, "scopeLogs": [{"logRecords": [lr]}]}]))
    assert p["error"] is None and p["logs"][0]["time_unix_nano"] == expected


@pytest.mark.parametrize("s", ["abc", "1.5", "0x10", "9223372036854775808", "١٢٣"])
def test_time_nano_bad_aborts(s):
    lr = {"timeUnixNano": s}
    p = parse_turn(logs([{"resource": {}, "scopeLogs": [{"logRecords": [lr]}]}]))
    assert p["error"] is not None


# --------------------------------------------------------------------------
# R2/R3/R4 + D3 inputs: metrics (database/metrics.go)
# --------------------------------------------------------------------------

def metrics(ms) -> str:
    return json.dumps({"resourceMetrics": [
        {"resource": {}, "scopeMetrics": [{"metrics": ms}]}]})


def test_metric_requires_resource():
    # metrics.go:34-37: unlike traces, a resourceMetric without resource fails.
    p = parse_turn(json.dumps({"resourceMetrics": [{"scopeMetrics": []}]}))
    assert p["error"] is not None


def test_metric_type_discriminator_first_match():
    # metrics.go:105-116: fixed probe order gauge,sum,histogram,...
    m = {"name": "m", "sum": {"dataPoints": []}, "gauge": {"dataPoints": []}}
    p = parse_turn(metrics([m]))
    assert p["metric_defs"][0]["metric_type"] == "gauge"


def test_metric_unknown_type_and_missing_name_abort():
    assert parse_turn(metrics([{"name": "m", "weird": {}}]))["error"] is not None
    assert parse_turn(metrics([{"gauge": {}}]))["error"] is not None


def test_metric_def_registered_with_zero_points():
    # metrics.go:118-124 runs before the dataPoints loop.
    p = parse_turn(metrics([{"name": "m", "gauge": {}}]))
    assert len(p["metric_defs"]) == 1 and p["points"] == []


def test_value_routing_double_vs_int():
    pts = [{"asDouble": 1.5}, {"asInt": "42"}, {"asDouble": True}]
    p = parse_turn(metrics([{"name": "m", "gauge": {"dataPoints": pts}}]))
    v = p["points"]
    assert (v[0]["value_double"], v[0]["value_int"]) == (1.5, None)
    assert (v[1]["value_double"], v[1]["value_int"]) == (None, 42)
    # Go type-asserts float64: JSON true is NOT a number -> both null (R4)
    assert (v[2]["value_double"], v[2]["value_int"]) == (None, None)


@pytest.mark.parametrize("bad", [" 42", "42 ", "4.2", "", "--1"])
def test_as_int_strictness(bad):
    # strconv.ParseInt rejects whitespace/decimals (metrics.go:185-191).
    pts = [{"asInt": bad}]
    p = parse_turn(metrics([{"name": "m", "gauge": {"dataPoints": pts}}]))
    assert p["error"] is not None


def test_complex_fold_only_into_object_attributes():
    # metrics.go:258-268 type-asserts map[string]interface{}: OTLP
    # array-shaped attributes skip the _metricData fold.
    dp_obj = {"attributes": {"k": "v"}, "count": "3", "sum": 1.5}
    dp_arr = {"attributes": [{"key": "k"}], "count": "3"}
    p = parse_turn(metrics([{"name": "m", "histogram": {"dataPoints": [dp_obj, dp_arr]}}]))
    a0 = json.loads(p["points"][0]["attributes"])
    assert a0["_metricData"] == {"count": "3", "sum": 1.5}
    assert "_metricData" not in p["points"][1]["attributes"]


# --------------------------------------------------------------------------
# P9/C5: canonical JSON (Go json.Marshal parity; database/shared.go:37-43)
# --------------------------------------------------------------------------

@pytest.mark.parametrize("obj,want", [
    ({"b": 1.0, "a": 2.0}, '{"a":2,"b":1}'),          # sorted keys, int form
    ([3.0, {"z": None}], '[3,{"z":null}]'),           # array order kept
    ({"x": "<a>&"}, '{"x":"\\u003ca\\u003e\\u0026"}'),  # HTML escapes
    ({"x": 1.5}, '{"x":1.5}'),
    (None, "null"),
    ({"x": 1e21}, '{"x":1e+21}'),                     # Go 'f' cutoff
])
def test_canonical_dumps_go_parity(obj, want):
    assert canonical_dumps(obj) == want


def test_canonical_dumps_memo_is_transparent():
    """The repeat-tree memo (round 5) must be semantically invisible:
    repeated calls return the same bytes, a mutated tree re-computes
    (the memo keys on the tree's current value, not object identity),
    and two key-orderings of one dict both canonicalize identically."""
    from sqlite_otel_spark.functions import canonical_json as cj

    obj = {"b": [1.0, {"z": "<&>"}], "a": "x"}
    first = canonical_dumps(obj)
    assert canonical_dumps(obj) == first            # memo hit
    assert canonical_dumps({"a": "x", "b": [1.0, {"z": "<&>"}]}) == first
    obj["a"] = "y"                                   # mutation -> new key
    assert canonical_dumps(obj) == first.replace('"a":"x"', '"a":"y"')
    # cap behavior: overflowing the memo clears it but never changes output
    old_max, cj._MEMO_MAX = cj._MEMO_MAX, 2
    try:
        cj._memo.clear()
        outs = [canonical_dumps({"k": float(i)}) for i in range(5)]
        assert outs == [f'{{"k":{i}}}' for i in range(5)]
        assert len(cj._memo) <= 2
    finally:
        cj._MEMO_MAX = old_max
        cj._memo.clear()


def test_canonical_dumps_nan_never_aliases_null():
    """ADVICE r5 (high): orjson dumps NaN/Infinity as 'null', so a NaN
    tree and a null tree would share a memo key while canonicalizing to
    different bytes. Non-finite trees must bypass the memo in BOTH
    directions, in any call order."""
    import math

    from sqlite_otel_spark.functions import canonical_json as cj

    cj._memo.clear()
    try:
        # order 1: NaN first, then null
        assert canonical_dumps({"a": math.nan}) == '{"a":NaN}'
        assert canonical_dumps({"a": None}) == '{"a":null}'
        # order 2 (fresh memo): null first, then NaN / inf
        cj._memo.clear()
        assert canonical_dumps({"a": None}) == '{"a":null}'
        assert canonical_dumps({"a": math.nan}) == '{"a":NaN}'
        assert canonical_dumps({"a": math.inf}) == '{"a":Infinity}'
        assert canonical_dumps({"a": [1.0, -math.inf]}) == '{"a":[1,-Infinity]}'
        # finite trees whose VALUES contain "null" text still memoize
        assert canonical_dumps({"a": None}) == '{"a":null}'
    finally:
        cj._memo.clear()


def test_go_loads_numbers_are_float64_equivalent():
    """The decoder may return int or float (orjson fast path vs stdlib),
    but every OBSERVABLE behavior must match Go's float64 model: 2^53+1
    canonical-prints and int64-narrows as the rounded 2^53."""
    v = go_loads('{"n": 9007199254740993}')["n"]   # 2^53+1: float64 rounds
    assert float(v) == 9007199254740992.0
    assert canonical_dumps(go_loads('{"n": 9007199254740993}')) == \
        '{"n":9007199254740992}'
    # int64 narrowing sites apply the same round (kind/severity/flags)
    p = parse_turn(
        '{"resourceSpans":[{"resource":{},"scopeSpans":[{"spans":[{"traceId":"t",'
        '"spanId":"s","kind":9007199254740993}]}]}]}'
    )
    assert p["spans"][0]["kind"] == 9007199254740992


# --------------------------------------------------------------------------
# Cross-implementation: parse_turn and the sequential oracle must agree
# on every edge/cascade fixture text (same accept/reject + same records).
# --------------------------------------------------------------------------

def test_parse_agrees_with_oracle_on_fixture_edges():
    from sqlite_otel_spark.fixtures import make_transcripts

    rows = make_transcripts(300, seed=7)
    db = OracleDB().run(rows)
    oracle_rejected = {(r["conv_id"], r["turn_idx"]) for r in db.rejects}
    # cascade rejects are cross-turn (not parse-local); exclude them
    cascade = {k for k in oracle_rejected if "cascade" in k[0]}
    mine_rejected = {
        (r["conv_id"], r["turn_idx"])
        for r in rows
        if parse_turn(r.get("text"))["error"] is not None
    }
    assert mine_rejected == oracle_rejected - cascade
    # record-count parity on accepted turns (local view)
    n_spans = sum(
        len(parse_turn(r["text"])["spans"])
        for r in rows
        if (r["conv_id"], r["turn_idx"]) not in oracle_rejected
    )
    assert n_spans == len(db.spans)


# --------------------------------------------------------------------------
# record emission shape: the mapInArrow kernel over one Arrow batch
# --------------------------------------------------------------------------

def test_turn_records_emission():
    import pyarrow as pa

    from sqlite_otel_spark.operators.records import _pa_schema, make_kernel

    texts = [trace(RS), "not json"]
    batch = pa.RecordBatch.from_pydict({
        "conv_id": ["c", "c"], "turn_idx": pa.array([1, 2], pa.int32()),
        "role": ["user", "user"], "tool": ["bash", "bash"],
        "ts_us": pa.array([12345, 12345], pa.int64()), "text": texts,
        "nb": pa.array([len(t.encode()) for t in texts], pa.int64()),
    })
    gen = make_kernel(_pa_schema(extra_n_bytes=False), 10 * 1024 * 1024, True)
    recs = pa.Table.from_batches(list(gen(iter([batch])))).to_pylist()
    # one 'turn' row per input row, whatever the outcome
    turns = {r["turn_idx"]: r for r in recs if r["rec_kind"] == "turn"}
    assert sorted(turns) == [1, 2]
    assert turns[1]["signal_type"] == "trace" and turns[1]["error"] is None
    assert turns[1]["text"] == texts[0]
    kinds = [r["rec_kind"] for r in recs if r["turn_idx"] == 1]
    assert kinds.count("span") == 1 and kinds.count("resource") == 1
    assert all(r["conv_id"] == "c" and r["ts_us"] == 12345 for r in recs)
    # rejected turn -> only the turn row (tx rollback)
    assert [r["rec_kind"] for r in recs if r["turn_idx"] == 2] == ["turn"]
    assert turns[2]["error"] == REJECT_NOT_JSON
