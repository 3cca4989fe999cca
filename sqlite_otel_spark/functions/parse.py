"""The parse ("grok") stage: transcript ``text`` -> typed signal records.

Re-implements, in one vectorizable pure function, the exact extraction
semantics of the reference collector's write path:

 - envelope validation + routing   (main.go:119-121; database/*.go:17-25)
 - triple/quadruple nested flatten (database/traces.go:22-83,
   database/logs.go:22-81, database/metrics.go:27-88)
 - field projection + coercion     (database/traces.go:90-171,
   database/logs.go:88-187, database/metrics.go:95-269)
 - get-or-create dimension keys    (database/shared.go:25-120,139-163)
 - per-turn transactional rollback (database/*.go: tx.Begin/Commit —
   ANY record-level error discards the whole turn, including its
   dimension touches)

``parse_turn_into`` feeds the pipeline's Arrow-vectorized ``mapInArrow``
stage (operators/records.py): extractors append per-record TUPLES (in
the *_FIELDS order) straight into batch-level accumulator lists, so the
hot loop allocates no per-turn dicts/lists and no per-record dicts
(round 6, profiler-driven: the dict churn + per-field append loop was
~35% of kernel wall). Transaction rollback truncates the accumulators
back to their pre-turn lengths. ``parse_turn`` remains the dict-shaped
compatibility view (tests, checkpoint replay, oracle comparisons) built
on the same tuple core — one semantics, two projections.

The pytest oracle (oracle.py) is an independent sequential
implementation of the same Go semantics; the two share nothing but the
canonical-JSON helper, whose correctness only matters for
self-consistent dedup keys.

Semantics preserved bit-for-bit (each encoded as a unit test):
 - traces/metrics skip malformed *shapes* (non-map elements, missing
   arrays) but any *record* error aborts the turn; logs abort on
   malformed shapes too (strict policy, SURVEY §2.2 F7);
 - a resource/scope dimension row is created even when the inner loop
   then finds nothing to insert (traces.go:34 runs before the
   scopeSpans check at :38);
 - logs with a missing/ill-typed resource get resource_id=0 and create
   NO resource row (logs.go:29-35);
 - span attributes/events/links default to JSON ``null`` (Marshal(nil)),
   log body defaults to ``{}``, log attributes to ``[]``
   (traces.go:130-146, logs.go:126-148);
 - metric defs are registered even with zero data points
   (metrics.go:118-124 runs before the dataPoints loop);
 - complex metric payloads fold into attributes under ``_metricData``
   ONLY when attributes is an object or missing (metrics.go:258-268
   type-asserts a map; OTLP's array-shaped attributes skip the fold);
 - duplicate (trace_id, span_id) within a turn aborts the turn
   (spans PRIMARY KEY, db.go:95).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from sqlite_otel_spark.functions.canonical_json import (
    _loads_stripped,
    _memo_safe,
    canonical_dumps,
    go_loads,
)

try:  # C-accelerated memo keys (same fallback contract as canonical_json)
    import orjson as _orjson
except ImportError:  # pragma: no cover
    _orjson = None

# ---------------------------------------------------------------------------
# Per-kind record fields, in the order the extractors emit their tuples.
# ---------------------------------------------------------------------------

RESOURCE_KEY_FIELDS = ["res_attributes", "res_schema_url"]
SCOPE_KEY_FIELDS = [
    "scope_name",
    "scope_version",
    "scope_attributes",
    "scope_schema_url",
]

SPAN_FIELDS = [
    "trace_id",
    "span_id",
    "trace_state",
    "parent_span_id",
    "name",
    "kind",
    "start_time_unix_nano",
    "end_time_unix_nano",
    "attributes",
    "events",
    "links",
    "status_code",
    "status_message",
    *RESOURCE_KEY_FIELDS,
    *SCOPE_KEY_FIELDS,
]

LOG_FIELDS = [
    "time_unix_nano",
    "observed_time_unix_nano",
    "severity_number",
    "severity_text",
    "body",
    "attributes",
    "trace_id",
    "span_id",
    "flags",
    *RESOURCE_KEY_FIELDS,  # null -> resource_id = 0 (logs.go:29-35)
    *SCOPE_KEY_FIELDS,
]

METRIC_DEF_FIELDS = [
    "pos",  # arrival order inside the turn, for first-definition-wins
    "name",
    "description",
    "unit",
    "metric_type",
    *RESOURCE_KEY_FIELDS,
    *SCOPE_KEY_FIELDS,
]

POINT_FIELDS = [
    "metric_name",
    "metric_type",
    "attributes",
    "start_time_unix_nano",
    "time_unix_nano",
    "value_double",
    "value_int",
    "exemplars",
    "flags",
    *RESOURCE_KEY_FIELDS,
    *SCOPE_KEY_FIELDS,
]

# Reject reasons (HTTP-status analogues from handlers/handler_common.go).
REJECT_EMPTY = "empty_body"          # 400, handler_common.go:38-41
REJECT_OVERSIZE = "oversize"         # 413 via MaxBytesReader, :28-31
REJECT_NOT_JSON = "not_json_object"  # 415/400 analogue (F2 prefix check)
REJECT_INVALID_JSON = "invalid_json" # 400, :42-45
REJECT_UNKNOWN_SIGNAL = "unknown_signal"  # no matching endpoint


class _TurnError(Exception):
    """A record-level error: rolls back the whole turn (tx semantics)."""


def _is_num(v: Any) -> bool:
    # Go type-asserts float64; JSON bools are not numbers there either.
    # ``type`` identity instead of isinstance: decode yields exact
    # int/float/bool, and type(True) is bool — the bool exclusion is
    # free.
    t = type(v)
    return t is int or t is float


def _get_string(m: dict, key: str, ctx: str) -> str:
    """database/shared.go:12-22 getStringFromMap: missing/nil -> "",
    present-but-not-string -> error."""
    v = m.get(key)
    if v is None:
        return ""
    if type(v) is str:
        return v
    raise _TurnError(f"{ctx} key '{key}' has invalid type")


_INT64_MAX = 2**63


def _parse_time_nano(s: str) -> int:
    """database/shared.go:122-136: trim, empty -> 0, base-10 int64.
    Hot path: plain ASCII digit strings (every well-formed OTLP
    timestamp) skip the strip/sign scan entirely."""
    if s.isascii() and s.isdigit():
        v = int(s)
        if v < _INT64_MAX:
            return v
        raise _TurnError(f"failed to parse timestamp '{s}': out of range")
    s = s.strip()
    if not s:
        return 0
    neg = s[0] in "+-"
    digits = s[1:] if neg else s
    if not digits.isascii() or not digits.isdigit() or not digits:
        raise _TurnError(f"failed to parse timestamp '{s}'")
    v = int(s)
    if not -_INT64_MAX <= v < _INT64_MAX:
        raise _TurnError(f"failed to parse timestamp '{s}': out of range")
    return v


# Whole-dict key memos (round 6): resource/scope envelopes repeat
# massively (a handful of distinct services/libraries emit everything),
# so the full natural-key TUPLE is memoized on the unsorted C-side dump
# of the envelope dict — same injectivity-and-NaN-guard contract as the
# canonical_dumps memo (two different finite trees cannot print the
# same bytes; key-order aliases just recompute; non-finite trees skip).
# Only SUCCESSFUL computations are stored, so the type-error raises of
# _get_string replay identically on every call.
_KEY_MEMO_MAX = 1 << 14
_res_key_memo: dict[bytes, tuple] = {}
_scope_key_memo: dict[bytes, tuple] = {}


def _resource_key_compute(resource: dict) -> tuple:
    attributes = resource.get("attributes")
    if attributes is None:
        attributes = {}
    schema_url = _get_string(resource, "schemaUrl", "resource")
    return (canonical_dumps(attributes), schema_url)


def _resource_key_t(resource: dict) -> tuple:
    """GetOrCreateResource natural key (database/shared.go:25-67) as a
    (res_attributes, res_schema_url) tuple (RESOURCE_KEY_FIELDS order)."""
    if _orjson is not None:
        try:
            mk = _orjson.dumps(resource)
        except Exception:
            mk = None
        if mk is not None and (b"null" not in mk or _memo_safe(resource)):
            hit = _res_key_memo.get(mk)
            if hit is not None:
                return hit
            val = _resource_key_compute(resource)
            if len(_res_key_memo) >= _KEY_MEMO_MAX:
                _res_key_memo.clear()
            _res_key_memo[mk] = val
            return val
    return _resource_key_compute(resource)


def _scope_key_compute(scope: dict) -> tuple:
    attributes = scope.get("attributes")
    if attributes is None:
        attributes = {}
    return (
        _get_string(scope, "name", "scope"),
        _get_string(scope, "version", "scope"),
        canonical_dumps(attributes),
        _get_string(scope, "schemaUrl", "scope"),
    )


def _scope_key_t(scope: dict) -> tuple:
    """GetOrCreateScope natural key (database/shared.go:70-120) as a
    (name, version, attributes, schema_url) tuple (SCOPE_KEY_FIELDS
    order)."""
    if _orjson is not None:
        try:
            mk = _orjson.dumps(scope)
        except Exception:
            mk = None
        if mk is not None and (b"null" not in mk or _memo_safe(scope)):
            hit = _scope_key_memo.get(mk)
            if hit is not None:
                return hit
            val = _scope_key_compute(scope)
            if len(_scope_key_memo) >= _KEY_MEMO_MAX:
                _scope_key_memo.clear()
            _scope_key_memo[mk] = val
            return val
    return _scope_key_compute(scope)


_DEFAULT_SCOPE = {"name": "", "version": "", "attributes": [], "schemaUrl": ""}
_DEFAULT_SCOPE_KEY = ("", "", "[]", "")


def _opt_time(rec: dict, key: str) -> int:
    """Timestamp fields: only parsed when present as a non-empty string;
    any other shape silently yields 0 (traces.go:113-129 type-asserts
    string first). The ASCII-digit fast path of _parse_time_nano is
    inlined — this is the hottest helper in the kernel (JSON decode
    yields exact ``str``, so the ``type`` check is safe)."""
    v = rec.get(key)
    if type(v) is str and v:
        if v.isascii() and v.isdigit():
            n = int(v)
            if n < _INT64_MAX:
                return n
            raise _TurnError(f"failed to parse timestamp '{v}': out of range")
        return _parse_time_nano(v)
    return 0


def _num_or_zero(rec: dict, key: str) -> int:
    v = rec.get(key)
    t = type(v)
    if t is int:
        if -(2**53) <= v <= 2**53:
            return v
        # orjson decode keeps big ints exact; Go decoded float64 — apply
        # the same precision round before the int64 narrowing.
        return int(float(v))
    if t is float:
        return int(v)
    return 0


def _str_or_empty(rec: dict, key: str) -> str:
    v = rec.get(key)
    return v if type(v) is str else ""


def _strict_str(rec: dict, key: str) -> str:
    """logs.go:114-122,150-167: present-and-non-nil must be a string."""
    v = rec.get(key)
    if v is None:
        return ""
    if type(v) is str:
        return v
    raise _TurnError(f"invalid type for {key}: expected string")


# ---------------------------------------------------------------------------
# Per-signal extraction (the nested-loop flattens, SURVEY §2.3 P2-P7).
# Tuple-emitting: each extractor appends (payload tuple, input-row index)
# pairs straight into the caller's batch-level accumulator lists.
# ---------------------------------------------------------------------------


def _extract_trace_t(data: dict, i: int, res: list, res_i: list,
                     sco: list, sco_i: list, spans: list,
                     spans_i: list) -> None:
    """database/traces.go:17-171 (lenient shapes, hard record errors)."""
    resource_spans = data.get("resourceSpans")
    if not isinstance(resource_spans, list):
        raise _TurnError("invalid trace data: missing resourceSpans")
    seen_pk: set[tuple[str, str]] = set()
    for rs in resource_spans:
        if not isinstance(rs, dict):
            continue
        resource = rs.get("resource")
        if not isinstance(resource, dict):
            continue  # skip resourceSpan without resource (traces.go:30-33)
        res_key = _resource_key_t(resource)
        res.append(res_key)  # touched before scopeSpans check
        res_i.append(i)
        scope_spans = rs.get("scopeSpans")
        if not isinstance(scope_spans, list):
            continue
        for ss in scope_spans:
            if not isinstance(ss, dict):
                continue
            scope = ss.get("scope")
            if isinstance(scope, dict):
                scope_key = _scope_key_t(scope)
            else:
                scope_key = _DEFAULT_SCOPE_KEY  # traces.go:52-61 default
            sco.append(scope_key)
            sco_i.append(i)
            sp = ss.get("spans")
            if not isinstance(sp, list):
                continue
            for s in sp:
                if not isinstance(s, dict):
                    continue
                spans.append(_extract_span_t(s, res_key, scope_key, seen_pk))
                spans_i.append(i)


def _extract_span_t(
    span: dict, res_key: tuple, scope_key: tuple, seen_pk: set
) -> tuple:
    """InsertSpan projection (database/traces.go:90-171), SPAN_FIELDS
    order."""
    trace_id = span.get("traceId")
    if not isinstance(trace_id, str) or trace_id == "":
        raise _TurnError("invalid span: traceId is required")
    span_id = span.get("spanId")
    if not isinstance(span_id, str) or span_id == "":
        raise _TurnError("invalid span: spanId is required")
    pk = (trace_id, span_id)
    if pk in seen_pk:
        # spans PRIMARY KEY(trace_id, span_id) (db.go:95): the second
        # insert violates the constraint and aborts the transaction.
        raise _TurnError(f"duplicate span ({trace_id},{span_id})")
    seen_pk.add(pk)
    status = span.get("status")
    if not isinstance(status, dict):
        status = {}
    return (
        trace_id,
        span_id,
        _str_or_empty(span, "traceState"),
        _str_or_empty(span, "parentSpanId"),
        _str_or_empty(span, "name"),
        _num_or_zero(span, "kind"),
        _opt_time(span, "startTimeUnixNano"),
        _opt_time(span, "endTimeUnixNano"),
        # Marshal(nil) == "null" for missing fields (traces.go:130-146).
        canonical_dumps(span.get("attributes")),
        canonical_dumps(span.get("events")),
        canonical_dumps(span.get("links")),
        _num_or_zero(status, "code"),
        _str_or_empty(status, "message"),
    ) + res_key + scope_key


_NULL_RES_KEY = (None, None)


def _extract_log_t(data: dict, i: int, res: list, res_i: list,
                   sco: list, sco_i: list, logs: list,
                   logs_i: list) -> None:
    """database/logs.go:17-187 (strict: shape errors abort the turn)."""
    resource_logs = data.get("resourceLogs")
    if not isinstance(resource_logs, list):
        raise _TurnError("invalid logs data: missing resourceLogs")
    for rl in resource_logs:
        if not isinstance(rl, dict):
            raise _TurnError("invalid resourceLog type")
        resource = rl.get("resource")
        if isinstance(resource, dict):
            res_key = _resource_key_t(resource)
            res.append(res_key)
            res_i.append(i)
        else:
            # resource_id stays 0; no dimension row (logs.go:29-35).
            res_key = _NULL_RES_KEY
        scope_logs = rl.get("scopeLogs")
        if not isinstance(scope_logs, list):
            raise _TurnError("invalid scopeLogs type in resourceLog")
        for sl in scope_logs:
            if not isinstance(sl, dict):
                raise _TurnError("invalid scopeLog type")
            scope = sl.get("scope")
            if isinstance(scope, dict):
                scope_key = _scope_key_t(scope)
            else:
                scope_key = _DEFAULT_SCOPE_KEY
            sco.append(scope_key)
            sco_i.append(i)
            log_records = sl.get("logRecords")
            if not isinstance(log_records, list):
                raise _TurnError("invalid logRecords type in scopeLog")
            for lr in log_records:
                if not isinstance(lr, dict):
                    raise _TurnError("invalid logRecord type")
                logs.append(_extract_log_record_t(lr, res_key, scope_key))
                logs_i.append(i)


def _extract_log_record_t(lr: dict, res_key: tuple, scope_key: tuple) -> tuple:
    """InsertLogRecord projection (database/logs.go:88-187), LOG_FIELDS
    order."""
    body = lr.get("body")
    attributes = lr.get("attributes")
    return (
        _opt_time(lr, "timeUnixNano"),
        _opt_time(lr, "observedTimeUnixNano"),
        _num_or_zero(lr, "severityNumber"),
        _strict_str(lr, "severityText"),
        # body default '{}' (logs.go:132-135), attributes default '[]'
        # (logs.go:145-148) — unlike spans' Marshal(nil)=="null".
        canonical_dumps(body) if body is not None else "{}",
        canonical_dumps(attributes) if attributes is not None else "[]",
        _strict_str(lr, "traceId"),
        _strict_str(lr, "spanId"),
        _num_or_zero(lr, "flags"),
    ) + res_key + scope_key


_METRIC_TYPES = ("gauge", "sum", "histogram", "exponentialHistogram", "summary")


def _extract_metric_signal_t(data: dict, i: int, res: list, res_i: list,
                             sco: list, sco_i: list, defs: list,
                             defs_i: list, points: list,
                             points_i: list) -> None:
    """database/metrics.go:22-269."""
    resource_metrics = data.get("resourceMetrics")
    if not isinstance(resource_metrics, list):
        raise _TurnError("invalid metrics data: missing resourceMetrics")
    pos = 0
    for rm in resource_metrics:
        if not isinstance(rm, dict):
            continue
        resource = rm.get("resource")
        if not isinstance(resource, dict):
            # Unlike traces, metrics REQUIRE the resource (metrics.go:34-37).
            raise _TurnError("invalid resourceMetric: missing resource field")
        res_key = _resource_key_t(resource)
        res.append(res_key)
        res_i.append(i)
        scope_metrics = rm.get("scopeMetrics")
        if not isinstance(scope_metrics, list):
            continue
        for sm in scope_metrics:
            if not isinstance(sm, dict):
                continue
            scope = sm.get("scope")
            if isinstance(scope, dict):
                scope_key = _scope_key_t(scope)
            else:
                scope_key = _DEFAULT_SCOPE_KEY
            sco.append(scope_key)
            sco_i.append(i)
            metrics = sm.get("metrics")
            if not isinstance(metrics, list):
                continue
            for m in metrics:
                if not isinstance(m, dict):
                    continue
                pos = _extract_metric_t(m, i, res_key, scope_key, defs,
                                        defs_i, points, points_i, pos)


def _extract_metric_t(
    metric: dict, i: int, res_key: tuple, scope_key: tuple, defs: list,
    defs_i: list, points: list, points_i: list, pos: int
) -> int:
    """InsertMetric (database/metrics.go:95-138): register the definition
    (even with zero data points), discriminate the type (R2), then emit
    data points."""
    name = metric.get("name")
    if not isinstance(name, str) or name == "":
        raise _TurnError("invalid metric: name is required")
    metric_type = None
    for mt in _METRIC_TYPES:  # first-match discriminator (metrics.go:105-116)
        if mt in metric:
            metric_type = mt
            break
    if metric_type is None:
        raise _TurnError(f"unknown metric type for metric: {name}")
    defs.append(
        (
            pos,
            name,
            _str_or_empty(metric, "description"),
            _str_or_empty(metric, "unit"),
            metric_type,
        ) + res_key + scope_key
    )
    defs_i.append(i)
    pos += 1
    data = metric.get(metric_type)
    if isinstance(data, dict):
        data_points = data.get("dataPoints")
        if isinstance(data_points, list):
            for dp in data_points:
                if isinstance(dp, dict):
                    points.append(
                        _extract_point_t(dp, name, metric_type, res_key,
                                         scope_key)
                    )
                    points_i.append(i)
    return pos


def _extract_point_t(
    dp: dict, name: str, metric_type: str, res_key: tuple, scope_key: tuple
) -> tuple:
    """InsertMetricDataPoint (database/metrics.go:141-269), POINT_FIELDS
    order."""
    attributes = dp.get("attributes")
    attributes_json = canonical_dumps(attributes)  # nil -> "null"

    value_double = None
    value_int = None
    v = dp.get("asDouble")
    if _is_num(v):
        value_double = float(v)
    else:
        v = dp.get("asInt")
        if isinstance(v, str):
            s = v.strip()
            neg = s[:1] in ("+", "-")
            digits = s[1:] if neg else s
            # Go strconv.ParseInt: no leading/trailing space allowed.
            if v != s or not digits.isascii() or not digits.isdigit() or not digits:
                raise _TurnError(f"failed to parse asInt value '{v}'")
            value_int = int(v)
            if not -_INT64_MAX <= value_int < _INT64_MAX:
                raise _TurnError(f"failed to parse asInt value '{v}': range")

    # Complex-type payload fold (R3, metrics.go:194-256): selected fields
    # only, each type-checked exactly as Go asserts them.
    complex_data: dict[str, Any] = {}
    if metric_type == "histogram":
        if isinstance(dp.get("count"), str):
            complex_data["count"] = dp["count"]
        if _is_num(dp.get("sum")):
            complex_data["sum"] = float(dp["sum"])
        if isinstance(dp.get("bucketCounts"), list):
            complex_data["bucketCounts"] = dp["bucketCounts"]
        if isinstance(dp.get("explicitBounds"), list):
            complex_data["explicitBounds"] = dp["explicitBounds"]
    elif metric_type == "exponentialHistogram":
        if isinstance(dp.get("count"), str):
            complex_data["count"] = dp["count"]
        if _is_num(dp.get("sum")):
            complex_data["sum"] = float(dp["sum"])
        if _is_num(dp.get("scale")):
            complex_data["scale"] = float(dp["scale"])
        if isinstance(dp.get("zeroCount"), str):
            complex_data["zeroCount"] = dp["zeroCount"]
        if isinstance(dp.get("positive"), dict):
            complex_data["positive"] = dp["positive"]
        if isinstance(dp.get("negative"), dict):
            complex_data["negative"] = dp["negative"]
    elif metric_type == "summary":
        if isinstance(dp.get("count"), str):
            complex_data["count"] = dp["count"]
        if _is_num(dp.get("sum")):
            complex_data["sum"] = float(dp["sum"])
        if isinstance(dp.get("quantileValues"), list):
            complex_data["quantileValues"] = dp["quantileValues"]

    if complex_data:
        # Fold only applies when attributes is an object or missing
        # (metrics.go:258-268 type-asserts map[string]interface{}).
        base = {} if attributes is None else attributes
        if isinstance(base, dict):
            merged = dict(base)
            merged["_metricData"] = complex_data
            attributes_json = canonical_dumps(merged)

    return (
        name,
        metric_type,
        attributes_json,
        _opt_time(dp, "startTimeUnixNano"),
        _opt_time(dp, "timeUnixNano"),
        value_double,
        value_int,
        canonical_dumps(dp.get("exemplars")),
        _num_or_zero(dp, "flags"),
    ) + res_key + scope_key


# ---------------------------------------------------------------------------
# Entry points.
# ---------------------------------------------------------------------------

# kind -> plural key in the ``parse_turn`` dict view
KIND_PLURALS = {
    "resource": "resources",
    "scope": "scopes",
    "metric_def": "metric_defs",
    "span": "spans",
    "log": "logs",
    "point": "points",
}

# kind -> the field names of its record tuples
KIND_FIELDS = {
    "resource": RESOURCE_KEY_FIELDS,
    "scope": SCOPE_KEY_FIELDS,
    "metric_def": METRIC_DEF_FIELDS,
    "span": SPAN_FIELDS,
    "log": LOG_FIELDS,
    "point": POINT_FIELDS,
}


def new_accumulator() -> dict[str, tuple[list, list]]:
    """Fresh batch-level accumulator for ``parse_turn_into``:
    kind -> (payload-tuple list, input-row-index list)."""
    return {k: ([], []) for k in KIND_PLURALS}


def parse_turn_into(text: str | None, max_bytes: int, n_bytes: int | None,
                    i: int, acc: dict,
                    seen: tuple[set, set] | None = None
                    ) -> tuple[str | None, str | None]:
    """Parse one transcript turn exactly as the reference processes one
    HTTP request body, appending (tuple, index) records into ``acc``
    (see ``new_accumulator``). Returns (signal_type, error); on any
    error NOTHING is appended (transaction rollback — partial appends
    are truncated away).

    ``n_bytes``: pre-computed UTF-8 byte length of ``text`` (the Spark
    kernel passes ``octet_length(text)`` from the JVM projection so the
    size guard costs a comparison, not an encode). ``None`` keeps the
    encode. Equivalence note (ADVICE r3): JVM ``octet_length`` and
    Python's ``surrogatepass`` UTF-8 length coincide for all
    surrogate-free strings; parquet/Arrow string columns cannot carry
    lone surrogates, so the two byte-length definitions provably agree
    on the pipeline path.

    ``seen`` = (seen_resource_keys, seen_scope_keys): OPTIONAL batch-
    level dedup of resource/scope dimension-touch rows for LOG and
    METRIC turns (round 6 — touch rows were ~25% of the record stream
    while deduping to a handful of dim rows). Sound because (a) every
    touch consumer runs dropDuplicates over the natural key, so only
    the distinct key set per valid-turn-set matters, and (b) the span-
    PK conflict cascade can only ever invalidate SPAN-CARRYING (trace)
    turns, so log/metric turns — the only ones deduped, against each
    other only — are always valid and any one emitter per key suffices.
    Trace-turn touches keep per-turn attribution (an invalidated trace
    turn's touches must vanish with it). Assumes (conv_id, turn_idx)
    uniquely identifies a turn (the pipeline's core ordering
    invariant). Suppression makes the raw STREAM batch-boundary-
    dependent; every sink/aggregate remains partitioning-invariant
    (tests/test_parallelism_invariance.py)."""
    if text is None:
        return None, REJECT_EMPTY
    s = text.lstrip()
    if not s:  # whitespace-only == strip()=="" (same whitespace set)
        return None, REJECT_EMPTY
    if n_bytes is None:
        n_bytes = len(text.encode("utf-8", errors="surrogatepass"))
    if n_bytes > max_bytes:
        return None, REJECT_OVERSIZE
    if s[0] != "{":
        return None, REJECT_NOT_JSON
    try:
        data = _loads_stripped(s)
    except Exception:
        return None, REJECT_INVALID_JSON
    if not isinstance(data, dict):  # unreachable given the '{' check
        return None, REJECT_NOT_JSON

    res, res_i = acc["resource"]
    sco, sco_i = acc["scope"]
    if "resourceSpans" in data:
        spans, spans_i = acc["span"]
        n0, n1, n2 = len(res), len(sco), len(spans)
        try:
            _extract_trace_t(data, i, res, res_i, sco, sco_i, spans, spans_i)
        except _TurnError as e:
            del res[n0:], res_i[n0:], sco[n1:], sco_i[n1:]
            del spans[n2:], spans_i[n2:]
            return "trace", str(e)
        return "trace", None
    if "resourceLogs" in data:
        logs, logs_i = acc["log"]
        n0, n1, n2 = len(res), len(sco), len(logs)
        try:
            _extract_log_t(data, i, res, res_i, sco, sco_i, logs, logs_i)
        except _TurnError as e:
            del res[n0:], res_i[n0:], sco[n1:], sco_i[n1:]
            del logs[n2:], logs_i[n2:]
            return "log", str(e)
        if seen is not None:
            _dedup_touches(res, res_i, n0, i, seen[0])
            _dedup_touches(sco, sco_i, n1, i, seen[1])
        return "log", None
    if "resourceMetrics" in data:
        defs, defs_i = acc["metric_def"]
        points, points_i = acc["point"]
        n0, n1, n2, n3 = len(res), len(sco), len(defs), len(points)
        try:
            _extract_metric_signal_t(data, i, res, res_i, sco, sco_i,
                                     defs, defs_i, points, points_i)
        except _TurnError as e:
            del res[n0:], res_i[n0:], sco[n1:], sco_i[n1:]
            del defs[n2:], defs_i[n2:], points[n3:], points_i[n3:]
            return "metric", str(e)
        if seen is not None:
            _dedup_touches(res, res_i, n0, i, seen[0])
            _dedup_touches(sco, sco_i, n1, i, seen[1])
        return "metric", None
    return None, REJECT_UNKNOWN_SIGNAL


def _dedup_touches(rows: list, idxs: list, n0: int, i: int,
                   seen: set) -> None:
    """Compact a committed turn's dimension-touch appends (rows[n0:])
    against the batch-level ``seen`` key set — runs only AFTER the turn
    succeeded, so rollback never has to undo ``seen`` entries."""
    if len(rows) > n0:
        kept = [k for k in rows[n0:]
                if k not in seen and not seen.add(k)]
        del rows[n0:], idxs[n0:]
        if kept:
            rows.extend(kept)
            idxs.extend([i] * len(kept))


def parse_turn(text: str | None, max_bytes: int = 10 * 1024 * 1024,
               n_bytes: int | None = None) -> dict:
    """Dict-shaped view over ``parse_turn_into`` (used by tests, the
    checkpoint replay and direct callers):
    on any error the record arrays are EMPTY (transaction rollback) and
    ``error`` carries the reject reason."""
    acc = new_accumulator()
    signal_type, error = parse_turn_into(text, max_bytes, n_bytes, 0, acc)
    out: dict = {"signal_type": signal_type, "error": error}
    for kind, plural in KIND_PLURALS.items():
        names = KIND_FIELDS[kind]
        out[plural] = [dict(zip(names, t)) for t in acc[kind][0]]
    return out


def extract_span_keys(text: str | None, max_bytes: int = 10 * 1024 * 1024) -> list[dict]:
    """Cheap span-PK scan for the checkpointed plan's global conflict
    stage (plans/checkpoint.py): returns every (trace_id, span_id) a
    trace turn WOULD try to insert, without validation or
    canonicalization (an over-approximation is fine — conflicting turns
    get a full parse before the sequential replay). Non-trace /
    undecodable / oversize turns yield []."""
    if text is None or not text.lstrip().startswith("{"):
        return []
    if len(text.encode("utf-8", errors="surrogatepass")) > max_bytes:
        return []
    try:
        data = go_loads(text)
    except Exception:
        return []
    if not isinstance(data, dict) or "resourceSpans" not in data:
        return []
    keys: list[dict] = []
    rss = data.get("resourceSpans")
    if not isinstance(rss, list):
        return []
    for rs in rss:
        if not isinstance(rs, dict) or not isinstance(rs.get("resource"), dict):
            continue
        sss = rs.get("scopeSpans")
        if not isinstance(sss, list):
            continue
        for ss in sss:
            if not isinstance(ss, dict):
                continue
            spans = ss.get("spans")
            if not isinstance(spans, list):
                continue
            for s in spans:
                if not isinstance(s, dict):
                    continue
                tid, sid = s.get("traceId"), s.get("spanId")
                if isinstance(tid, str) and tid and isinstance(sid, str) and sid:
                    keys.append({"trace_id": tid, "span_id": sid})
    return keys


# ---------------------------------------------------------------------------
# Flat union-record emission (the physical parse output).
#
# One row per extracted record instead of one nested struct per turn:
# a 'rec_kind'-discriminated union over all sink columns. This is the
# shape that survives scale — every column is a scalar, so the Arrow
# batch -> JVM row conversion is cheap, the in-memory columnar cache
# prunes to exactly the columns a sink needs, and a filter on rec_kind
# replaces repeated scans of a fat nested blob. (Measured on 200k
# turns/local[32]: the nested variant spent >80% of pipeline wall in
# nested-row conversion and full-width cache scans.)
# ---------------------------------------------------------------------------

_S = StringType()
_L = LongType()
_D = DoubleType()

RECORDS_SCHEMA = StructType(
    [
        StructField("rec_kind", _S, False),
        # lineage (every row)
        StructField("conv_id", _S, True),
        StructField("turn_idx", IntegerType(), True),
        StructField("role", _S, True),
        StructField("tool", _S, True),
        # transcript ts travels as unix MICROSECONDS through the Python
        # stage (records.to_records restores TimestampType JVM-side):
        # boxing ~10M pandas Timestamps per 2M turns costs more than the
        # whole JSON parse.
        StructField("ts_us", _L, True),
        # turn rows only
        StructField("signal_type", _S, True),
        StructField("error", _S, True),
        # n_bytes (octet_length of text) is attached JVM-side by
        # enrich_record_ids — no per-turn encode in Python.
        StructField("text", _S, True),
        # dimension natural keys (resource/scope/metric_def/span/log/point)
        StructField("res_attributes", _S, True),
        StructField("res_schema_url", _S, True),
        StructField("scope_name", _S, True),
        StructField("scope_version", _S, True),
        StructField("scope_attributes", _S, True),
        StructField("scope_schema_url", _S, True),
        # metric_def
        StructField("pos", _L, True),
        StructField("name", _S, True),  # shared: metric_def + span name
        StructField("description", _S, True),
        StructField("unit", _S, True),
        StructField("metric_type", _S, True),  # shared: metric_def + point
        # span
        StructField("trace_id", _S, True),  # shared: span + log
        StructField("span_id", _S, True),   # shared: span + log
        StructField("trace_state", _S, True),
        StructField("parent_span_id", _S, True),
        StructField("kind", _L, True),
        StructField("start_time_unix_nano", _L, True),  # shared: span + point
        StructField("end_time_unix_nano", _L, True),
        StructField("attributes", _S, True),  # shared: span + log + point
        StructField("events", _S, True),
        StructField("links", _S, True),
        StructField("status_code", _L, True),
        StructField("status_message", _S, True),
        # log
        StructField("time_unix_nano", _L, True),  # shared: log + point
        StructField("observed_time_unix_nano", _L, True),
        StructField("severity_number", _L, True),
        StructField("severity_text", _S, True),
        StructField("body", _S, True),
        StructField("flags", _L, True),  # shared: log + point
        # point
        StructField("metric_name", _S, True),
        StructField("value_double", _D, True),
        StructField("value_int", _L, True),
        StructField("exemplars", _S, True),
    ]
)

