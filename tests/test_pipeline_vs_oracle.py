"""North-rule correctness gate: the Spark pipeline must persist exactly
what a sequential run of the reference collector would persist —
per-sink count equality, per-record natural-key equality, routed-row
text equality under stable (conv_id, turn_idx) ordering (SURVEY §5.2,
BASELINE.md items 1-2)."""

import json

import pytest

from sqlite_otel_spark.config import PipelineConfig
from sqlite_otel_spark.fixtures import make_transcripts
from sqlite_otel_spark.oracle import OracleDB
from sqlite_otel_spark.plans.pipeline import run_pipeline
from tests.conftest import transcripts_df

MAX_BYTES = 5000


def _rows():
    rows = make_transcripts(600, seed=42)
    # one oversize row (>MAX_BYTES) to exercise F3 in both engines
    rows.append({
        "conv_id": "conv-oversize-0", "turn_idx": 0, "role": "user",
        "text": '{"resourceLogs": []}' + " " * (MAX_BYTES + 10),
        "tool": "bash", "ts": rows[0]["ts"],
    })
    return rows


@pytest.fixture(scope="module", params=["hash", "dense"])
def pipeline_and_oracle(request, spark):
    rows = _rows()
    oracle = OracleDB(max_text_bytes=MAX_BYTES).run(rows)
    cfg = PipelineConfig(max_text_bytes=MAX_BYTES, surrogate_id_mode=request.param)
    result = run_pipeline(spark, transcripts_df(spark, rows), cfg)
    yield result, oracle
    result.unpersist()


def test_sink_counts_match(pipeline_and_oracle):
    result, oracle = pipeline_and_oracle
    got = {name: df.count() for name, df in result.sinks.items()}
    assert got == oracle.sink_counts()


def test_resources_natural_rows(pipeline_and_oracle):
    result, oracle = pipeline_and_oracle
    got = {(r.attributes, r.schema_url) for r in result.sinks["resources"].collect()}
    assert got == set(oracle.resources)


def test_scopes_natural_rows(pipeline_and_oracle):
    result, oracle = pipeline_and_oracle
    got = {
        (r.name, r.version, r.attributes, r.schema_url)
        for r in result.sinks["instrumentation_scopes"].collect()
    }
    assert got == set(oracle.scopes)


def _dim_maps(result):
    """surrogate id -> natural key, for FK translation."""
    res = {r.id: (r.attributes, r.schema_url) for r in result.sinks["resources"].collect()}
    res[0] = None  # logs' missing-resource sentinel (logs.go:29-35)
    sco = {
        r.id: (r.name, r.version, r.attributes, r.schema_url)
        for r in result.sinks["instrumentation_scopes"].collect()
    }
    return res, sco


def test_metrics_first_definition_wins(pipeline_and_oracle):
    result, oracle = pipeline_and_oracle
    res, sco = _dim_maps(result)
    got = {
        (r.name, r.metric_type, res[r.resource_id], sco[r.scope_id]): (r.description, r.unit)
        for r in result.sinks["metrics"].collect()
    }
    oracle_res = {v: k for k, v in oracle.resources.items()}
    oracle_sco = {v: k for k, v in oracle.scopes.items()}
    want = {
        (row["name"], row["metric_type"],
         oracle_res[row["resource_id"]], oracle_sco[row["scope_id"]]):
        (row["description"], row["unit"])
        for row in oracle.metrics.values()
    }
    assert got == want


def test_spans_full_rows(pipeline_and_oracle):
    result, oracle = pipeline_and_oracle
    res, sco = _dim_maps(result)
    cols = ["trace_id", "span_id", "trace_state", "parent_span_id", "name", "kind",
            "start_time_unix_nano", "end_time_unix_nano", "attributes", "events",
            "links", "status_code", "status_message"]
    got = {
        tuple([*(getattr(r, c) for c in cols), res[r.resource_id], sco[r.scope_id]])
        for r in result.sinks["spans"].collect()
    }
    oracle_res = {v: k for k, v in oracle.resources.items()}
    oracle_sco = {v: k for k, v in oracle.scopes.items()}
    want = {
        tuple([*(row[c] for c in cols),
               oracle_res[row["resource_id"]], oracle_sco[row["scope_id"]]])
        for row in oracle.spans.values()
    }
    assert got == want


def test_log_records_full_rows(pipeline_and_oracle):
    result, oracle = pipeline_and_oracle
    res, sco = _dim_maps(result)
    cols = ["time_unix_nano", "observed_time_unix_nano", "severity_number",
            "severity_text", "body", "attributes", "trace_id", "span_id", "flags"]
    got = sorted(
        tuple([r.conv_id, r.turn_idx, *(getattr(r, c) for c in cols),
               res[r.resource_id], sco[r.scope_id]])
        for r in result.sinks["log_records"].collect()
    )
    oracle_res = {v: k for k, v in oracle.resources.items()}
    oracle_res[0] = None
    oracle_sco = {v: k for k, v in oracle.scopes.items()}
    want = sorted(
        tuple([row["conv_id"], row["turn_idx"], *(row[c] for c in cols),
               oracle_res[row["resource_id"]], oracle_sco[row["scope_id"]]])
        for row in oracle.log_records
    )
    assert got == want


def test_points_full_rows(pipeline_and_oracle):
    result, oracle = pipeline_and_oracle
    res, sco = _dim_maps(result)
    cols = ["attributes", "start_time_unix_nano", "time_unix_nano",
            "value_double", "value_int", "exemplars", "flags"]
    got = sorted(
        (tuple([r.conv_id, r.turn_idx, r.metric_name, r.metric_type,
                *(getattr(r, c) for c in cols),
                res[r.resource_id], sco[r.scope_id]])
         for r in result.sinks["metric_data_points"].collect()),
        key=repr,
    )
    oracle_res = {v: k for k, v in oracle.resources.items()}
    oracle_res[0] = None
    oracle_sco = {v: k for k, v in oracle.scopes.items()}
    want = sorted(
        (tuple([row["conv_id"], row["turn_idx"], row["metric_name"], row["metric_type"],
                *(row[c] for c in cols),
                oracle_res[row["resource_id"]], oracle_sco[row["scope_id"]]])
         for row in oracle.points),
        key=repr,
    )
    assert got == want


def test_routed_text_equality_stable_order(pipeline_and_oracle):
    """north_rule: per-turn text equality under stable (conv_id, turn_idx)
    ordering for routed (accepted) rows."""
    result, oracle = pipeline_and_oracle
    got = [
        (r.conv_id, r.turn_idx, r.signal_type, r.text)
        for r in result.routed.orderBy("conv_id", "turn_idx").collect()
    ]
    want = sorted(
        (a["conv_id"], a["turn_idx"], a["signal_type"], None) for a in oracle.accepted
    )
    assert [(c, t, s) for c, t, s, _ in got] == [(c, t, s) for c, t, s, _ in want]
    # text equality: pipeline must carry the original text through, intact
    originals = {(r["conv_id"], r["turn_idx"]): r["text"] for r in _rows()}
    for c, t, s, text in got:
        assert text == originals[(c, t)]


def test_rejects_match(pipeline_and_oracle):
    result, oracle = pipeline_and_oracle
    got = {(r.conv_id, r.turn_idx) for r in result.sinks["rejects"].collect()}
    want = {(r["conv_id"], r["turn_idx"]) for r in oracle.rejects}
    assert got == want


def test_cascade_resolution(pipeline_and_oracle):
    """turn A commits X; turn B (X+Y) rejected; turn C (Y) accepted."""
    result, oracle = pipeline_and_oracle
    rejected = {(r.conv_id, r.turn_idx) for r in result.sinks["rejects"].collect()}
    assert ("conv-cascade-b", 0) in rejected
    assert ("conv-cascade-a", 0) not in rejected
    assert ("conv-cascade-c", 0) not in rejected
    names = {
        r.name for r in result.sinks["spans"]
        .filter("trace_id = '" + "ab" * 16 + "'").collect()
    }
    assert names == {"X", "Y-late"}


def test_fused_rollup_matches_individual_aggregates(spark):
    """collect_aggregates' one job (the finest-grain aggregation, folded
    to the coarser granularities on the driver) must reproduce the three
    individually-computed aggregate frames exactly."""
    from sqlite_otel_spark.plans.pipeline import collect_aggregates

    rows = _rows()
    result = run_pipeline(spark, transcripts_df(spark, rows),
                          PipelineConfig(max_text_bytes=MAX_BYTES))
    try:
        fused = collect_aggregates(result)
        acc = {tuple(r) for r in result.accounting
               .filter("signal_type is not null")
               .select("signal_type", "accepted", "accepted_bytes",
                       "rejected", "rejected_bytes").collect()}
        got_acc = {t for t in fused["accounting"] if t[0] is not None}
        assert got_acc == acc
        bst = {tuple(r) for r in result.by_signal_tool.collect()}
        assert set(fused["by_signal_tool"]) == bst
        btb = {tuple(r) for r in result.by_time_bucket.collect()}
        assert set(fused["by_time_bucket"]) == btb
    finally:
        result.unpersist()


def test_emit_text_off_preserves_counts(spark):
    """cfg.emit_text=False (the reference's own never-persist-bodies
    behavior) must not change any sink/accounting result — only the raw
    text column on routed/turn rows goes null; n_bytes survives via the
    Python-side byte count."""
    rows = _rows()
    cfg_on = PipelineConfig(max_text_bytes=MAX_BYTES)
    cfg_off = PipelineConfig(max_text_bytes=MAX_BYTES, emit_text=False)
    r_on = run_pipeline(spark, transcripts_df(spark, rows), cfg_on)
    r_off = run_pipeline(spark, transcripts_df(spark, rows), cfg_off)
    try:
        assert {n: d.count() for n, d in r_on.sinks.items()} == {
            n: d.count() for n, d in r_off.sinks.items()
        }
        acc_on = {tuple(r) for r in r_on.accounting.collect()}
        acc_off = {tuple(r) for r in r_off.accounting.collect()}
        assert acc_on == acc_off  # includes accepted_bytes (n_bytes path)
        assert r_off.routed.filter("text is not null").count() == 0
    finally:
        r_on.unpersist()
        r_off.unpersist()

