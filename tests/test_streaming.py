"""Structured Streaming variant: micro-batch ingest must persist exactly
what the sequential oracle persists (arrival order = file order; files
are fed in canonical (conv_id, turn_idx) order so the cross-batch span
PK state is comparable), plus a watermarked windowed aggregate."""

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from sqlite_otel_spark.config import PipelineConfig
from sqlite_otel_spark.fixtures import make_transcripts
from sqlite_otel_spark.oracle import OracleDB
from sqlite_otel_spark.streaming import stream as st
from tests.conftest import ARROW_SCHEMA, write_part


@pytest.fixture(scope="module")
def stream_dirs(tmp_path_factory):
    rows = sorted(make_transcripts(300, seed=13), key=lambda r: (r["conv_id"], r["turn_idx"]))
    input_dir = tmp_path_factory.mktemp("stream_in")
    n = len(rows) // 3
    for i, chunk in enumerate([rows[:n], rows[n:2 * n], rows[2 * n:]]):
        write_part(pa.Table.from_pylist(chunk, schema=ARROW_SCHEMA),
                   str(input_dir / f"part-{i:03d}.parquet"), i)
    return rows, str(input_dir), str(tmp_path_factory.mktemp("stream_out"))


def test_stream_matches_oracle(spark, stream_dirs):
    rows, input_dir, out_dir = stream_dirs
    q = st.start_stream(spark, input_dir, out_dir, PipelineConfig())
    q.awaitTermination(300)

    oracle = OracleDB().run(rows)
    counts = {
        "spans": spark.read.parquet(f"{out_dir}/spans").count(),
        "log_records": spark.read.parquet(f"{out_dir}/log_records").count(),
        "metric_data_points": spark.read.parquet(f"{out_dir}/metric_data_points").count(),
        "rejects": spark.read.parquet(f"{out_dir}/rejects").count(),
    }
    want = oracle.sink_counts()
    assert counts == {k: want[k] for k in counts}

    dims = st.read_dims(spark, out_dir)
    assert dims["resources"].count() == want["resources"]
    assert dims["instrumentation_scopes"].count() == want["instrumentation_scopes"]
    assert dims["metrics"].count() == want["metrics"]

    # per-record span equality (hash ids aside)
    got = {(r.trace_id, r.span_id) for r in spark.read.parquet(f"{out_dir}/spans").collect()}
    assert got == set(oracle.spans)


def test_max_bytes_per_trigger_admission(spark, stream_dirs, tmp_path):
    """Byte-based admission control (the 10 MB/request analogue,
    handlers/handler_common.go:29): a tiny byte cap admits one file per
    micro-batch (file granularity), and the sink contents are unchanged
    vs any other batching."""
    rows, input_dir, _ = stream_dirs
    out_dir = str(tmp_path / "bytes_out")
    cfg = PipelineConfig(max_files_per_trigger=None, max_bytes_per_trigger=1)
    q = st.start_stream(spark, input_dir, out_dir, cfg,
                        checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 3  # one per input file under the 1-byte cap
    want = OracleDB().run(rows).sink_counts()
    got = {
        t: spark.read.parquet(f"{out_dir}/{t}").count()
        for t in ("spans", "log_records", "metric_data_points", "rejects")
    }
    assert got == {k: want[k] for k in got}


def test_stateful_dedup_matches_sequential(spark, tmp_path):
    """applyInPandasWithState custom stateful operator: first-seen
    span-PK dedup across micro-batches must equal a sequential
    first-seen scan over the files in ingestion order."""
    from sqlite_otel_spark.streaming.stateful import dedup_span_keys_stateful

    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("trace_id", pa.string()), ("span_id", pa.string()),
    ])
    # duplicates within a batch, across batches, and fresh keys per batch
    batches = [
        [("c0", 0, "t1", "s1"), ("c0", 1, "t1", "s1"), ("c0", 2, "t2", "s1")],
        [("c1", 0, "t1", "s1"), ("c1", 1, "t3", "s1"), ("c1", 2, "t2", "s1")],
        [("c2", 0, "t3", "s1"), ("c2", 1, "t4", "s9")],
    ]
    in_dir = tmp_path / "keys_in"
    in_dir.mkdir()
    def write_keys(rows, i):
        write_part(pa.Table.from_pylist(
            [dict(zip(("conv_id", "turn_idx", "trace_id", "span_id"), r)) for r in rows],
            schema=schema,
        ), str(in_dir / f"part-{i:03d}.parquet"), i)

    for i, rows in enumerate(batches):
        write_keys(rows, i)

    out_dir = str(tmp_path / "dedup_out")

    def run_stream():
        # durable (parquet) sink: memory sinks cannot recover from a
        # checkpoint, and recovery is exactly what the restart asserts
        q = (
            dedup_span_keys_stateful(
                spark.readStream.schema(
                    "conv_id string, turn_idx int, trace_id string, span_id string"
                ).option("maxFilesPerTrigger", 1).parquet(str(in_dir))
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return {
            (r.conv_id, r.turn_idx, r.trace_id, r.span_id)
            for r in spark.read.parquet(out_dir).collect()
        }

    got = run_stream()
    seen, want = set(), set()
    for rows in batches:
        for r in rows:
            pk = (r[2], r[3])
            if pk not in seen:
                seen.add(pk)
                want.add(r)
    assert got == want

    # restart durability: state recovers from the checkpoint — a new
    # file replaying old PKs plus one fresh PK emits ONLY the fresh one
    write_keys([("c3", 0, "t1", "s1"), ("c3", 1, "t9", "s9")], 3)
    got2 = run_stream()
    assert got2 == want | {("c3", 1, "t9", "s9")}

    # per-key O(1) state (round-3 redesign): the state store must hold
    # exactly ONE row per distinct PK whose value is a single boolean —
    # replays of already-seen PKs add no state, and no value grows with
    # history (the reference's per-row unique index, database/db.go:153).
    state = spark.read.format("statestore").load(str(tmp_path / "ckpt"))
    rows = state.select(
        "key.trace_id", "key.span_id",
        F.col("value.groupState.emitted").alias("emitted"),
    ).collect()
    distinct_pks = {(r[2], r[3]) for rows_ in batches for r in rows_} | {("t1", "s1"), ("t9", "s9")}
    assert {(r.trace_id, r.span_id) for r in rows} == distinct_pks
    assert all(r.emitted is True for r in rows)
    assert len(rows) == len(distinct_pks)


def test_windowed_counts_with_watermark(spark, stream_dirs):
    rows, input_dir, _ = stream_dirs
    sdf = st.windowed_counts(spark, input_dir, watermark="10 minutes", bucket="1 hour")
    q = (
        sdf.writeStream.format("memory").queryName("wc")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = {
        (r.bucket_start, r.role): r.n_turns
        for r in spark.sql("SELECT * FROM wc").collect()
    }
    from collections import Counter

    want = Counter()
    for r in rows:
        want[(r["ts"].replace(minute=0, second=0, microsecond=0), r["role"])] += 1
    assert got == dict(want)
    assert len({b for b, _ in got}) >= 3  # fixture spreads >=3 hourly buckets
