"""Batch, checkpoint and streaming run one records→sinks core, so one
input must land as the same rows in all seven tables whichever path
wrote it: hash ids, first-definition description/unit and reject
reasons included. The stream input is split so that the span-PK cascade
turns A, B and C land in three different micro-batches, which sends B
through the cross-batch clash path (A's span is already committed when
B's batch runs) and C through the path where B never committed."""

import pyarrow as pa
import pytest

from sqlite_otel_spark.config import PipelineConfig
from sqlite_otel_spark.fixtures import make_transcripts
from sqlite_otel_spark.plans import checkpoint as cp
from sqlite_otel_spark.plans.pipeline import (
    FACT_TABLES,
    SINK_TABLES,
    run_pipeline,
    write_sinks,
)
from sqlite_otel_spark.streaming import stream as st
from tests.conftest import ARROW_SCHEMA, transcripts_df, write_part

CASCADE = ("conv-cascade-a", "conv-cascade-b", "conv-cascade-c")


def _rows_of(df, columns):
    return sorted(repr(tuple(r)) for r in df.select(*columns).collect())


@pytest.fixture(scope="module")
def paths(spark, tmp_path_factory):
    rows = sorted(make_transcripts(300, seed=5), key=lambda r: (r["conv_id"], r["turn_idx"]))
    cfg = PipelineConfig()
    tmp = tmp_path_factory.mktemp("parity")

    result = run_pipeline(spark, transcripts_df(spark, rows), cfg)
    try:
        write_sinks(result, str(tmp / "batch"), cfg)
    finally:
        result.unpersist()
    batch = {t: spark.read.parquet(str(tmp / "batch" / t)) for t in SINK_TABLES}

    cp.run_checkpointed(spark, transcripts_df(spark, rows), str(tmp / "ckpt"),
                        PipelineConfig(checkpoint_buckets=3))
    ckpt = {t: df.drop("bucket") for t, df in cp.read_sinks(spark, str(tmp / "ckpt")).items()}

    # one file per micro-batch, cut right after A and right after B
    at = {r["conv_id"]: i for i, r in enumerate(rows)}
    cuts = [0, at[CASCADE[0]] + 1, at[CASCADE[1]] + 1, len(rows)]
    in_dir = tmp / "stream_in"
    in_dir.mkdir()
    for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        write_part(pa.Table.from_pylist(rows[lo:hi], schema=ARROW_SCHEMA),
                   str(in_dir / f"part-{i:03d}.parquet"), i)
    out = str(tmp / "stream_out")
    q = st.start_stream(spark, str(in_dir), out, cfg)
    q.awaitTermination(300)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 3
    stream = {t: spark.read.parquet(f"{out}/{t}") for t in FACT_TABLES}
    stream.update(st.read_dims(spark, out))
    return batch, ckpt, stream


@pytest.mark.parametrize("table", SINK_TABLES)
def test_paths_write_identical_rows(paths, table):
    batch, ckpt, stream = paths
    columns = batch[table].columns
    want = _rows_of(batch[table], columns)
    assert want, f"{table} is empty: the fixture must exercise it"
    assert sorted(ckpt[table].columns) == sorted(columns)
    assert sorted(stream[table].columns) == sorted(columns)
    assert _rows_of(ckpt[table], columns) == want
    assert _rows_of(stream[table], columns) == want


def test_cascade_verdicts_across_batches(paths):
    """B is rejected for its clash with A's committed span; C commits."""
    for sinks in paths:
        rejected = {(r.conv_id, r.reason) for r in sinks["rejects"].collect()}
        assert (CASCADE[1], "spans PK violation") in rejected
        spans = {r.conv_id for r in sinks["spans"].filter(
            sinks["spans"].conv_id.isin(*CASCADE)).collect()}
        assert spans == {CASCADE[0], CASCADE[2]}
