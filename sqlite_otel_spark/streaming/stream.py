"""Structured Streaming variant (SURVEY §2.8).

The reference is a continuously-running push receiver: each HTTP request
is an immediately-persisted micro-batch (README.md:133, per-request
transaction database/traces.go:11-15). The streaming rebuild maps one
micro-batch to one ``foreachBatch`` invocation of the records→sinks core
that batch and checkpoint share (plans/pipeline.py):

    readStream(file source over the transcripts table)
      -> foreachBatch: parse_records -> invalid turns (within the batch
         AND against previously committed spans — the cross-batch
         persistent state the reference keeps in SQLite's unique
         indexes) -> emit_sinks -> write_frames appends facts + dim
         touches

Cross-batch state design: instead of flatMapGroupsWithState (explicitly
avoided, SURVEY §7e), committed span PKs are re-read from the sink and
semi-joined against the batch's span keys ONCE per batch; the clashing
turns come back through the same bounded collect as the within-batch
conflict pass and join its verdicts in one local relation — the parquet
stand-in for an Iceberg MERGE. Dimension tables are append+fold-on-read
(``read_dims`` = dims.fold_dims over the appended touches), matching the
get-or-create semantics without a transactional catalog.

Watermarking: the reference has NO late-data policy (rows stored in
arrival order, database/db.go:86-87); ``windowed_counts`` demonstrates
the watermark + tumbling-window aggregate the north_star adds on ts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlite_otel_spark.config import PipelineConfig
from sqlite_otel_spark.operators.conflicts import (
    collect_bounded,
    conflicting_turns,
    invalid_relation,
)
from sqlite_otel_spark.operators.dims import DIM_TOUCH_TABLES, fold_dims
from sqlite_otel_spark.plans.pipeline import emit_sinks, parse_records, write_frames

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def _clash_turns(spark: SparkSession, records: DataFrame, out_dir: str,
                 max_conflict_turns: int) -> list[tuple]:
    """Turns of this batch carrying a span key an earlier batch
    committed (one scan of the committed spans)."""
    try:
        committed = spark.read.parquet(f"{out_dir}/spans").select("trace_id", "span_id")
    except Exception:  # no batch has committed spans yet
        return []
    clash = (
        records.filter(F.col("rec_kind") == "span")
        .select("conv_id", "turn_idx", "trace_id", "span_id")
        .join(committed, ["trace_id", "span_id"], "leftsemi")
        .select("conv_id", "turn_idx").distinct()
    )
    return [tuple(r) for r in collect_bounded(clash, max_conflict_turns, "turns")]


def process_batch(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, out_dir: str,
    cfg: PipelineConfig,
) -> None:
    records = parse_records(batch_df, cfg, "hash").persist()
    try:
        # within-batch sequential-commit replay, plus the cross-batch PK
        # state: a turn clashing with a committed span is rejected
        # whatever the within-batch verdict
        invalid = set(conflicting_turns(records, cfg.max_conflict_turns))
        invalid.update(_clash_turns(spark, records, out_dir, cfg.max_conflict_turns))
        _, frames = emit_sinks(records, invalid_relation(spark, sorted(invalid)))
        write_frames(frames, lambda name: f"{out_dir}/{name}", cfg, mode="append")
    finally:
        records.unpersist()


def start_stream(
    spark: SparkSession, input_dir: str, out_dir: str,
    cfg: PipelineConfig | None = None, checkpoint_dir: str | None = None,
):
    """File-source stream with availableNow trigger (bounded catch-up run,
    ≙ draining the request backlog); exactly-once per micro-batch via the
    streaming checkpoint + idempotent appends."""
    cfg = cfg or PipelineConfig()
    os.makedirs(out_dir, exist_ok=True)
    reader = spark.readStream.schema(TRANSCRIPT_DDL)
    if cfg.max_files_per_trigger is not None:
        # per-request micro-batch analogue
        reader = reader.option("maxFilesPerTrigger", cfg.max_files_per_trigger)
    if cfg.max_bytes_per_trigger is not None:
        # byte admission cap — the 10 MB/request analogue
        # (handlers/handler_common.go:29); file-granularity in Spark.
        reader = reader.option("maxBytesPerTrigger", str(cfg.max_bytes_per_trigger))
    src = reader.parquet(input_dir)
    return (
        src.writeStream
        .foreachBatch(lambda df, bid: process_batch(spark, df, bid, out_dir, cfg))
        .option("checkpointLocation", checkpoint_dir or f"{out_dir}/_stream_checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def read_dims(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    """Fold-on-read dimension views over the appended touches."""
    return fold_dims({t: spark.read.parquet(f"{out_dir}/{t}") for t in DIM_TOUCH_TABLES})


def windowed_counts(
    spark: SparkSession, input_dir: str, watermark: str = "10 minutes",
    bucket: str = "1 hour",
):
    """Streaming watermarked tumbling-window aggregate (A3 streaming
    form): counts by window/role with late data beyond the watermark
    dropped. Returns a streaming DataFrame for a memory-sink test."""
    src = spark.readStream.schema(TRANSCRIPT_DDL).parquet(input_dir)
    return (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", bucket).alias("w"), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(F.col("w.start").alias("bucket_start"), "role", "n_turns")
    )
