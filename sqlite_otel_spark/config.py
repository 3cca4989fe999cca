"""Pipeline configuration.

Mirrors the reference collector's tunables (handlers/handler_common.go:29
10 MB body cap; main.go:41-44 rotation defaults) plus the Spark-side knobs
of the batch, checkpointed and streaming plans: surrogate ids,
checkpoint buckets, the conflict cap, stream admission and the sink
layout. Session-wide settings (AQE, serializer) live in session.py.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class PipelineConfig:
    # F3 size guard — reference: handlers/handler_common.go:29 (10 MB).
    # Tests lower this to exercise the oversize-reject path.
    max_text_bytes: int = 10 * 1024 * 1024

    # Surrogate-key strategy for the dedup dimensions (SURVEY §2.4 D1-D3).
    #  - 'hash'  : id = xxhash64(natural key). Pure function of the row ->
    #              no join, no shuffle, no coordination; safe at 100 TB and
    #              under resume. Default.
    #  - 'dense' : sequential ids via row_number over the (tiny, deduped)
    #              dimension, closest to the reference's AUTOINCREMENT.
    #              Requires a single-partition window; only sane because
    #              dimensions are small by construction.
    surrogate_id_mode: str = "hash"

    # Keep the raw transcript text on routed/turn records. The reference
    # collector never persists raw request bodies (it stores only parsed
    # records, handlers/handler_common.go:33-45); text retention is a
    # graft convenience for the per-turn text-equality surface. False
    # drops text right after parse — at 3M turns that removes ~2.7 GB of
    # Arrow transfer + cache traffic per run (the single largest column).
    emit_text: bool = True

    # Checkpoint/lineage (SURVEY §4.2.4): number of resumable input buckets,
    # and how many bucket pipelines the driver submits concurrently
    # (independent sub-DAGs + disjoint output paths; the resume unit is
    # still one bucket).
    checkpoint_buckets: int = 16
    max_concurrent_buckets: int = 4

    # Cap on driver-side sequential resolution of cross-turn span PK
    # conflicts (SURVEY §7 risk (c)). Conflicting turns are pathological
    # (duplicate trace/span ids); the cap guards against a skewed adversarial
    # input collecting too much to the driver.
    max_conflict_turns: int = 100_000

    # Streaming admission control (SURVEY §2.8 backpressure/limits).
    # The reference caps each request body at 10 MB
    # (handlers/handler_common.go:29) and ingests one request per
    # micro-batch; the file-source analogues are maxFilesPerTrigger
    # (per-request cadence) and maxBytesPerTrigger (byte admission cap,
    # file granularity). None disables the corresponding option.
    max_files_per_trigger: int | None = 1
    max_bytes_per_trigger: int | None = None

    # Sink parquet layout. ``max_records_per_file`` is the A4
    # size-rotation analogue; ``target_file_bytes`` derives a per-sink
    # records-per-file cap from measured average row width instead
    # (mirrors logging/rotation.go:34-46 rotating on file SIZE) and
    # takes precedence when set.
    max_records_per_file: int = 1_000_000
    target_file_bytes: int | None = None
    compression: str = "zstd"

    # Sink table format (north_star: per-sink Iceberg tables).
    #  - 'parquet' (default): plain parquet directories — the sandbox
    #    equivalent (no Iceberg catalog/jars here).
    #  - 'iceberg': writeTo(<iceberg_table_prefix>.<sink>) snapshot
    #    commits (≙ the reference's per-request SQLite transaction,
    #    database/traces.go:11-15,86); falls back to parquet with a
    #    warning when no Iceberg catalog is configured.
    table_format: str = "parquet"
    iceberg_table_prefix: str = "local.otel"

    # Sink partition layout (SURVEY §7 M4: "partition layout
    # (signal_type, days(ts))"). When True, the fact sinks (spans,
    # log_records, metric_data_points, rejects) are written partitioned
    # by a derived ts_day column (days(ts) — the Iceberg transform's
    # parquet equivalent), so time-ranged reads partition-prune at the
    # directory level; dimension sinks stay unpartitioned (tiny). Off by
    # default: the sandbox correctness surface compares whole sinks.
    partition_facts_by_day: bool = False
