"""The one records→sinks core, and the batch plan built on it.

Spark rebuild of the reference's request lifecycle (SURVEY §3): every
OTLP request goes through the same parse -> get-or-create dims -> insert
facts code (database/*.go). Here batch, checkpoint (plans/checkpoint.py)
and streaming (streaming/stream.py) share that step too:

    parse_records    Arrow mapInArrow parse (P1-P11, F1-F7, one Python
                     pass emitting the flat record stream,
                     operators/records.py) + surrogate ids on the stream
    [persist]        the caller materializes the stream once (R1)
    invalid turns    bounded, local (conv_id, turn_idx) relation from the
                     spans-PK cascade (operators/conflicts.py)
    emit_sinks       spans / log_records / metric_data_points / rejects +
                     the three dimension touches (operators/dims.py)
    write_frames     one concurrent writer for every sink frame, row
                     counts observed on the write itself

Batch (``run_pipeline``) is the one-bucket case: the whole input is one
stream, its touches fold in memory (``dims.fold_dims``), and the result
feeds the role/tool enrichment and the A1-A3 aggregates. Checkpoint and
stream write the touches and fold them on read.

Shuffle inventory (what actually moves at 100 TB):
 - parse + fact filter/project + hash-mode FK attach: narrow, ZERO
   shuffles end-to-end from scan to fact sink;
 - dim dedup: one shuffle each over the (tiny) distinct dim keys, with
   map-side partial aggregation;
 - span-conflict detection: one groupBy over (trace_id, span_id) —
   unavoidable; it IS the global PK;
 - aggregates: partial+final hash agg, AQE-coalesced.
"""

from __future__ import annotations

import warnings
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, DataFrameReader, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from sqlite_otel_spark.config import PipelineConfig
from sqlite_otel_spark.operators import aggregates as agg
from sqlite_otel_spark.operators import facts as facts_ops
from sqlite_otel_spark.operators.conflicts import drop_conflicted, resolve_span_conflicts
from sqlite_otel_spark.operators.dims import (
    DIM_TABLES,
    DIM_TOUCH_TABLES,
    dim_touches,
    enrich_record_ids,
    fold_dims,
)
from sqlite_otel_spark.operators.enrich import enrich, role_dim, tool_dim
from sqlite_otel_spark.operators.records import to_records

SINK_TABLES = (
    "resources",
    "instrumentation_scopes",
    "metrics",
    "spans",
    "log_records",
    "metric_data_points",
    "rejects",
)
FACT_TABLES = ("spans", "log_records", "metric_data_points", "rejects")


@dataclass
class PipelineResult:
    sinks: dict[str, DataFrame]
    routed: DataFrame
    accounting: DataFrame
    by_signal_tool: DataFrame
    by_time_bucket: DataFrame
    n_conflict_invalid: int = 0
    persisted: list = field(default_factory=list)

    def unpersist(self) -> None:
        for df in self.persisted:
            df.unpersist()


# Salt range for hot conversations (north_rule; SURVEY §4.2.1).
SALT_BUCKETS = 8


def salted_repartition(df: DataFrame, n_partitions: int | None = None) -> DataFrame:
    """North-rule §4.2.1: hot conversations (10%+ of turns in one conv_id
    in the fixture) would pin a partition if the input arrived clustered
    by conversation. Repartitioning on (conv_id, salt(turn_idx)) spreads
    each hot conversation over ``SALT_BUCKETS`` partitions while keeping
    unrelated conversations hashed apart. Parse is embarrassingly
    parallel, so no de-salting is ever needed — downstream wide ops
    shuffle on their own keys."""
    salt = F.pmod(F.xxhash64("turn_idx"), F.lit(SALT_BUCKETS))
    if n_partitions:
        return df.repartition(n_partitions, F.col("conv_id"), salt)
    return df.repartition(F.col("conv_id"), salt)


def parse_records(transcripts: DataFrame, cfg: PipelineConfig, mode: str) -> DataFrame:
    """The flat record stream with surrogate ids resolved on it; the
    caller materializes it once for the fan-out."""
    return enrich_record_ids(
        to_records(transcripts, cfg.max_text_bytes, emit_text=cfg.emit_text), mode
    )


def emit_sinks(
    records: DataFrame, invalid_turns: DataFrame | None, mode: str = "hash"
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """The records→sinks core. ``records`` is the materialized record
    stream; ``invalid_turns`` the bounded, local relation of turns the
    spans-PK cascade rejected (None when there are none). Returns the
    accepted stream and the frames: spans, log_records,
    metric_data_points, rejects and the DIM_TOUCH_TABLES touches."""
    valid = drop_conflicted(records, invalid_turns)
    rejects = facts_ops.build_rejects(records)
    if invalid_turns is not None:
        rejects = rejects.unionByName(facts_ops.conflict_rejects(records, invalid_turns))
    touches = dim_touches(valid)
    # hash ids already ride the stream; dense ids are broadcast lookups
    # into the folded dims (batch only)
    dims = fold_dims(touches, mode) if mode != "hash" else dict.fromkeys(DIM_TABLES)
    res, sco, md = (dims[t] for t in DIM_TABLES)
    return valid, {
        "spans": facts_ops.build_spans(valid, res, sco, mode),
        "log_records": facts_ops.build_log_records(valid, res, sco, mode),
        "metric_data_points": facts_ops.build_points(valid, res, sco, md, mode),
        "rejects": rejects,
        **touches,
    }


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig | None = None,
    repartition_to: int | None = None,
    do_salt: bool = False,
) -> PipelineResult:
    """``do_salt`` defaults OFF (round-4 measurement): parse->facts is
    narrow, so on byte-balanced scan splits the salt is a pure extra
    full-corpus shuffle — the matched-window skew experiment clocked
    salt-on at ~2x the salt-off wall even with 30% of turns in one
    conv_id (BENCH_r4: skew_salt_speedup 0.486). Turn it ON only for
    conversation-CLUSTERED ingest layouts (sorted-by-conv files /
    coarse row groups), where a handful of scan splits would otherwise
    pin the whole parse stage — bench.py measures that layout
    explicitly (skew_clustered_* rows). AQE skew-join handling stays on
    in both modes."""
    cfg = cfg or PipelineConfig()
    mode = cfg.surrogate_id_mode

    src = salted_repartition(transcripts, repartition_to) if do_salt else transcripts

    records_all = parse_records(src, cfg, mode)
    # One materialization shared by the reject sink, the conflict pass and
    # the 3-way fan-out (R1): without it every sink would re-run the UDF.
    # The flat schema means each downstream scan prunes to its own columns;
    # enrich_record_ids already swapped the fat dim-key strings on fact
    # rows for 8-byte surrogate ids before anything lands in the cache.
    records_all = records_all.persist(StorageLevel.MEMORY_AND_DISK)

    invalid_turns, n_invalid = resolve_span_conflicts(
        spark, records_all, cfg.max_conflict_turns
    )
    valid, frames = emit_sinks(records_all, invalid_turns, mode)
    dims = fold_dims({t: frames.pop(t) for t in DIM_TOUCH_TABLES}, mode)
    sinks = {**dims, **frames}

    routed = facts_ops.build_routed(valid)
    roles, tools = role_dim(spark), tool_dim(spark)
    routed_enriched = enrich(routed, roles, tools)

    return PipelineResult(
        sinks=sinks,
        routed=routed_enriched,
        accounting=agg.request_accounting(routed, sinks["rejects"]),
        by_signal_tool=agg.counts_by_signal_tool(routed_enriched),
        by_time_bucket=agg.counts_by_time_bucket(routed_enriched),
        n_conflict_invalid=n_invalid,
        persisted=[records_all],
    )


# Spark codec names -> pyarrow codec names for the row-width probe.
# Spark-legal names pyarrow doesn't know ('uncompressed', 'lz4_raw',
# 'lz4raw') would raise inside pyarrow.parquet.write_table (ADVICE r2 #3).
_PYARROW_CODEC = {
    "uncompressed": "none", "none": "none", "snappy": "snappy",
    "gzip": "gzip", "zstd": "zstd", "lz4": "lz4", "lz4_raw": "lz4",
    "lz4raw": "lz4", "brotli": "brotli",
}


def derive_max_records_per_file(
    df: DataFrame, target_bytes: int, compression: str, sample_rows: int = 4096
) -> int | None:
    """A4 size-based rotation analogue (logging/rotation.go:34-46 rotates
    the log when file size >= MaxSize): derive a records-per-file cap
    from the MEASURED parquet-encoded width of a bounded row sample —
    the sample is written through pyarrow with the sink's own codec, so
    the bytes/row estimate reflects real encoding+compression, not an
    in-memory guess. Dictionary/RLE compress better at full file size
    than on a 4k sample, so files land at-or-under target (the reference
    guarantees the same direction: rotate at >= MaxSize)."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    pa_codec = _PYARROW_CODEC.get(compression.lower())
    if pa_codec is None:
        return None  # unknown codec: caller falls back to the static cap
    sample = df.limit(sample_rows).toPandas()
    if len(sample) == 0:
        return 1
    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pandas(sample, preserve_index=False), buf,
                   compression=pa_codec)
    bytes_per_row = max(1.0, buf.tell() / len(sample))
    return max(1, int(target_bytes / bytes_per_row))


def read_parquet_if_exists(reader: DataFrameReader, path: str) -> DataFrame | None:
    """``reader.parquet(path)``, or None when ``path`` does not exist
    (nothing committed there yet). Every other read error — an
    unreadable file, a storage failure — propagates: reading it as
    "empty" would skip the checks and bookkeeping built on the committed
    data."""
    try:
        return reader.parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return None


def _is_catalog_missing(e: Exception) -> bool:
    """True when an Iceberg ``writeTo`` failed because no Iceberg
    catalog / data source is configured or resolvable (analysis-time
    environment gap), as opposed to a genuine failure. An
    AnalysisException alone is NOT sufficient (ADVICE r3): schema
    mismatches, incompatible column types and table conflicts against a
    CONFIGURED catalog are AnalysisExceptions too and must propagate —
    so every path requires one of the catalog/data-source-missing
    markers (error class or message text) before permitting the parquet
    fallback."""
    msg = str(e)
    try:
        from pyspark.errors import AnalysisException

        if isinstance(e, AnalysisException):
            # include the structured error class (Spark 3.4+) in the
            # marker scan; non-Analysis exceptions scan the message only
            get_cls = getattr(e, "getErrorClass", None)
            cls = get_cls() if callable(get_cls) else None
            if cls:
                msg = f"{cls} {msg}"
    except ImportError:  # pragma: no cover
        pass
    markers = (
        "CATALOG_NOT_FOUND", "TABLE_OR_VIEW_NOT_FOUND", "UnresolvedRelation",
        "is not a valid Spark catalog", "Cannot find catalog plugin",
        "DATA_SOURCE_NOT_FOUND", "Failed to find the data source: iceberg",
        "Multiple sources found for iceberg",
        # the unconfigured-catalog symptom on a vanilla session: the
        # catalog part of `<cat>.<ns>.<table>` doesn't resolve, so the
        # identifier falls through to spark_catalog as a multi-part
        # namespace it cannot represent
        "REQUIRES_SINGLE_PART_NAMESPACE",
    )
    return any(m in msg for m in markers)


def write_frames(
    frames: dict[str, DataFrame],
    dest: Callable[[str], str],
    cfg: PipelineConfig,
    mode: str = "overwrite",
    commit: Callable[[str, DataFrame], bool] | None = None,
) -> dict[str, int]:
    """The one sink writer: write each frame to parquet at
    ``dest(name)`` and return {name: rows written}.

    The frames are independent sub-DAGs (over one materialized record
    stream, or tiny dimension folds), so they are submitted CONCURRENTLY
    from driver threads, one per frame (Spark's FIFO scheduler
    interleaves their stages): sequential submission would leave most
    of the cluster idle on the small writes while paying full
    scheduling latency once per frame. Row counts ride each write as an
    unnamed observed metric — no output is rescanned to count it.

    Layout, in every path: ``compression``; file rotation (A4) —
    ``target_file_bytes`` derives maxRecordsPerFile from measured
    parquet row width (see derive_max_records_per_file), else the
    static ``max_records_per_file`` cap applies; and, with
    ``partition_facts_by_day``, FACT_TABLES partitioned by days(ts).
    ``commit(name, df)``, when given, is tried first and returns True
    when it wrote the frame itself (write_sinks' Iceberg commit)."""

    def write_one(item: tuple[str, DataFrame]) -> tuple[str, int]:
        name, df = item
        obs = Observation()
        observed = df.observe(obs, F.count(F.lit(1)).alias("n"))
        if commit is None or not commit(name, observed):
            # probe the unobserved frame: its sample job must not be
            # the observation's first action
            per_file = None
            if cfg.target_file_bytes is not None:
                per_file = derive_max_records_per_file(
                    df, cfg.target_file_bytes, cfg.compression
                )
            if per_file is None:
                per_file = cfg.max_records_per_file
            partition_cols: list[str] = []
            if cfg.partition_facts_by_day and "ts" in df.columns and name in FACT_TABLES:
                # M4 partition layout: days(ts) as a directory-level
                # partition column — time-ranged scans prune partitions
                # before reading a byte (the parquet analogue of the
                # Iceberg days() transform the north_star names).
                observed = observed.withColumn("ts_day", F.to_date("ts"))
                partition_cols = ["ts_day"]
            (
                observed.write.mode(mode)
                .option("compression", cfg.compression)
                .option("maxRecordsPerFile", per_file)
                .partitionBy(*partition_cols)
                .parquet(dest(name))
            )
        return name, obs.get["n"]

    with ThreadPoolExecutor(max_workers=max(1, len(frames))) as pool:
        return dict(pool.map(write_one, frames.items()))


def _iceberg_commit(cfg: PipelineConfig, name: str, df: DataFrame) -> bool:
    """One Iceberg snapshot commit per sink; False (parquet fallback)
    only when no Iceberg catalog is configured."""
    try:
        (
            df.writeTo(f"{cfg.iceberg_table_prefix}.{name}")
            .using("iceberg")
            .tableProperty("write.parquet.compression-codec", cfg.compression)
            .tableProperty("write.target-file-size-bytes",
                           str(cfg.target_file_bytes or 512 * 1024 * 1024))
            .createOrReplace()
        )
        return True
    except Exception as e:
        # Fall back to parquet ONLY for catalog-resolution failures (no
        # Iceberg jars/catalog configured). A genuine
        # snapshot-commit failure on a configured catalog must surface,
        # or the atomic-commit contract silently degrades (ADVICE r2 #2).
        if not _is_catalog_missing(e):
            raise
        warnings.warn(
            f"iceberg write for sink '{name}' unavailable "
            f"({type(e).__name__}); falling back to parquet"
        )
        return False


def write_sinks(
    result: PipelineResult, out_dir: str, cfg: PipelineConfig | None = None
) -> dict[str, int]:
    """S3/S4: atomic per-table commits (≙ the reference's per-request
    SQLite transaction + schema auto-init, database/db.go:53-165) of the
    batch sinks through ``write_frames``; returns rows per sink.

    Table format (cfg.table_format):
     - 'iceberg': ``writeTo(...).createOrReplace()`` — one Iceberg
       snapshot commit per sink (readers see old-or-new, never partial,
       matching WAL readers-vs-writer semantics, database/db.go:26-28).
       On a cluster the dimension get-or-create would become
       ``MERGE INTO dim USING touches ON natural_key WHEN NOT MATCHED
       THEN INSERT`` per batch; falls back to parquet when no Iceberg
       catalog is configured.
     - 'parquet' (default): plain parquet directory per sink."""
    cfg = cfg or PipelineConfig()
    commit = partial(_iceberg_commit, cfg) if cfg.table_format == "iceberg" else None
    return write_frames(result.sinks, lambda name: f"{out_dir}/{name}", cfg, commit=commit)


def collect_aggregates(result: PipelineResult) -> dict[str, list]:
    """A1-A3 materialization in ONE job: aggregate the routed stream
    ONCE at the finest granularity (bucket, signal, tool), union the
    tiny rejects aggregate, and derive the two coarser granularities by
    folding the collected fine rows on the driver. Round 6 (guide §2.3):
    the previous GROUPING SETS form expanded every turn row 3x before
    the partial aggregation — 9M rows through the hash agg at 3M turns
    for the same three result sets; counts and int64 byte sums fold
    associatively, so the coarser rows are bit-identical. The fine
    result is thousands of rows — driver-side folding is free. The
    individual accounting/by_signal_tool/by_time_bucket DataFrames
    remain on PipelineResult as the correctness surface (their oracles
    check values)."""
    fine = (
        result.routed
        .groupBy(
            F.window("ts", "1 hour")["start"].alias("bucket_start"),
            "signal_type", "tool",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_bytes").alias("n_bytes"),
            F.lit(0).alias("gid"),
        )
    )
    rej = (
        result.sinks["rejects"]
        .groupBy("signal_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_bytes").alias("n_bytes"),
            F.lit(999).alias("gid"),
        )
    )
    rows = fine.unionByName(rej, allowMissingColumns=True).collect()
    acc: dict = {}
    by_tool: dict = {}
    for r in rows:
        if r.gid == 999:
            acc.setdefault(r.signal_type, [r.signal_type, 0, 0, 0, 0])[3:5] = [r.n, r.n_bytes or 0]
            continue
        a = acc.setdefault(r.signal_type, [r.signal_type, 0, 0, 0, 0])
        a[1] += r.n
        a[2] += r.n_bytes or 0
        key = (r.signal_type, r.tool)
        by_tool[key] = by_tool.get(key, 0) + r.n
    return {
        "accounting": [tuple(v) for v in acc.values()],
        "by_signal_tool": [(s, t, n) for (s, t), n in by_tool.items()],
        "by_time_bucket": [
            (r.bucket_start, r.signal_type, r.tool, r.n)
            for r in rows
            if r.gid == 0
        ],
    }
