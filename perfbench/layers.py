"""The traced run: every layer's public functions called one at a time,
each inside its own span, materializing at each layer boundary.

Both workloads emit the same per-layer metric set. The batch layers run
over the batch input, ``stream`` over a stream drain, ``checkpoint``
over a smaller transcript input and ``datapipe`` over the seeded
documents; ``records.kernel_turns_per_s`` drives the parse kernel
in-process, without the JVM.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from check import check_batch, check_query, sink_state

# A layer's spans are the span named after it and, for checkpoint and
# datapipe, the spans named "<layer>.<part>".
LAYERS = ("sources", "records", "conflicts", "dims", "sinks", "aggregates",
          "stream", "checkpoint", "datapipe")
COMMON = ("self_s", "run_core_s", "cpu_core_s", "idle_core_s", "gc_frac",
          "shuffle_mb", "spill_mb", "tasks", "failed_tasks")
# own metrics of a layer that are sums over its spans
STAGE_OWN = {"sources.scan_tasks": "tasks", "records.python_cpu_s": "python_cpu_s",
             "sinks.jobs": "jobs", "checkpoint.jobs": "jobs"}


def files_and_mb(path: str) -> tuple[int, float]:
    n, size = 0, 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, name))
    return n, size / 1e6


def _cache_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def batch_layers(spark, tracer, src: str, n_turns: int, out_dir: str,
                 expected: dict) -> tuple[dict, list[str]]:
    """One batch op decomposed into its layers. Returns the layers' own
    metrics and the output check's problems."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from sqlite_otel_spark.config import PipelineConfig
    from sqlite_otel_spark.operators import aggregates as agg
    from sqlite_otel_spark.operators import facts as facts_ops
    from sqlite_otel_spark.operators.conflicts import drop_conflicted, resolve_span_conflicts
    from sqlite_otel_spark.operators.dims import (
        build_metric_defs,
        build_resources,
        build_scopes,
        enrich_record_ids,
    )
    from sqlite_otel_spark.operators.enrich import enrich, role_dim, tool_dim
    from sqlite_otel_spark.operators.records import to_records
    from sqlite_otel_spark.plans.pipeline import (
        PipelineResult,
        collect_aggregates,
        write_sinks,
    )
    from sqlite_otel_spark.sources.transcripts import read_transcripts

    cfg = PipelineConfig()
    mode = cfg.surrogate_id_mode
    own: dict = {}
    with tracer.span("op"):
        with tracer.span("sources"):
            df = read_transcripts(spark, src)
            df.agg(F.sum(F.length("text")), F.sum("turn_idx")).collect()
        with tracer.span("records"):
            records = enrich_record_ids(
                to_records(df, cfg.max_text_bytes, emit_text=cfg.emit_text), mode
            ).persist(StorageLevel.MEMORY_AND_DISK)
            n_records = records.count()
        own["records.rows_per_turn"] = n_records / n_turns
        own["records.cache_mb"] = _cache_mb(spark)
        try:
            with tracer.span("conflicts"):
                invalid, n_invalid = resolve_span_conflicts(
                    spark, records, cfg.max_conflict_turns)
            own["conflicts.invalid_turns"] = n_invalid
            valid = drop_conflicted(records, invalid)
            with tracer.span("dims"):
                resources = build_resources(valid, mode)
                scopes = build_scopes(valid, mode)
                metric_defs = build_metric_defs(valid, resources, scopes, mode)
                own["dims.rows"] = (resources.count() + scopes.count()
                                    + metric_defs.count())
            with tracer.span("sinks"):
                rejects = facts_ops.build_rejects(records)
                if invalid is not None:
                    rejects = rejects.unionByName(
                        facts_ops.conflict_rejects(records, invalid))
                routed = facts_ops.build_routed(valid)
                enriched = enrich(routed, role_dim(spark), tool_dim(spark))
                result = PipelineResult(
                    sinks={
                        "resources": resources,
                        "instrumentation_scopes": scopes,
                        "metrics": metric_defs,
                        "spans": facts_ops.build_spans(valid, resources, scopes, mode),
                        "log_records": facts_ops.build_log_records(
                            valid, resources, scopes, mode),
                        "metric_data_points": facts_ops.build_points(
                            valid, resources, scopes, metric_defs, mode),
                        "rejects": rejects,
                    },
                    routed=enriched,
                    accounting=agg.request_accounting(routed, rejects),
                    by_signal_tool=agg.counts_by_signal_tool(enriched),
                    by_time_bucket=agg.counts_by_time_bucket(enriched),
                )
                write_sinks(result, out_dir, cfg)
            with tracer.span("aggregates"):
                aggs = collect_aggregates(result)
        finally:
            records.unpersist()
    state = sink_state(out_dir)
    own["sinks.rows"] = sum(state["counts"].values())
    own["sinks.files_written"], own["sinks.mb_written"] = files_and_mb(out_dir)
    return own, check_batch(state, aggs, expected)


def stream_layer(tracer, progress: list[dict], warm: int, span,
                 committed_spans: int) -> dict:
    """Stream-layer metrics of a drain that ran inside ``span``; the
    medians leave out its first ``warm`` batches."""
    t0, t1 = span.t0, span.t1
    jobs = [j for j in tracer.jobs() if t0 <= j[0] and j[1] <= t1]
    stages = [s for s in tracer.stages() if t0 <= s["t0"] and s["t1"] <= t1]
    run_s = sum(s["run_ms"] for s in stages) / 1000.0
    wall = (t1 - t0) / 1000.0
    return {
        "stream.add_batch_s_p50": statistics.median(
            p["durationMs"]["addBatch"] / 1000.0 for p in progress[warm:]),
        "stream.bookkeeping_s_p50": statistics.median(
            (p["durationMs"]["triggerExecution"] - p["durationMs"]["addBatch"]) / 1000.0
            for p in progress[warm:]),
        "stream.jobs_per_batch": len(jobs) / len(progress),
        "stream.idle_core_frac": 1.0 - run_s / (wall * tracer.cores),
        "stream.committed_spans": committed_spans,
    }


def checkpoint_layer(spark, tracer, src: str, n_turns: int, out_dir: str,
                     expected: dict) -> tuple[dict, list[str]]:
    """Stage A, the buckets, finalize and a no-op resume, timed apart:
    ``fail_after_buckets=0`` stops after Stage A, the second call
    resumes every bucket and finalizes, a standalone ``finalize`` times
    the dimension fold, and a last call finds every bucket committed."""
    from sqlite_otel_spark.config import PipelineConfig
    from sqlite_otel_spark.plans.checkpoint import finalize, run_checkpointed
    from sqlite_otel_spark.sources.transcripts import read_transcripts

    # 4 buckets, all concurrent: 16 buckets cost ~300 jobs, which does
    # not fit the traced run's time limit on 4 cores
    cfg = PipelineConfig(checkpoint_buckets=4, max_concurrent_buckets=4)
    shutil.rmtree(out_dir, ignore_errors=True)
    with tracer.span("checkpoint"):
        df = read_transcripts(spark, src)
        with tracer.span("checkpoint.stage_a") as a:
            try:
                run_checkpointed(spark, df, out_dir, cfg, fail_after_buckets=0)
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
        with tracer.span("checkpoint.resume") as b:
            run_checkpointed(spark, df, out_dir, cfg)
        with tracer.span("checkpoint.finalize") as c:
            finalize(spark, out_dir, cfg)
        with tracer.span("checkpoint.noop") as d:
            noop = run_checkpointed(spark, df, out_dir, cfg)
    problems = []
    if noop["processed"]:
        problems.append(f"no-op resume reprocessed buckets {noop['processed']}")
    state = sink_state(out_dir, dims_dir=os.path.join(out_dir, "_final"))
    problems += check_batch(state, {"accounting": []}, {**expected, "accounting": {}})
    files, _ = files_and_mb(out_dir)
    return {
        "checkpoint.stage_a_s": a.wall_s,
        "checkpoint.buckets_s": b.wall_s - c.wall_s,
        "checkpoint.finalize_s": c.wall_s,
        "checkpoint.resume_noop_s": d.wall_s,
        "checkpoint.files_written": files,
        "checkpoint.turns": n_turns,
    }, problems


def datapipe_layer(spark, tracer, dp_dir: str, expected: dict) -> tuple[dict, list[str]]:
    """A cold and a warm pass over the five near-dup queries, each
    checked against its DuckDB oracle, plus two exact plan counters."""
    from __spark_entry__ import queries

    from sqlite_otel_spark.datapipe.dedup import minhash_signatures_inline

    qs = queries()
    problems: list[str] = []
    walls: dict[str, list[float]] = {}
    with tracer.span("datapipe.cold"):
        for name in expected:
            with tracer.span(f"datapipe.cold.{name}") as sp:
                df = qs[name](spark, dp_dir)
                rows = [tuple(r) for r in df.collect()]
            problems += check_query(name, rows, df.columns, expected)
            walls[name] = [sp.wall_s]
    with tracer.span("datapipe"):
        for name in expected:
            with tracer.span(f"datapipe.{name}") as sp:
                df = qs[name](spark, dp_dir)
                rows = [tuple(r) for r in df.collect()]
            problems += check_query(name, rows, df.columns, expected)
            walls[name].append(sp.wall_s)
    own = {f"datapipe.{n}_s": w[1] for n, w in walls.items()}
    own["datapipe.cold_extra_s"] = sum(w[0] - w[1] for w in walls.values())
    docs = spark.read.parquet(f"{dp_dir}/documents.parquet")
    plan = minhash_signatures_inline(docs)._jdf.queryExecution().optimizedPlan().toString()
    own["datapipe.inline_minhash_plan_regex"] = plan.count("regexp_extract_all")
    lsh = qs["dp_embedding_neardup_lsh"](spark, dp_dir)
    own["datapipe.neardup_lsh_broadcasts"] = (
        lsh._jdf.queryExecution().executedPlan().toString().count("BroadcastExchange"))
    return own, problems


def kernel_turns_per_s(src: str, max_turns: int = 8000) -> float:
    """Single-core parse kernel throughput: ``make_kernel`` driven
    in-process over Arrow batches of the batch input, no JVM."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from sqlite_otel_spark.functions.parse import RECORDS_SCHEMA
    from sqlite_otel_spark.operators.records import make_kernel

    pa_type = {"string": pa.string(), "int": pa.int32(), "bigint": pa.int64(),
               "double": pa.float64()}
    out_schema = pa.schema([pa.field(f.name, pa_type[f.dataType.simpleString()])
                            for f in RECORDS_SCHEMA.fields])
    tbl = ds.dataset(src).to_table().slice(0, max_turns)
    tbl = tbl.append_column("ts_us", pc.cast(tbl["ts"], pa.int64()))
    tbl = tbl.append_column("nb", pc.binary_length(tbl["text"]))
    batches = tbl.select(["conv_id", "turn_idx", "role", "tool", "ts_us", "text", "nb"]
                         ).combine_chunks().to_batches(max_chunksize=50_000)
    gen = make_kernel(out_schema, 10 * 1024 * 1024, True)
    t0 = time.perf_counter()
    for _ in gen(iter(batches)):
        pass
    return tbl.num_rows / (time.perf_counter() - t0)


def unit(name: str) -> str:
    """Unit of a per-layer metric, from the words of its name."""
    words = name.rsplit(".", 1)[-1].split("_")
    if "per" in words:
        return "1/s" if words[-1] == "s" else "1"
    if "s" in words:
        return "s"
    if "mb" in words:
        return "MB"
    if words[-1] in ("frac", "ratio"):
        return "1"
    return "count"


def common_metrics(span_metrics: dict[str, dict]) -> dict:
    """The common metrics of each layer, plus the own metrics that come
    from its stages, summed over the spans that belong to it: the
    layer's own span and, for ``checkpoint`` and ``datapipe``, its named
    sub-spans (the cold datapipe pass is left out; it is reported as
    ``datapipe.cold_extra_s``)."""
    out = {}
    for layer in LAYERS:
        parts = [m for name, m in span_metrics.items()
                 if (name == layer or name.startswith(layer + "."))
                 and not name.startswith("datapipe.cold")]
        total = {k: sum(m[k] for m in parts) for k in parts[0]}
        # a share, not seconds: short layers often see no collection
        total["gc_frac"] = total["gc_s"] / total["self_s"] if total["self_s"] else 0.0
        out.update({f"{layer}.{k}": total[k] for k in COMMON})
        out.update({name: total[key] for name, key in STAGE_OWN.items()
                    if name.startswith(layer + ".")})
    return out
