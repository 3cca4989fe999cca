"""The two workloads: their set-up, their op and the closed loop that
times it.

Each workload has one single-process, closed-loop caller: the next op
starts only when the previous one has returned.

- ``batch_pipeline``: one op is ``run_pipeline`` -> ``write_sinks``
  (parquet, zstd) -> ``collect_aggregates`` over the whole batch input.
- ``stream_microbatch``: the input is split into small files that
  ``start_stream`` drains one file per trigger; one op is one
  micro-batch, timed by its ``StreamingQueryProgress`` trigger time.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from check import check_batch, check_stream, sink_state

CORES = 4
SETUPS = 3          # set-ups per run; setup_s is their median
STREAM_WARM = 7     # leading micro-batches of a drain left out of the timing


def spark_conf(cache: str) -> dict:
    """Session settings of the benchmark. Scratch space stays inside the
    checkout; the heap is set here rather than through the package's
    environment switch, whose pre-touch would pin RSS at the heap size."""
    return {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(cache, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(cache, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }


def new_session(cache: str):
    from sqlite_otel_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                      extra_conf=spark_conf(cache))
    spark.sparkContext.setLogLevel("OFF")
    return spark


def ready(spark, src: str) -> int:
    """The first job of every workload: the record parse over a small
    input, which starts the Python workers and imports the package in
    them."""
    from sqlite_otel_spark.operators.records import to_records
    from sqlite_otel_spark.sources.transcripts import read_transcripts

    return to_records(read_transcripts(spark, src)).count()


def setup(cache: str, src: str, n: int, after_first=None) -> tuple[object, list[float]]:
    """Set up ``n`` times: start a session in a fresh SparkContext and
    run ``ready`` in it. The first set-up also launches the JVM;
    ``after_first()`` runs untimed after it. Returns the last session and
    each set-up's wall time."""
    times = []
    spark = None
    for i in range(n):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = new_session(cache)
        ready(spark, src)
        times.append(time.perf_counter() - t0)
        if i == 0 and after_first is not None:
            after_first()
    return spark, times


# ---------------------------------------------------------------------------
# batch_pipeline
# ---------------------------------------------------------------------------


def batch_op(spark, src: str, out_dir: str) -> dict:
    from sqlite_otel_spark.config import PipelineConfig
    from sqlite_otel_spark.plans.pipeline import collect_aggregates, run_pipeline, write_sinks
    from sqlite_otel_spark.sources.transcripts import read_transcripts

    cfg = PipelineConfig()
    result = run_pipeline(spark, read_transcripts(spark, src), cfg)
    try:
        write_sinks(result, out_dir, cfg)
        return collect_aggregates(result)
    finally:
        result.unpersist()


def run_batch(spark, inp, exp: dict, seconds: float, out_dir: str) -> dict:
    """Closed loop of batch ops for ``seconds`` of op time; every op's
    sinks and aggregates are checked against the oracle."""
    lat, failed, problems = [], 0, []
    while sum(lat) < seconds:
        t0 = time.perf_counter()
        try:
            aggs = batch_op(spark, inp.batch, out_dir)
            lat.append(time.perf_counter() - t0)
        except Exception as e:  # an op that raises is a failed op
            lat.append(time.perf_counter() - t0)
            failed += 1
            problems.append(f"op raised {type(e).__name__}: {str(e)[:200]}")
            continue
        bad = check_batch(sink_state(out_dir), aggs, exp["batch"])
        if bad:
            failed += 1
            problems.extend(bad)
    return {"lat": lat, "turns": [exp["batch_turns"]] * len(lat),
            "failed": failed, "problems": problems}


# ---------------------------------------------------------------------------
# stream_microbatch
# ---------------------------------------------------------------------------


def drain(spark, src: str, out_dir: str, seconds: float | None, warm: int,
          max_batches: int | None = None, on_batch=None) -> list[dict]:
    """Drain ``src`` with ``start_stream`` until it is exhausted, the
    batches after the first ``warm`` add up to ``seconds``, or
    ``max_batches`` have completed; returns the progress of every
    completed micro-batch. ``on_batch(progress)`` runs on the caller's
    thread after each completed batch is seen."""
    from sqlite_otel_spark.config import PipelineConfig
    from sqlite_otel_spark.streaming.stream import start_stream

    shutil.rmtree(out_dir, ignore_errors=True)
    query = start_stream(spark, src, out_dir, PipelineConfig())
    seen = 0
    try:
        while True:
            active = query.isActive
            progress = query.recentProgress
            for p in progress[seen:]:
                if on_batch is not None:
                    on_batch(p)
            seen = len(progress)
            timed = [p["durationMs"]["triggerExecution"] for p in progress[warm:]]
            if (not active or (seconds is not None and sum(timed) >= seconds * 1000)
                    or (max_batches is not None and len(progress) >= max_batches)):
                break
            time.sleep(0.05)
    finally:
        query.stop()
    exc = query.exception()
    if exc is not None:
        raise RuntimeError(f"stream failed: {exc}")
    # keep only batches that committed; the stop may have cut a batch
    return [p for p in query.recentProgress if p["numInputRows"] > 0]


def run_stream(spark, inp, exp: dict, seconds: float | None, out_dir: str,
               warm: int = STREAM_WARM, max_batches: int | None = None,
               on_batch=None) -> dict:
    """One drain of the stream input; every committed micro-batch after
    the first ``warm`` is a timed op, and each is checked against the
    oracle."""
    progress = drain(spark, inp.stream, out_dir, seconds, warm, max_batches, on_batch)
    problems = check_stream(out_dir, exp["stream"], len(progress))
    timed = progress[warm:]
    bad = problems[warm:]
    return {
        "lat": [p["durationMs"]["triggerExecution"] / 1000.0 for p in timed],
        "turns": [p["numInputRows"] for p in timed],
        "failed": sum(1 for b in bad if b),
        "problems": [m for b in problems for m in b],
        "progress": progress,
    }


def summarize(res: dict) -> dict:
    lat = res["lat"]
    return {
        "rows_per_s": statistics.median(n / t for n, t in zip(res["turns"], lat)),
        "op_p50_s": statistics.median(lat),
    }
