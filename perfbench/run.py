"""Benchmark of the transcript telemetry pipeline on one local[4] session.

    python3 perfbench/run.py --workload batch_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads: ``batch_pipeline`` and
``stream_microbatch`` (see README.md). With ``--trace 0`` the last line
of standard output is a JSON object holding every end-to-end metric;
with ``--trace 1`` it holds every per-layer metric, taken from a traced
run of every layer. Inputs and expected outputs are cached per
(workload, seed) under ``.perfbench_cache/``; each run also writes its
op latency series, set-up times and host steal share there.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_pipeline", "stream_microbatch")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(cache: str) -> None:
    """Workers import the package from the checkout; JVM and Python
    scratch files stay inside the checkout."""
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = ROOT + (
        os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(cache, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # package switches that would change the JVM under test
    for var in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_GC_THREADS"):
        os.environ.pop(var, None)


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import sqlite_otel_spark  # noqa: F401
    except ImportError:
        print(f"perfbench: package sqlite_otel_spark not found under {ROOT}",
              file=sys.stderr)
        return 2

    import inputs as inp_mod
    import layers
    import tracing as trace
    import workloads as wl

    cache = os.path.join(ROOT, ".perfbench_cache")
    _prepare_env(cache)
    os.makedirs(os.path.join(cache, "records"), exist_ok=True)
    inp = inp_mod.Inputs(ROOT, args.workload, args.seed)
    os.makedirs(inp.work, exist_ok=True)
    is_batch = args.workload == "batch_pipeline"
    traced = bool(args.trace)
    parts = ("tiny", "batch", "stream", "layers") if traced else (
        ("tiny", "batch") if is_batch else ("tiny", "stream"))
    steal0 = trace.cpu_ticks()
    with ThreadPoolExecutor(max_workers=1) as pool:
        pending = inp.prepare(parts, pool)
        # A traced run sets up once: it reports no set-up time and must
        # stay inside the run time limit. The expectations are ready
        # before the second set-up starts.
        spark, setups = wl.setup(cache, inp.tiny, 1 if traced else wl.SETUPS,
                                 after_first=pending.result)
        exp = pending.result()
    out_dir = os.path.join(inp.work, "out")
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "setup_s": setups}
    try:
        tracer = trace.Tracer(spark, wl.CORES) if traced else None

        def poll(p):
            # traced stream runs read the status store after every even
            # batch, overlapping the next (odd) batch: that is the cost
            # the tracer puts on a running stream
            if tracer is not None and p["batchId"] % 2 == 0:
                tracer.stages()

        if is_batch:
            # warm-up: one untimed op over the batch input; the first
            # full-size op after the set-ups still runs ~10% slow
            wl.batch_op(spark, inp.batch, os.path.join(inp.work, "warm"))
            # a traced run times one fused op inside _traced instead
            res = wl.run_batch(spark, inp, exp, 0 if traced else args.seconds, out_dir)
        else:
            with tracer.span("stream") if traced else contextlib.nullcontext():
                res = wl.run_stream(spark, inp, exp, args.seconds, out_dir, on_batch=poll)
        record["latency_s"] = res["lat"]
        record["problems"] = res["problems"][:20]
        attempted, failed = len(res["lat"]), res["failed"]

        if not traced:
            metrics = {
                "setup_s": (statistics.median(setups), "s"),
                **{k: (v, u) for (k, v), u in zip(wl.summarize(res).items(), ("1/s", "s"))},
            }
        else:
            own, n_ok = _traced(spark, tracer, inp, exp, res, args, is_batch,
                                os.path.join(inp.work, "layers"), record)
            attempted += n_ok[0]
            failed += n_ok[1]
            own["setup.cold_s"] = setups[0]
            own["peak_rss_mb"] = trace.peak_rss_mb()
            own["failed_op_frac"] = failed / attempted
            metrics = {k: (v, layers.unit(k)) for k, v in own.items()}
            tracer.dump(os.path.join(cache, "records", _stem(args) + "-spans.json"))
    finally:
        _stop(spark)
        shutil.rmtree(inp.work, ignore_errors=True)

    record["steal_share"] = trace.steal_share(steal0, trace.cpu_ticks())
    record["attempted"], record["failed"] = attempted, failed
    with open(os.path.join(cache, "records", _stem(args) + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    print("# " + json.dumps({k: record[k] for k in
                             ("setup_s", "latency_s", "steal_share", "problems")}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _stem(args) -> str:
    return f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"


def _traced(spark, tracer, inp, exp, res, args, is_batch, work, record) -> tuple[dict, tuple[int, int]]:
    """The traced part of a run; returns the per-layer metrics and the
    (attempted, failed) count of its checked ops."""
    import layers
    import workloads as wl
    from check import check_batch, sink_state

    own: dict = {}
    attempted = failed = 0
    problems: list[str] = []

    def count(bad: list[str]) -> None:
        nonlocal attempted, failed
        attempted += 1
        failed += bool(bad)
        problems.extend(bad)

    if is_batch:
        # the op run whole, against which the layer-by-layer op is timed
        with tracer.span("fused") as fused:
            aggs = wl.batch_op(spark, inp.batch, os.path.join(work, "fused"))
        count(check_batch(sink_state(os.path.join(work, "fused")), aggs, exp["batch"]))

    with tracer.span("kernel"):
        own["records.kernel_turns_per_s"] = layers.kernel_turns_per_s(inp.batch)

    batch_own, bad = layers.batch_layers(spark, tracer, inp.batch, exp["batch_turns"],
                                         os.path.join(work, "sinks"), exp["batch"])
    own.update(batch_own)
    count(bad)

    if is_batch:
        op = next(s for s in tracer.spans if s.name == "op")
        own["trace.op_s"] = op.wall_s
        own["trace.overhead_frac"] = op.wall_s / fused.wall_s - 1
        with tracer.span("stream"):
            sres = wl.run_stream(spark, inp, exp, None, os.path.join(work, "stream"),
                                 warm=0, max_batches=6)
        attempted += len(sres["lat"])
        failed += sres["failed"]
        problems.extend(sres["problems"])
        drained, warm = sres["progress"], 0
    else:
        # the measured drain ran inside span "stream"; its odd batches
        # overlapped a status-store read, its even ones did not
        timed = list(zip(res["progress"][wl.STREAM_WARM:], res["lat"]))
        odd = statistics.median(lat for p, lat in timed if p["batchId"] % 2)
        even = statistics.median(lat for p, lat in timed if not p["batchId"] % 2)
        own["trace.op_s"] = odd
        own["trace.overhead_frac"] = odd / even - 1
        drained, warm = res["progress"], wl.STREAM_WARM
    committed = sum(f["delta"]["spans"] for f in exp["stream"][:len(drained) - 1])
    own.update(layers.stream_layer(tracer, drained, warm,
                                   next(s for s in tracer.spans if s.name == "stream"),
                                   committed))

    ck_own, bad = layers.checkpoint_layer(
        spark, tracer, inp.checkpoint, exp["checkpoint_turns"],
        os.path.join(work, "checkpoint"), exp["checkpoint"])
    own.update(ck_own)
    count(bad)

    dp_own, bad = layers.datapipe_layer(spark, tracer, inp.dp, exp["dp"])
    own.update(dp_own)
    attempted += 2 * len(exp["dp"])
    failed += len(bad)
    problems.extend(bad)

    spans = tracer.layer_metrics()
    own.update(layers.common_metrics(spans))
    # rows the layer-by-layer op scanned beyond its own "sources" read
    op_layers = ("op", "records", "conflicts", "dims", "sinks", "aggregates")
    own["sources.rows_read_ratio"] = (
        sum(spans[n]["input_records"] for n in op_layers) / exp["batch_turns"])
    own["checkpoint.rows_read_ratio"] = (
        sum(m["input_records"] for n, m in spans.items() if n.startswith("checkpoint"))
        / exp["checkpoint_turns"])
    record["problems_traced"] = problems[:20]
    return own, (attempted, failed)


if __name__ == "__main__":
    raise SystemExit(main())
