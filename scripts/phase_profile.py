"""Decompose the benched pipeline wall into phases at one parallelism
level, with JVM GC time and whole-process CPU utilization per phase.

Diagnoses WHERE the 2->8 core scaling efficiency is lost (matched-window
pairs measure ~0.57 notext): a phase whose CPU utilization collapses at
8 cores is scheduling/serial-limited (Amdahl); a phase with high
utilization but degraded per-core throughput is memory/GC-bound
(hardware, SCALING.md).

Usage: python scripts/phase_profile.py local[8] 16 [n_turns]
Prints one JSON line per phase:
  {"phase": ..., "wall": s, "gc_s": s, "cpu_util": 0-1, "cores": N}
Run on an idle machine (same discipline as bench.py).
"""
from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CLK = os.sysconf("SC_CLK_TCK")


def _sys_cpu() -> tuple[float, float]:
    """System-wide (busy_seconds, steal_seconds) from /proc/stat —
    includes the JVM AND the Python parse workers (separate processes a
    per-pid probe would miss until reaped). Valid because the profile
    runs on an otherwise-idle machine (same discipline as bench.py)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts[:8]]
    idle = vals[3] + vals[4]
    busy = sum(vals) - idle - vals[7]
    return busy / CLK, vals[7] / CLK


def _gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    total_ms = 0
    it = beans.iterator()
    while it.hasNext():
        total_ms += it.next().getCollectionTime()
    return total_ms / 1000.0


class Phaser:
    def __init__(self, spark, cores: int):
        self.spark, self.cores = spark, cores
        self.rows = []

    def run(self, name: str, fn):
        (c0, s0), g0 = _sys_cpu(), _gc_seconds(self.spark)
        t0 = time.monotonic()
        out = fn()
        wall = time.monotonic() - t0
        (c1, s1), g1 = _sys_cpu(), _gc_seconds(self.spark)
        row = {
            "phase": name,
            "wall": round(wall, 2),
            "gc_s": round(g1 - g0, 2),
            "cpu_util": round((c1 - c0) / (wall * self.cores), 3),
            "steal_s": round(s1 - s0, 2),
            "cores": self.cores,
        }
        self.rows.append(row)
        print(json.dumps(row), flush=True)
        return out


def main() -> None:
    master = sys.argv[1] if len(sys.argv) > 1 else "local[8]"
    rep = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    n_turns = int(sys.argv[3]) if len(sys.argv) > 3 else 3_000_000
    cores = int(re.search(r"\d+", master).group())

    sys.path.insert(0, REPO)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(48, max(8, 4 * cores))}g")
    from bench import ensure_transcripts, new_session

    from sqlite_otel_spark.config import PipelineConfig
    from sqlite_otel_spark.operators.aggregates import sink_counts
    from sqlite_otel_spark.operators.conflicts import resolve_span_conflicts
    from sqlite_otel_spark.plans import pipeline as plan
    from sqlite_otel_spark.plans.pipeline import collect_aggregates, run_pipeline

    path = ensure_transcripts(n_turns)
    spark = new_session(master, rep)
    ph = Phaser(spark, cores)
    cfg = PipelineConfig(emit_text=False)

    # warmup (untimed): full pipeline on 1/5 input
    wpath = ensure_transcripts(max(20_000, n_turns // 5))
    wdf = spark.read.parquet(wpath)
    res = run_pipeline(spark, wdf, cfg, repartition_to=rep)
    sink_counts(res.sinks)
    collect_aggregates(res)
    res.unpersist()

    df = spark.read.parquet(path)

    # --- phase 1: parse -> records -> persist materialization ---
    from pyspark.storagelevel import StorageLevel

    src = plan.salted_repartition(df, cfg, rep)
    records = plan.parse_records(src, cfg, cfg.surrogate_id_mode).persist(
        StorageLevel.MEMORY_AND_DISK)
    ph.run("parse_cache_build", lambda: records.count())

    # --- phase 2: span-conflict resolution (groupBy over cache) ---
    st = ph.run("conflict_resolve",
                lambda: resolve_span_conflicts(spark, records, cfg.max_conflict_turns))
    invalid, _n = st

    # --- phase 3: full fan-out exactly as benched (sinks + aggregates) ---
    def fanout():
        from concurrent.futures import ThreadPoolExecutor

        import sqlite_otel_spark.operators.facts as facts_ops
        from sqlite_otel_spark.operators.dims import DIM_TOUCH_TABLES, fold_dims
        from sqlite_otel_spark.operators.enrich import enrich, role_dim, tool_dim

        valid, frames = plan.emit_sinks(records, invalid, cfg.surrogate_id_mode)
        touches = {t: frames.pop(t) for t in DIM_TOUCH_TABLES}
        sinks = {**fold_dims(touches, cfg.surrogate_id_mode), **frames}
        routed = enrich(facts_ops.build_routed(valid), role_dim(spark), tool_dim(spark))
        res = plan.PipelineResult(sinks, routed, None, None, None)
        with ThreadPoolExecutor(max_workers=2) as pool:
            a = pool.submit(sink_counts, sinks)
            b = pool.submit(collect_aggregates, res)
            a.result()
            b.result()

    ph.run("fanout_sinks_aggs", fanout)

    # --- control: pure cache rescan (bandwidth probe, no logic) ---
    ph.run("cache_rescan_count", lambda: records.groupBy("rec_kind").count().collect())

    total = sum(r["wall"] for r in ph.rows[:3])
    print(json.dumps({"phase": "TOTAL_benched_equiv", "wall": round(total, 2),
                      "master": master, "rep": rep, "n_turns": n_turns}), flush=True)
    records.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
