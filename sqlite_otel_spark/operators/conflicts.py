"""D4: global spans PRIMARY KEY semantics across turns (SURVEY §2.4, §7c).

The reference enforces PRIMARY KEY(trace_id, span_id) in SQLite
(database/db.go:95): a turn whose span collides with an EARLIER COMMITTED
span fails entirely (transaction rollback), which can in turn free keys
for later turns — a sequential cascade:

    turn A commits span X
    turn B carries X and Y -> rejected (X taken); Y never commits
    turn C carries Y        -> accepted (B never committed)

Distributed resolution: only turns that contain a *globally duplicated*
key can be affected (keys unique to one turn can never collide). Those
turns are a vanishing fraction of real telemetry (duplicate span ids are
pathological), so a counts-only aggregation over the pruned span-key
projection finds the duplicated keys first and enforces the hard cap,
then a semi-join collects the (turn, key) pairs — provably bounded by
the cap — and the driver replays the sequential commit order over just
those pairs. The verdict set is broadcast back as an anti-join.
Exceeding the cap means the input is adversarial and the job fails
loudly (before any oversized group materializes on an executor or any
wide row reaches the driver) rather than OOMing.

Canonical arrival order is (conv_id, turn_idx) — the graft's stable
ordering invariant (BASELINE.json input_hint).

``collect_bounded`` and ``replay_commits`` also serve checkpoint Stage A
(plans/checkpoint.py) and the stream's cross-batch clash set
(streaming/stream.py), so every path raises ConflictOverflowError past
the same cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ConflictOverflowError(RuntimeError):
    pass


def _overflow(max_conflict_turns: int, what: str) -> ConflictOverflowError:
    return ConflictOverflowError(
        f"more than {max_conflict_turns} span-PK-conflicting {what}; "
        "input looks adversarial (duplicate trace/span ids at scale)"
    )


def collect_bounded(df: DataFrame, max_conflict_turns: int, what: str) -> list:
    """Collect at most ``max_conflict_turns`` rows of ``df`` to the
    driver, or raise ConflictOverflowError: the LIMIT of cap+1 rows
    bounds the collect no matter how large ``df`` is.

    Single-shot take: the default executeTake starts at 1 partition
    and scales up 4x per wave, re-running the upstream aggregation as
    3-4 SEQUENTIAL jobs whose scheduling latency exceeds the saved work
    (measured 2.3 s -> 5.4 s at 3M turns). Covering every partition in
    wave 1 keeps this one job; a map-side agg runs once either way."""
    conf = df.sparkSession.conf
    key = "spark.sql.limit.initialNumPartitions"
    prev = conf.get(key, None)
    try:
        conf.set(key, str(1 << 20))
        rows = df.limit(max_conflict_turns + 1).collect()
    finally:
        if prev is None:
            conf.unset(key)
        else:
            conf.set(key, prev)
    if len(rows) > max_conflict_turns:
        raise _overflow(max_conflict_turns, what)
    return rows


def replay_commits(pairs) -> list[tuple]:
    """Sequential replay in canonical arrival order over (turn, key)
    pairs, turn = (conv_id, turn_idx), key = (trace_id, span_id): a turn
    with a key an earlier turn committed is invalid and commits none of
    its own keys. Returns the invalid turns in arrival order."""
    by_turn: dict[tuple, list[tuple]] = {}
    for turn, key in pairs:
        by_turn.setdefault(turn, []).append(key)
    committed: set[tuple] = set()
    invalid: list[tuple] = []
    for turn in sorted(by_turn):
        keys = by_turn[turn]
        if any(k in committed for k in keys):
            invalid.append(turn)
        else:
            committed.update(keys)
    return invalid


def invalid_relation(spark: SparkSession, turns) -> DataFrame | None:
    """The invalid turns as a local (conv_id, turn_idx) relation, None
    when there are none. coalesce(1): this tiny relation is
    broadcast-built several times downstream (drop_conflicted anti-joins
    in independent jobs); at the default parallelism each build was a
    32-task mini-job over near-empty partitions (~0.3 s of pure
    scheduling each, round-6 stage profile)."""
    if not turns:
        return None
    return spark.createDataFrame(
        turns, schema="conv_id string, turn_idx int"
    ).coalesce(1)


def conflicting_turns(records: DataFrame, max_conflict_turns: int = 100_000) -> list[tuple]:
    """Turns rejected by the cross-turn spans PK cascade, in arrival
    order. ``records`` is the flat record stream (operators/records.py);
    locally-failed turns emitted no span rows and are transparently
    excluded. Two jobs over the pruned (conv_id, turn_idx, trace_id,
    span_id) projection: a counts-only agg that enforces the cap, then a
    bounded probe collect (the dup set is near-empty in sane inputs)."""
    span_keys = records.filter(F.col("rec_kind") == "span").select(
        "conv_id", "turn_idx", "trace_id", "span_id"
    )
    # Pass 1 — duplicated keys via ONE partial+final count agg, fetched
    # by the bounded collect: the adversarial-input guard fires BEFORE
    # any per-key list materializes on an executor or any wide row
    # reaches the driver (a hot key under collect_list would otherwise
    # buffer its whole group first). Round 6 (guide §2.4): the previous
    # counts-only stats pass threw the dup-key rows away, so pass 2
    # RE-RAN the whole groupBy from the cache as its broadcast build
    # side (~27 core-s + one extra job at 3M turns); collecting the
    # (bounded) keys here lets pass 2 probe a local relation instead.
    dup_rows = collect_bounded(
        span_keys.groupBy("trace_id", "span_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1),
        max_conflict_turns, "keys",
    )
    if not dup_rows:
        return []
    if sum(r.n for r in dup_rows) > max_conflict_turns:
        raise _overflow(max_conflict_turns, "turn/key pairs")
    # Pass 2 — now provably bounded (n_pairs <= max_conflict_turns rows):
    # probe the pruned projection for the duplicated keys and collect
    # the flat (turn, key) pairs. Small dup sets (the sane-input case)
    # probe with an InSet FILTER pushed into the cache scan — measured
    # 0.3-0.5 s vs 1.6-2.3 s for the broadcast-semi-join probe at 3M
    # turns (no join, no broadcast build, batch-stat pruning intact).
    # The concat key makes the filter a SUPERSET under pathological
    # NUL-bearing ids, so the driver applies the exact set afterwards;
    # big dup sets (only reachable just under the cap) fall back to the
    # broadcast semi-join to keep literal lists out of the plan.
    dup_set = {(r.trace_id, r.span_id) for r in dup_rows}
    if len(dup_rows) <= 10_000:
        sep = "\x00"
        probe = span_keys.filter(
            F.concat_ws(sep, "trace_id", "span_id").isin(
                [f"{t}{sep}{s}" for t, s in dup_set]
            )
        )
    else:
        # coalesce(1): the local relation defaults to defaultParallelism
        # near-empty partitions, and every broadcast build over it would
        # schedule one task each.
        dup_df = records.sparkSession.createDataFrame(
            sorted(dup_set), schema="trace_id string, span_id string"
        ).coalesce(1)
        probe = span_keys.join(
            F.broadcast(dup_df), ["trace_id", "span_id"], "leftsemi"
        )
    return replay_commits(
        ((r.conv_id, r.turn_idx), (r.trace_id, r.span_id))
        for r in probe.collect() if (r.trace_id, r.span_id) in dup_set
    )


def resolve_span_conflicts(
    spark: SparkSession, records: DataFrame, max_conflict_turns: int = 100_000
) -> tuple[DataFrame | None, int]:
    """Return (invalid_turns_df | None, n_invalid) — ``conflicting_turns``
    as the local relation the anti-joins consume."""
    turns = conflicting_turns(records, max_conflict_turns)
    return invalid_relation(spark, turns), len(turns)


def drop_conflicted(parsed: DataFrame, invalid_turns: DataFrame | None) -> DataFrame:
    """Anti-join the (tiny, broadcast) invalid-turn set out of the parsed
    stream — the distributed analogue of the rolled-back transactions."""
    if invalid_turns is None:
        return parsed
    return parsed.join(
        F.broadcast(invalid_turns), ["conv_id", "turn_idx"], "left_anti"
    )
