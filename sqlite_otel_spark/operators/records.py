"""P1 (physical form): transcripts -> flat union-record stream.

One Arrow-vectorized ``mapInArrow`` pass applies the reference's whole
per-request write path (validate F1-F6 -> decode P1 -> flatten P2-P4 ->
project P5-P7 -> per-turn tx rollback, handlers/handler_common.go:15-45 +
database/*.go) and emits ONE ROW PER RECORD with a ``rec_kind``
discriminator instead of one nested struct per turn.

Why this shape (scale rationale, measured at 200k-1M turns / local[32]):

 - all output columns are scalars -> the Arrow->JVM row conversion is
   vectorizable, ~6x cheaper than ArrayType(StructType) columns;
 - downstream sinks select ``rec_kind == X`` + their own columns, so
   the in-memory columnar cache prunes to exactly the bytes each sink
   needs instead of re-deserializing a fat blob 7x.

Why ``mapInArrow`` rather than ``mapInPandas`` (measured ~25-30% of the
stage wall): the kernel is a per-turn Python loop either way, but
pandas adds a round trip on both edges — input Arrow -> object-dtype
Series -> tolist(), output lists -> object Series -> DataFrame ->
Arrow. Building ``pyarrow.RecordBatch`` columns straight from the
Python lists skips all four conversions, and null handling becomes
native (a null ts stays None instead of poisoning an int64 column into
float64+NaN).

Emission is columnar per kind: each input batch accumulates per-kind
column lists and yields one RecordBatch per kind, so a record touches
only its own columns (a span fills 24, not 43) and absent columns
materialize as O(1) ``pa.nulls``. Long columns never pass through
float64 (NaN coercion would silently round int64 nanosecond timestamps
beyond 2^53 — SURVEY §2.3 P8 stores raw int64 nanos).

The per-turn semantics live in ``functions.parse`` (pure, unit-
testable); this module only owns the Spark plumbing.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame

from sqlite_otel_spark.functions.parse import (
    KIND_FIELDS,
    RECORDS_SCHEMA,
    new_accumulator,
    parse_turn_into,
)

_INPUT_COLS = ("conv_id", "turn_idx", "role", "tool", "ts_us", "text", "nb")
_LINEAGE = ["conv_id", "turn_idx", "role", "tool", "ts_us"]

# Spark SQL type -> arrow type for the record stream (all scalars).
_PA_BY_SPARK = {
    "string": pa.string(),
    "int": pa.int32(),
    "bigint": pa.int64(),
    "double": pa.float64(),
}


def _pa_schema(extra_n_bytes: bool) -> pa.Schema:
    fields = [
        pa.field(f.name, _PA_BY_SPARK[f.dataType.simpleString()])
        for f in RECORDS_SCHEMA.fields
    ]
    if extra_n_bytes:
        fields.append(pa.field("n_bytes", pa.int64()))
    return pa.schema(fields)


def _batch(kind: str, n: int, cols: dict, schema: pa.Schema) -> pa.RecordBatch:
    """Assemble a full-width RecordBatch for one kind; ``cols`` values
    are either ready ``pa.Array``s (zero-copy lineage passthrough /
    C-side takes) or Python lists; columns the kind doesn't produce are
    null-filled (O(1) null bitmaps, no per-row Python)."""
    arrays = []
    for f in schema:
        v = cols.get(f.name)
        if f.name == "rec_kind":
            arrays.append(pa.array([kind] * n, type=f.type))
        elif v is None:
            arrays.append(pa.nulls(n, type=f.type))
        elif isinstance(v, pa.Array):
            arrays.append(v if v.type == f.type else v.cast(f.type))
        else:
            arrays.append(pa.array(v, type=f.type))
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def make_kernel(out_schema: pa.Schema, max_text_bytes: int,
                emit_text: bool):
    """Build the ``mapInArrow`` kernel (batches -> RecordBatches). A
    module-level factory so the kernel runs without Spark as well:
    perfbench's ``kernel_turns_per_s`` (and scripts/profile_parse.py on
    top of it) times this exact hot loop over Arrow batches.

    Lineage columns (conv_id/turn_idx/role/tool/ts_us) never pass
    through Python (round 5, profiler-driven): turn rows are 1:1 with
    input rows, so their lineage AND text/nb columns are the input
    arrays themselves (zero copy); record rows carry one input-row
    INDEX each and their lineage comes from one C-side ``take`` per
    column. Round 6: extractors append per-record TUPLES straight into
    batch-level accumulators (parse_turn_into) and the per-kind columns
    are one C-speed ``zip(*rows)`` transpose — no per-turn dicts, no
    per-field Python append loop."""

    def gen(batches):
        import pyarrow.compute as pc

        for rb in batches:
            names = rb.schema.names
            col = {c: rb.column(names.index(c)) for c in _INPUT_COLS}
            texts = col["text"].to_pylist()
            nbs = col["nb"].to_pylist()
            sig: list = []
            err: list = []
            sig_append, err_append = sig.append, err.append
            acc = new_accumulator()
            # batch-level touch dedup for log/metric turns (see
            # parse_turn_into docstring: sinks are invariant, the
            # stream sheds ~25% of its rows)
            seen = (set(), set())
            for i, (text, nb) in enumerate(zip(texts, nbs)):
                s, e = parse_turn_into(text, max_text_bytes, nb, i, acc,
                                       seen)
                sig_append(s)
                err_append(e)
            turn_cols = {
                **{c: col[c] for c in _LINEAGE},
                "signal_type": sig,
                "error": err,
            }
            if emit_text:
                turn_cols["text"] = col["text"]
            else:
                turn_cols["n_bytes"] = col["nb"]
            yield _batch("turn", rb.num_rows, turn_cols, out_schema)
            for kind, fields in KIND_FIELDS.items():
                rows, ix = acc[kind]
                if not rows:
                    continue
                ixa = pa.array(ix, type=pa.int64())
                cols = {c: pc.take(col[c], ixa) for c in _LINEAGE}
                cols.update(zip(fields, zip(*rows)))
                yield _batch(kind, len(rows), cols, out_schema)

    return gen


def to_records(df: DataFrame, max_text_bytes: int = 10 * 1024 * 1024,
               emit_text: bool = True) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) -> records
    DataFrame in RECORDS_SCHEMA. Narrow (no shuffle): each input split
    parses independently, exactly like the reference's
    goroutine-per-request independence (main.go:154-160).

    ``emit_text=False`` drops the raw text after parsing (the reference
    never persists request bodies); the ``text`` column is then null and
    n_bytes is computed in Python before the drop."""

    out_schema = _pa_schema(extra_n_bytes=not emit_text)
    gen = make_kernel(out_schema, max_text_bytes, emit_text)

    from pyspark.sql import functions as F

    src = df.select(
        "conv_id", "turn_idx", "role", "tool",
        # cast tolerates TIMESTAMP_NTZ parquet inputs (session tz is UTC,
        # so the wall-clock value is unchanged)
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"), "text",
        # JVM-side prefilter input: exact UTF-8 byte length so the
        # Python kernel's 10 MB size guard never encodes the text
        # (round-3; the whitespace-exact empty/'{' checks stay in
        # Python — Spark's trim strips a different whitespace set).
        F.octet_length("text").alias("nb"),
    )
    schema = RECORDS_SCHEMA
    if not emit_text:
        from pyspark.sql.types import LongType, StructField, StructType
        schema = StructType(schema.fields + [StructField("n_bytes", LongType(), True)])
    out = src.mapInArrow(gen, schema)
    # JVM-side restoration/derivation (cheap codegen projections, kept out
    # of the Python hot loop): ts from microseconds, n_bytes from text.
    out = out.withColumn("ts", F.timestamp_micros("ts_us")).drop("ts_us")
    if emit_text:
        out = out.withColumn(
            "n_bytes",
            F.when(F.col("rec_kind") == "turn", F.octet_length("text")),
        )
    return out
