"""S1/S4/S5/S6: transcript source + sink-catalog plumbing (SURVEY §2.1).

The reference's source is an HTTP listener (main.go:96-121); the graft's
source is the transcripts table. Batch reads come through here so schema
enforcement, column pruning, and (when a catalog is configured) Iceberg
resolution live in one place. Structured Streaming reads live in
streaming/stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# BASELINE.json input_hint — authoritative input shape.
TRANSCRIPT_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("role", StringType(), True),
    StructField("text", StringType(), True),
    StructField("tool", StringType(), True),
    StructField("ts", TimestampType(), True),
])

_COLS = [f.name for f in TRANSCRIPT_SCHEMA.fields]


def read_transcripts(spark: SparkSession, source: str) -> DataFrame:
    """Read the transcripts table from a parquet path or a catalog table
    name (Iceberg when the runtime catalog supports it — S5's
    WAL/snapshot isolation comes free there; plain parquet is the
    sandbox fallback). Selects exactly the contract columns so column
    pruning reaches the scan."""
    if "/" in source or source.endswith(".parquet"):
        df = spark.read.parquet(source)
    else:
        df = spark.read.table(source)
    missing = [c for c in _COLS if c not in df.columns]
    if missing:
        raise ValueError(f"transcripts source missing columns: {missing}")
    return df.select(
        F.col("conv_id").cast("string"),
        F.col("turn_idx").cast("int"),
        F.col("role").cast("string"),
        F.col("text").cast("string"),
        F.col("tool").cast("string"),
        F.col("ts").cast("timestamp"),
    )


def health_check(spark: SparkSession) -> bool:
    """S6: the GET /health probe analogue (main.go:124-137) — a trivial
    ``SELECT 1`` job proving the session schedules work. It reads no
    source: reachability of the transcripts table is not checked."""
    return spark.sql("SELECT 1 AS ok").collect()[0].ok == 1
