import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sqlite_otel_spark.session import get_spark

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)
ARROW_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def transcripts_df(spark, rows):
    return spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)


def write_part(table, path: str, i: int) -> None:
    """Write stream input file ``i`` with a modification time strictly
    after file i-1's: the file source orders a backlog by mtime, and
    files written back to back can share one."""
    pq.write_table(table, path)
    os.utime(path, (1_600_000_000 + i, 1_600_000_000 + i))
