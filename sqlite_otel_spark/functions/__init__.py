from sqlite_otel_spark.functions.canonical_json import canonical_dumps, go_loads
from sqlite_otel_spark.functions.parse import parse_turn, RECORDS_SCHEMA

__all__ = ["canonical_dumps", "go_loads", "parse_turn", "RECORDS_SCHEMA"]
