"""F3/F4: native validation predicates (SURVEY §2.2).

Two of the reference's admission checks re-expressed as Catalyst column
predicates, so they take part in predicate pushdown and whole-stage
codegen. The pipeline does not call them: all of F1-F6 run fused in
the parse kernel's short-circuit path (operators/records.py), in one
scan. These operators back the queries() entries that check each
predicate in isolation against its oracle (f3, f4).

Reference: 10 MB cap handlers/handler_common.go:28-31 (F3), empty body
:37-41 (F4).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def non_empty_text(col: str = "text") -> Column:
    """F4: reject empty/whitespace bodies (400)."""
    return F.col(col).isNotNull() & (F.trim(F.col(col)) != "")


def within_size_limit(max_bytes: int, col: str = "text") -> Column:
    """F3: DoS guard, byte length (octet_length ≙ MaxBytesReader cap)."""
    return F.octet_length(F.col(col)) <= F.lit(max_bytes)
