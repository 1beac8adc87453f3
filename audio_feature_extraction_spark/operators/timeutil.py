"""Event-time arithmetic helpers.

Parquet timestamps arrive as TIMESTAMP or TIMESTAMP_NTZ depending on the
session's ``spark.sql.parquet.inferTimestampNTZ.enabled``; ``unix_micros``
only accepts TIMESTAMP. All engine event-time math goes through
:func:`ts_micros` so either type works: NTZ is cast to TIMESTAMP first
(session-tz reinterpretation — harmless for the *differences* the engine
computes, which is all it ever does with these values).

:func:`ts_micros` renders Spark SQL text, like the window helpers in
``operators.windows``: callers splice it into a larger expression and reach
the JVM once, through ``F.expr`` or ``selectExpr``.
"""

from __future__ import annotations


def ts_micros(col: str) -> str:
    """Epoch microseconds of ``col`` (a column name or SQL expression)."""
    return f"unix_micros(CAST({col} AS TIMESTAMP))"


def tol_us(tolerance_sec: float | None) -> int | None:
    """Seconds → exact int64 microseconds for tolerance comparisons (one
    definition of the rounding rule, shared by every as-of strategy)."""
    if tolerance_sec is None:
        return None
    return int(round(tolerance_sec * 1_000_000))
