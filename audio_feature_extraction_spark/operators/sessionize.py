"""Gap-based sessionization (SURVEY.md §2.9) — the VAD segment-merge analog.

Reference semantics (`04_feature_extraction_experiment/process_audio.py:118-131`):
consecutive speech segments are merged while the gap ≤ min_silence_duration,
*then* sessions shorter than min_speech_duration are dropped — merge first,
filter second; order matters and is preserved here.

Batch implementation is the classic three-step window plan (one shuffle on the
entity key, both windows share it):
  1. gap[t]   = ts[t] - lag(ts)[t]
  2. new[t]   = gap > threshold
  3. session  = running_sum(new)    -- cumulative count of session breaks

The steps render Spark SQL text (see ``operators.windows``):
:func:`session_break` is steps 1-2, :func:`session_number` step 3.
``plans.pipeline`` puts them in two consecutive feature projections, so
each shares a Window node with the other features of its layer.

Streaming variant: ``streaming.sessions`` uses ``session_window`` directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators.timeutil import ts_micros
from audio_feature_extraction_spark.operators.windows import (
    HISTORY,
    EntityWindow,
    entity_window,
)


def session_break(w: EntityWindow, ts: str, gap_sec: float) -> str:
    """1 where the event-time gap to the previous row exceeds ``gap_sec``
    (exact int64 µs), else 0 — the first row of an entity is 0."""
    us = ts_micros(ts)
    gap_us = int(round(gap_sec * 1_000_000))
    return f"CASE WHEN {us} - lag({us}, 1) {w.over()} > {gap_us} THEN 1 ELSE 0 END"


def session_number(brk: str, w: EntityWindow) -> str:
    """Running count of session breaks: the 0-based per-entity session id."""
    return f"CAST(sum({brk}) {w.over(HISTORY)} AS BIGINT)"


def with_session_id(
    df: DataFrame,
    keys: list[str],
    ts: str = "ts",
    order: list[str] | None = None,
    gap_sec: float = 30.0,
    out: str = "session_id",
) -> DataFrame:
    """Add a 0-based per-entity session id column."""
    w = entity_window(keys, order or [ts])
    return df.withColumn(out, F.expr(session_number(session_break(w, ts, gap_sec), w)))


def session_bounds(
    df_with_sid: DataFrame,
    keys: list[str],
    ts: str = "ts",
    sid: str = "session_id",
    min_duration_sec: float | None = None,
    min_rows: int | None = None,
) -> DataFrame:
    """Collapse rows → one row per session with bounds and counts, then apply
    the reference's merge-then-filter short-session drop."""
    agg = df_with_sid.groupBy(*keys, sid).agg(
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    dur = f"CAST({ts_micros('session_end')} - {ts_micros('session_start')} AS DOUBLE)"
    agg = agg.withColumn("duration_sec", F.expr(f"{dur} / 1000000.0D"))
    if min_duration_sec is not None:
        agg = agg.where(F.col("duration_sec") >= F.lit(float(min_duration_sec)))
    if min_rows is not None:
        agg = agg.where(F.col("n_rows") >= F.lit(int(min_rows)))
    return agg


def with_capped_session_id(
    df: DataFrame,
    keys: list[str],
    ts: str = "ts",
    order: list[str] | None = None,
    gap_sec: float = 30.0,
    max_duration_sec: float = 3600.0,
    out: str = "session_id",
    sub_out: str = "sub_session",
) -> DataFrame:
    """Gap sessionization with a maximum session duration: gap-sessions
    longer than ``max_duration_sec`` are split into fixed-width sub-sessions
    anchored at the session's first event.

    Semantics: ``sub = floor((ts − session_start) / cap)`` — fixed panes from
    the anchor, NOT iterative re-anchoring at each split row (that form is a
    sequential recurrence with no bounded-window expression; panes are the
    standard engine semantics — Spark's own ``session_window`` has no cap at
    all). All arithmetic is exact int64 µs.

    One shuffle: the gap window, the session-start window, and the pane
    derivation all share the hash(keys) partitioning."""
    order = order or [ts]
    base = with_session_id(
        df, keys, ts=ts, order=order, gap_sec=gap_sec, out="__gap_sid"
    )
    start_us = f"min({ts_micros(ts)}) {entity_window([*keys, '__gap_sid']).over()}"
    cap_us = int(round(max_duration_sec * 1_000_000))
    # exact pane index: strip the remainder FIRST so the division is an
    # exact-multiple / divisor (IEEE-exact) — floor(float_div) can misbucket
    # a row sitting exactly on a pane boundary
    diff = f"({ts_micros(ts)} - {start_us})"
    sub = F.expr(f"CAST(({diff} - pmod({diff}, {cap_us})) / {cap_us} AS BIGINT)")
    return (
        base.withColumn(sub_out, sub)
        .withColumn(out, F.col("__gap_sid"))
        .drop("__gap_sid")
    )
