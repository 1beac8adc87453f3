"""Missing-value strategies: LOCF, backfill, fills (SURVEY.md W10, P1, P7).

The reference encodes missing observations as NaN (unvoiced F0,
`audio_feature_extraction_toolkit/core/feature_extractor.py:97-107`) and either
drops them or zero-fills (`04_feature_extraction_experiment/
feature_extraction.py:125,237` np.nan_to_num). In the engine, missing = SQL
NULL; the required point-in-time strategy is last-observation-carried-forward,
which is leakage-free by construction (only reads rows ≤ t).

All pure Window expressions — `last(..., true)` over the history frame
compiles to a single Window node, no Python. Like ``operators.windows``,
every helper renders Spark SQL text for one ``F.expr`` / ``selectExpr``.
"""

from __future__ import annotations

from audio_feature_extraction_spark.operators.windows import (
    FUTURE,
    HISTORY,
    EntityWindow,
    dbl,
)


def _or_default(filled: str, default: float | None) -> str:
    return filled if default is None else f"coalesce({filled}, {dbl(default)})"


def locf(col: str, w: EntityWindow, default: float | None = 0.0) -> str:
    """Last-observation-carried-forward; leading NULLs → ``default``
    (None keeps them NULL)."""
    return _or_default(f"last({col}, true) {w.over(HISTORY)}", default)


def backfill(col: str, w: EntityWindow, default: float | None = None) -> str:
    """Next-observation-carried-backward. NOT leakage-free (reads future rows);
    excluded from point-in-time feature vectors, provided for offline repair."""
    return _or_default(f"first({col}, true) {w.over(FUTURE)}", default)


def locf_then_backfill(col: str, w: EntityWindow) -> str:
    """pandas ffill().bfill() analog for offline gold tables."""
    return f"coalesce({locf(col, w, default=None)}, {backfill(col, w, default=None)})"


def clip(col: str, lo: float, hi: float) -> str:
    """np.clip analog (`04_…/feature_extraction.py:125-139`). NaN stays NaN
    as in numpy — Spark sorts NaN above every double, so a bare
    least(greatest(...)) would silently pin NaN to the hi bound."""
    return (
        f"CASE WHEN isnan(CAST({col} AS DOUBLE)) THEN {col} "
        f"ELSE least(greatest({col}, {dbl(lo)}), {dbl(hi)}) END"
    )
