"""Windowed per-entity sequence features (SURVEY.md §2.5, W1-W12).

Every helper renders Spark SQL text; the caller hands the finished
expression to the JVM in ONE ``F.expr`` / ``selectExpr`` call. Each wrapped
``pyspark.sql.functions`` call costs about a dozen Py4J round trips (the
call itself plus PySpark 4's call-site capture), so a Column tree of a
width-9 delta is hundreds of round trips where its text is one parse. Text
also composes: ``plans.pipeline`` puts every feature of one data-dependency
layer into one projection, which Catalyst plans as one Window node.

Column arguments are SQL expressions, a bare column name included. Double
constants are rendered with a ``D`` suffix (:func:`dbl`): bare ``0.0``
parses as DECIMAL, which would change the result type and the plan.

Windows are :class:`EntityWindow` values built by :func:`entity_window`, so
the partitioning contract is explicit at every call site: features are
computed per entity (``PARTITION BY keys``) in event-time order (``ORDER BY
ts, tiebreak``). The window renders its own ``OVER (...)`` clause.

Scale note: window exec sorts within partitions after hashing on the entity
key; the only shuffle is the one hash exchange on the keys, reused by every
window expression sharing the spec (Catalyst collapses them into one Window
physical node per projection).

Reference parity notes are cited per function (file:line under /root/reference).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HISTORY = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
FUTURE = "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
FULL = "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"


def trailing(n: int) -> str:
    """The frame of the trailing ``n`` rows, the current one included."""
    start = f"{n - 1} PRECEDING" if n > 1 else "CURRENT ROW"
    return f"ROWS BETWEEN {start} AND CURRENT ROW"


def dbl(x: float) -> str:
    """A DOUBLE literal (``repr`` round-trips the exact value)."""
    return f"{float(x)!r}D"


@dataclass(frozen=True)
class EntityWindow:
    """``PARTITION BY keys ORDER BY order``; ``order`` items are SQL sort
    items (``"ts"``, ``"__is_ref DESC"``). Either part may be empty."""

    keys: tuple[str, ...]
    order: tuple[str, ...]

    def over(self, frame: str = "") -> str:
        parts = []
        if self.keys:
            parts.append("PARTITION BY " + ", ".join(self.keys))
        if self.order:
            parts.append("ORDER BY " + ", ".join(self.order))
        if frame:
            parts.append(frame)
        return f"OVER ({' '.join(parts)})"


def entity_window(keys: list[str], order: list[str] | None = None) -> EntityWindow:
    return EntityWindow(tuple(keys), tuple(order or ()))


# ---------------------------------------------------------------- W3: lag/lead


def delta1(col: str, w: EntityWindow, fill: float = 0.0) -> str:
    """First difference, np.diff analog (04_…/feature_extractor.py:293)."""
    return f"coalesce({col} - lag({col}, 1) {w.over()}, {dbl(fill)})"


def lead_delta(col: str, w: EntityWindow, fill: float = 0.0) -> str:
    return f"coalesce(lead({col}, 1) {w.over()} - {col}, {dbl(fill)})"


# ------------------------------------------------- W2: width-9 regression delta


def _edge_lag(col: str, i: int, w: EntityWindow) -> str:
    """x[t-i] with start-of-sequence edge replication (librosa pad analog).

    REQUIRES a NULL-free column: lag() returns NULL both past the partition
    edge AND for a genuine interior NULL, so an un-filled NULL at row t-i
    would be silently replaced with the partition's FIRST value. Callers
    must LOCF/interpolate first (the flagship pipeline does) — that is also
    exactly what the reference does before computing deltas (NaN-free
    frames after unvoiced-F0 interpolation)."""
    if i == 0:
        return col
    return f"coalesce(lag({col}, {i}) {w.over()}, first({col}) {w.over(FULL)})"


def _edge_lead(col: str, i: int, w: EntityWindow) -> str:
    if i == 0:
        return col
    return f"coalesce(lead({col}, {i}) {w.over()}, last({col}) {w.over(FULL)})"


def _weighted_sum(terms: list[tuple[float, str]]) -> str:
    """``0.0 + c0 * (t0) + c1 * (t1) + ...``, left-associated."""
    return "0.0D" + "".join(f" + {dbl(c)} * ({t})" for c, t in terms)


def delta_trailing(col: str, w: EntityWindow, half: int = 4) -> str:
    """Causal width-(2*half+1) regression delta — the librosa delta
    (core/feature_extractor.py:137-138) evaluated at t-half so it reads only
    rows ≤ t (zero temporal leakage, per the north rule).

    D[t] = Σ_{m=1..half} m * (x[t-(half-m)] - x[t-(half+m)]) / (2·Σ m²)
    """
    denom = 2 * sum(m * m for m in range(1, half + 1))
    terms = [
        (m, f"{_edge_lag(col, half - m, w)} - {_edge_lag(col, half + m, w)}")
        for m in range(1, half + 1)
    ]
    return f"({_weighted_sum(terms)}) / {dbl(denom)}"


def delta2_trailing(
    df: DataFrame,
    col: str,
    keys: list[str],
    order: list[str],
    half: int = 4,
    out: str = "d2",
    keep_d1: str | None = None,
) -> DataFrame:
    """Δ² (delta-delta): :func:`delta_trailing` applied to its own output —
    the reference stacks Δ and Δ² onto every feature
    (04_feature_extraction_experiment/feature_extraction.py:208-211,
    core/feature_extractor.py:137-138). Two chained Window nodes over the SAME
    (keys, order) spec, so Catalyst plans ONE hash exchange + one sort reused
    by both passes; edge replication composes (the Δ² pad reads the
    edge-replicated Δ, exactly like librosa's repeated pad-and-convolve)."""
    w = entity_window(keys, order)
    d1 = keep_d1 or "__d1"
    df = df.withColumn(d1, F.expr(delta_trailing(col, w, half)))
    df = df.withColumn(out, F.expr(delta_trailing(d1, w, half)))
    return df if keep_d1 else df.drop(d1)


def delta_centered(col: str, w: EntityWindow, half: int = 4) -> str:
    """Exact centered librosa-style delta (non-causal; excluded from the
    leakage-gated flagship vector, provided for reference parity)."""
    denom = 2 * sum(m * m for m in range(1, half + 1))
    terms = [
        (m, f"{_edge_lead(col, m, w)} - {_edge_lag(col, m, w)}")
        for m in range(1, half + 1)
    ]
    return f"({_weighted_sum(terms)}) / {dbl(denom)}"


# --------------------------------------------------------- W4-W6: rolling stats


def rolling_mean(col: str, w: EntityWindow, n: int) -> str:
    return f"avg({col}) {w.over(trailing(n))}"


def rolling_std_pop(col: str, w: EntityWindow, n: int) -> str:
    """Population std over trailing n rows; single-row windows → 0.0
    (local-stability analog, 04_…/feature_extractor.py:450-452)."""
    return f"coalesce(stddev_pop({col}) {w.over(trailing(n))}, 0.0D)"


def rolling_min(col: str, w: EntityWindow, n: int) -> str:
    return f"min({col}) {w.over(trailing(n))}"


def rolling_max(col: str, w: EntityWindow, n: int) -> str:
    return f"max({col}) {w.over(trailing(n))}"


def rolling_median(col: str, w: EntityWindow, n: int) -> str:
    """medfilt analog (04_…/feature_extractor.py:264,286) — trailing form.

    Spark disallows median()/percentile() over a bounded frame, so this is the
    classic frame-compatible form: collect the (≤n) frame values, sort, pick
    the middle (averaging the two middles for even counts). n is a small
    constant (kernel 3/5 in the reference) so the per-row array is tiny."""
    vals = f"array_sort(collect_list({col}) {w.over(trailing(n))})"
    cnt = f"size({vals})"
    # an all-NULL frame collects an EMPTY array: cnt=0 makes the lo index 0,
    # which even try_element_at rejects (INVALID_INDEX_OF_ZERO) — guard the
    # whole expression so the empty frame yields a NULL median
    lo = f"try_element_at({vals}, CAST(({cnt} + 1) / 2 AS INT))"
    hi = f"try_element_at({vals}, CAST({cnt} / 2 + 1 AS INT))"
    return f"CASE WHEN {cnt} > 0 THEN ({lo} + {hi}) / 2.0D END"


# ---------------------------------------------- W5/W7: fixed-coefficient smooth


def savgol_coeffs(window: int = 11, polyorder: int = 3) -> list[float]:
    """Savitzky-Golay smoothing coefficients via LS polynomial fit
    (04_…/feature_extractor.py:290,430). Pure numpy at plan-build time."""
    import numpy as np

    assert window % 2 == 1, f"window must be odd, got {window}"
    half = window // 2
    x = np.arange(-half, half + 1, dtype=np.float64)
    a = np.vander(x, polyorder + 1, increasing=True)
    # projection row for the smoothed value at the window center
    coeffs = np.linalg.pinv(a)[0]
    return [float(c) for c in coeffs]


def gaussian_coeffs(window: int = 9, sigma: float = 2.0) -> list[float]:
    """Normalized gaussian smoothing kernel (dtw_alignment.py:413-441;
    gaussian_filter1d import :24). Pure numpy at plan-build time."""
    import numpy as np

    assert window % 2 == 1, f"window must be odd, got {window}"
    half = window // 2
    x = np.arange(-half, half + 1, dtype=np.float64)
    k = np.exp(-0.5 * (x / sigma) ** 2)
    k /= k.sum()
    return [float(c) for c in k]


def weighted_window(col: str, w: EntityWindow, weights: list[float]) -> str:
    """Trailing fixed-weight dot product (delayed-center convolution) with
    edge replication — the causal form of SG / gaussian smoothing
    (dtw_alignment.py:413-441). weights[i] multiplies x[t-(len-1)+i]."""
    n = len(weights)
    return _weighted_sum(
        [(c, _edge_lag(col, n - 1 - i, w)) for i, c in enumerate(weights)]
    )


# ------------------------------------------------------ W8-W9: cumulative ops


def running_sum(col: str, w: EntityWindow) -> str:
    """np.cumsum analog (dtw_alignment.py:151,486-487)."""
    return f"sum({col}) {w.over(HISTORY)}"


def running_max(col: str, w: EntityWindow) -> str:
    """np.maximum.accumulate analog — monotonic repair (dtw_alignment.py:1087)."""
    return f"max({col}) {w.over(HISTORY)}"


# ------------------------------------------------------------- misc kernels


def preemphasis(col: str, w: EntityWindow, alpha: float = 0.97) -> str:
    """y[t] - α·y[t-1] (core/feature_extractor.py:69); first row passes through."""
    return f"{col} - {dbl(alpha)} * coalesce(lag({col}, 1) {w.over()}, 0.0D)"


def sign_change_rate(col: str, w: EntityWindow, n: int) -> str:
    """Zero-crossing-rate analog over trailing n rows
    (core/feature_extractor.py:164-168)."""
    flip = f"CAST(signum({col}) * signum(lag({col}, 1) {w.over()}) < 0 AS DOUBLE)"
    return f"avg(coalesce({flip}, 0.0D)) {w.over(trailing(n))}"


def trim_to_active(
    df: DataFrame,
    keys: list[str],
    ts: str,
    active: str,
) -> DataFrame:
    """Silence-trim analog (P3, `core/feature_extractor.py:72`,
    `04_…/feature_extractor.py:261`): per entity, drop leading/trailing rows
    outside the first..last row where the SQL predicate ``active`` holds
    (interior inactive rows are kept, exactly like librosa.effects.trim
    keeps interior silence).

    One unordered full-frame window per key — no sort needed, the min/max of
    the active timestamps is frame-order independent."""
    from audio_feature_extraction_spark.operators.timeutil import ts_micros

    over = entity_window(keys).over(FULL)
    us = ts_micros(ts)
    return df.withColumn(
        "__lo", F.expr(f"min(CASE WHEN {active} THEN {us} END) {over}")
    ).withColumn(
        "__hi", F.expr(f"max(CASE WHEN {active} THEN {us} END) {over}")
    ).where(
        f"__lo IS NOT NULL AND ({us} >= __lo AND {us} <= __hi)"
    ).drop("__lo", "__hi")


def top1_per_group(df: DataFrame, keys: list[str], order: list[str]) -> DataFrame:
    """argmax/argmin per group via row_number (W11/O3, dtw_alignment.py:247,1048).
    ``order`` holds SQL sort items and must contain a deterministic
    tiebreaker."""
    rn = f"row_number() {entity_window(keys, order).over()}"
    return df.withColumn("__rn", F.expr(rn)).where("__rn = 1").drop("__rn")
