"""Point-in-time / as-of join — the engine centerpiece (SURVEY.md J4/J5).

Semantics: for each left row, match the latest right row with the same equi
keys and ``right.ts <= left.ts`` (direction="backward"; "forward" is the
mirror), optionally within ``tolerance_sec``. This replaces the reference's
DTW frame alignment (`05_dtw_alignment_experiment/dtw_alignment.py:789-1090`)
with an O(n+m) sorted merge; the DTW band constraint survives as the tolerance
(max_time_difference analog, `dtw_alignment.py:44`). Zero temporal leakage by
construction: a backward match never reads right rows with ts > left.ts.

Three physical strategies, same semantics (equivalence is tested):

``window``      (default) union both sides with a marker, one hash exchange on
                the keys, then ``last(value, ignorenulls=True)`` over the
                history frame ordered by (ts, marker). 100% JVM window exec —
                no Python, no join explosion, AQE-coalesced. Right-side rows
                sort *before* left rows at equal ts, so backward matches are
                inclusive (ties match).

``salted``      same plan, but the window partition key is extended with a
                salt: left rows get pmod(xxhash64(salt_on), S); right rows are
                replicated to all S salts. Use when the equi key is coarse and
                skewed (one hot ``source``) — a single window partition would
                otherwise serialize the hot key on one task.

``range_merge`` the north rule's explicit shape: union → repartitionByRange on
                the keys → sortWithinPartitions(keys, ts, marker) →
                mapInPandas doing a *vectorized* grouped LOCF scan per
                partition (pandas groupby().ffill(), no per-row Python).
                Range partitioning balances partitions by sampled row counts,
                which also absorbs key skew without salting.

``broadcast``   for a SMALL right side (a reference dimension): collapse the
                right side to one sorted struct-array per key, broadcast it,
                and match per left row with array `filter` + `element_at` —
                the fat left side is never shuffled at all. The right side
                must fit in a broadcast (same contract as any dim broadcast).

Right side must be unique per (keys, ts): use :func:`dedupe_right` first if
needed (the reference pre-dedupes teacher frames the same way).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from audio_feature_extraction_spark.operators.timeutil import tol_us, ts_micros
from audio_feature_extraction_spark.operators.windows import HISTORY, entity_window

_MARK = "__is_ref"
_TS = "__asof_ts"
_SALT = "__salt"


def dedupe_right(right: DataFrame, on: list[str], ts: str) -> DataFrame:
    """Keep one row per (keys, ts) deterministically (max over payload cols)."""
    payload = [c for c in right.columns if c not in set(on) | {ts}]
    return right.groupBy(*on, ts).agg(*[F.max(c).alias(c) for c in payload])


def _q(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _null_of(df: DataFrame, c: str) -> str:
    return f"CAST(NULL AS {df.schema[c].dataType.simpleString()})"


def _union_frames(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
):
    lcols = left.columns
    l = left.selectExpr(
        *[_q(c) for c in lcols],
        f"{_q(left_ts)} AS {_TS}",
        f"0 AS {_MARK}",
        *[f"{_null_of(right, c)} AS {_q('__r_' + c)}" for c in right_payload],
        f"{_null_of(right, right_ts)} AS __r_ts",
    )
    # the key columns keep a `c AS c` self-alias: without it the union's plan
    # and every plan hash downstream of it would change
    r = right.selectExpr(
        *[
            f"{_q(c)} AS {_q(c)}" if c in on else f"{_null_of(left, c)} AS {_q(c)}"
            for c in lcols
        ],
        f"{_q(right_ts)} AS {_TS}",
        f"1 AS {_MARK}",
        *[f"{_q(c)} AS {_q('__r_' + c)}" for c in right_payload],
        f"{_q(right_ts)} AS __r_ts",
    )
    return l.unionByName(r)


def _finish(matched: DataFrame, left_cols, left_ts, right_payload, tolerance_sec, direction):
    # a NULL left-ts row has no position in time and never matches (pandas
    # merge_asof parity; also the broadcast strategies' behavior). Without
    # this, the forward window's desc sort (NULLS LAST) exposes EVERY right
    # row to a NULL-ts left row.
    ok = f"__m___r_ts IS NOT NULL AND {_TS} IS NOT NULL"
    if tolerance_sec is not None:
        # exact int64 microsecond arithmetic — no double-rounding at the
        # tolerance boundary
        if direction == "backward":
            lag = f"{ts_micros(_TS)} - {ts_micros('__m___r_ts')}"
        else:
            lag = f"{ts_micros('__m___r_ts')} - {ts_micros(_TS)}"
        ok = f"({ok}) AND {lag} <= {tol_us(tolerance_sec)}"
    return matched.where(f"{_MARK} = 0").selectExpr(
        *[_q(c) for c in left_cols],
        f"CASE WHEN {ok} THEN __m___r_ts ELSE NULL END AS matched_ts",
        *[
            f"CASE WHEN {ok} THEN {_q('__m___r_' + c)} ELSE NULL END AS {_q(c)}"
            for c in right_payload
        ],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str | None = None,
    tolerance_sec: float | None = None,
    direction: str = "backward",
    strategy: str = "window",
    salt_buckets: int = 8,
    salt_on: list[str] | None = None,
    num_partitions: int | None = None,
    cluster_on: list[str] | None = None,
) -> DataFrame:
    """As-of join; returns all left columns + ``matched_ts`` + right payload
    columns (NULL when no match within tolerance — the left-outer /
    missing-partner case, `dtw_alignment.py:1443-1472`).

    ``cluster_on``: optional strict subset/prefix of ``on`` to hash-partition
    the union by (strategy="window" only). Hash partitioning on a subset of
    the window keys still satisfies the window's ClusteredDistribution, so
    Spark plans sort-only (no extra exchange) — AND every downstream window
    keyed by that subset (e.g. per-doc_id feature windows) reuses the same
    partitioning with zero further shuffles. This is how the flagship
    pipeline runs end-to-end on ONE exchange of the fat token rows.

    ``direction="nearest"`` (pandas ``merge_asof`` parity; window/salted
    strategies): the closer of the backward and forward candidates wins,
    exact-tie broken toward backward; ``tolerance_sec`` filters each
    candidate BEFORE the choice (so a NEARER but out-of-tolerance backward
    row loses to a farther in-tolerance forward row, matching pandas; the
    converse case is vacuous — a forward row nearer than an in-tolerance
    backward row is itself in tolerance). Plan shape:
    both directions ride the SAME hash partitioning — one exchange, two
    in-partition sorts.
    """
    assert direction in ("backward", "forward", "nearest")
    if direction == "nearest":
        assert strategy in ("window", "salted"), (
            "nearest is implemented for the window/salted strategies"
        )
    right_ts = right_ts or left_ts
    right_payload = [c for c in right.columns if c not in set(on) | {right_ts}]

    if strategy == "broadcast":
        return _broadcast_asof(
            left, right, on, left_ts, right_ts, right_payload, tolerance_sec, direction
        )
    if strategy == "broadcast_arrow":
        return _broadcast_arrow_asof(
            left, right, on, left_ts, right_ts, right_payload, tolerance_sec, direction
        )

    u = _union_frames(left, right, on, left_ts, right_ts, right_payload)

    if strategy == "range_merge":
        return _range_merge(
            u, on, left.columns, left_ts, right_payload, tolerance_sec, direction, num_partitions
        )

    part_keys = list(on)
    if strategy == "salted":
        salt_on = salt_on or [left_ts]
        salt = f"CAST(pmod(xxhash64({', '.join(map(_q, salt_on))}), {salt_buckets}) AS INT)"
        # left rows pick one salt; right rows are replicated to every salt so
        # each salt cell sees the complete right side for its key
        l_salted = u.where(f"{_MARK} = 0").withColumn(_SALT, F.expr(salt))
        r_salted = u.where(f"{_MARK} = 1").withColumn(
            _SALT, F.expr(f"explode(sequence(0, {salt_buckets - 1}))")
        )
        u = l_salted.unionByName(r_salted)
        part_keys = part_keys + [_SALT]

    if cluster_on and strategy == "window":
        assert set(cluster_on) <= set(on), "cluster_on must be a subset of the equi keys"
        nparts = num_partitions or int(
            u.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        u = u.repartition(nparts, *cluster_on)

    keys = [_q(k) for k in part_keys]
    wb = entity_window(keys, [_TS, f"{_MARK} DESC"]).over(HISTORY)
    wf = entity_window(keys, [f"{_TS} DESC", f"{_MARK} DESC"]).over(HISTORY)
    # ONE last() over a struct that is non-NULL for every right row — NOT a
    # per-column last(payload, ignorenulls): that would skip a genuine right
    # row whose payload value is NULL and resurrect an older non-NULL value,
    # conflating "no partner row" with "partner row with NULL value"
    # (hypothesis-found: left ts=1 matching right (ts=1, v=NULL) must yield
    # NULL, not the v of (ts=0)).
    fields = ", ".join(
        ["__r_ts AS ts", *[f"{_q('__r_' + c)} AS {_q(c)}" for c in right_payload]]
    )
    m_struct = f"CASE WHEN {_MARK} = 1 THEN struct({fields}) END"
    if direction == "nearest":
        t_us = tol_us(tolerance_sec)
        matched = u.selectExpr(
            "*",
            f"last({m_struct}, true) {wb} AS __mb",
            f"last({m_struct}, true) {wf} AS __mf",
        )
        blag = f"{ts_micros(_TS)} - {ts_micros('__mb.ts')}"
        flag = f"{ts_micros('__mf.ts')} - {ts_micros(_TS)}"
        # NULL left-ts rows never match (see _finish)
        valid_b = f"{_TS} IS NOT NULL AND __mb.ts IS NOT NULL"
        valid_f = f"{_TS} IS NOT NULL AND __mf.ts IS NOT NULL"
        if t_us is not None:
            valid_b = f"({valid_b}) AND {blag} <= {t_us}"
            valid_f = f"({valid_f}) AND {flag} <= {t_us}"
        # the parentheses keep this AND tree left-deep: the parser balances
        # a chain of four or more ANDs, which would change the plan
        chosen = (
            f"(CASE WHEN ({valid_b}) AND (NOT ({valid_f}) OR {blag} <= {flag}) "
            f"THEN __mb WHEN {valid_f} THEN __mf END)"
        )
        return matched.where(f"{_MARK} = 0").selectExpr(
            *[_q(c) for c in left.columns],
            f"{chosen}.ts AS matched_ts",
            *[f"{chosen}.{_q(c)} AS {_q(c)}" for c in right_payload],
        )
    w = wb if direction == "backward" else wf
    matched = u.selectExpr("*", f"last({m_struct}, true) {w} AS __m").selectExpr(
        "*",
        *[f"__m.{_q(c)} AS {_q('__m___r_' + c)}" for c in right_payload],
        "__m.ts AS __m___r_ts",
    )
    return _finish(matched, left.columns, left_ts, right_payload, tolerance_sec, direction)


def _broadcast_asof(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    tolerance_sec: float | None,
    direction: str,
) -> DataFrame:
    """Small-right as-of: per-key time-sorted struct array, broadcast-joined,
    matched with array ``filter`` + ``element_at`` — 100% JVM expressions,
    zero shuffle/sort of the (fat) left side. The 100 TB shape for PIT
    lookups against a reference *dimension* (the teacher-recording analog is
    exactly that: few reference rows per key, `dtw_alignment.py:1377-1416`)."""
    # struct sorts lexicographically, ts first → array_sort = time order
    refs = right.groupBy(*on).agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col(right_ts).alias("ts"), *[F.col(c) for c in right_payload])
            )
        ).alias("__refs")
    )
    # null-safe equality (<=>) so NULL keys match the NULL-key reference
    # history — the window-family strategies group NULL keys together via
    # partitionBy, and the documented cross-strategy equivalence must hold
    refs = refs.select(
        *[F.col(k).alias(f"__k_{k}") for k in on], "__refs"
    )
    cond = None
    for k in on:
        c = F.col(k).eqNullSafe(F.col(f"__k_{k}"))
        cond = c if cond is None else cond & c
    j = left.join(F.broadcast(refs), cond, "left").drop(
        *[f"__k_{k}" for k in on]
    )

    lts = F.col(left_ts)
    # try_element_at: NULL on empty candidate array (a left row with no
    # in-tolerance partner) — element_at throws under ANSI mode (Spark 4
    # default), and NULL is exactly the intended missing-partner semantics.
    if direction == "backward":
        cand = F.filter("__refs", lambda r: r["ts"] <= lts)
        hit = F.try_element_at(cand, F.lit(-1))  # latest preceding
    else:
        cand = F.filter("__refs", lambda r: r["ts"] >= lts)
        hit = F.try_element_at(cand, F.lit(1))  # earliest following

    m_ts = hit["ts"]
    if tolerance_sec is not None:
        tol = F.lit(tol_us(tolerance_sec))
        l_us = F.expr(ts_micros(left_ts))
        # m_ts comes out of a Python-lambda filter, so it has no SQL text:
        # the ts_micros rule spelled as Column calls
        m_us = F.unix_micros(m_ts.cast("timestamp"))
        lag = l_us - m_us if direction == "backward" else m_us - l_us
        ok = m_ts.isNotNull() & (lag <= tol)
    else:
        ok = m_ts.isNotNull()

    return j.select(
        *left.columns,
        F.when(ok, m_ts).alias("matched_ts"),
        *[F.when(ok, hit[c]).alias(c) for c in right_payload],
    )


def _broadcast_arrow_asof(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    tolerance_sec: float | None,
    direction: str,
) -> DataFrame:
    """Arrow-kernel twin of the broadcast strategy: the (small, by contract)
    reference dimension is collected once, its per-key time-sorted arrays
    are broadcast, and each LEFT Arrow batch is matched with vectorized
    ``np.searchsorted`` — no shuffle or sort of the fat probe side, and no
    interpreted per-row array ``filter`` (higher-order expressions are
    CodegenFallback in Spark; this path is O(log n_ref) numpy per probe).

    Semantics identical to every other strategy: NULL keys match the
    NULL-key reference history, a partner row with NULL payload yields NULL
    (match by position, not by non-null value), tolerance is exact int64 µs.

    Crossover (measured, local[32]): with SMALL per-key histories the JVM
    expression broadcast wins (no Python round-trip — 0.85 s vs 1.35 s at
    100 k probes × ~5 refs/key); with LARGE histories the interpreted
    per-row array filter is O(n_ref) per probe and this path is 7× faster
    (2.8 s vs 19.7 s at 2 M probes × 1000 refs/key, also beating the
    shuffling window strategy's 3.2 s). Pick ``broadcast`` for thin
    dimensions, ``broadcast_arrow`` for deep ones.
    """
    import numpy as np

    def _norm_key(key) -> tuple:
        if not isinstance(key, tuple):
            key = (key,)
        return tuple(None if pd.isna(x) else x for x in key)

    # "small by contract" is enforced, not assumed: collecting a fat
    # reference side would OOM the driver silently at scale. ONE bounded
    # limit(cap+1) collect; fail fast naming the shuffle-based fallbacks.
    from .similarity import MAX_DRIVER_COLLECT_ROWS, collect_guarded

    rp = collect_guarded(
        right.select(*on, F.col(right_ts).alias("__rts"), *right_payload),
        "as-of reference (right)",
        "range_merge or window (shuffle-based as-of)",
        MAX_DRIVER_COLLECT_ROWS,
    )
    rp = rp[rp["__rts"].notna()].sort_values("__rts", kind="mergesort")
    groups: dict[tuple, tuple] = {}
    for key, g in rp.groupby(list(on), dropna=False, sort=False):
        groups[_norm_key(key)] = (
            g["__rts"].astype("datetime64[us]").astype("int64").to_numpy(),
            g["__rts"].astype("datetime64[us]").to_numpy(),
            {c: g[c].to_numpy() for c in right_payload},
        )
    b = left.sparkSession.sparkContext.broadcast(groups)
    t_us = tol_us(tolerance_sec)
    backward = direction == "backward"

    out_schema = StructType(
        list(left.schema.fields)
        + [StructField("matched_ts", right.schema[right_ts].dataType)]
        + [StructField(c, right.schema[c].dataType) for c in right_payload]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gmap = b.value
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            n = len(pdf)
            mts = np.full(n, np.datetime64("NaT", "us"), dtype="datetime64[us]")
            pays = {c: np.full(n, None, dtype=object) for c in right_payload}
            if n:
                lvalid = pdf[left_ts].notna().to_numpy()
                lus = (
                    pdf[left_ts].astype("datetime64[us]").astype("int64").to_numpy()
                )
                for key, idxs in pdf.groupby(
                    list(on), dropna=False, sort=False
                ).indices.items():
                    ref = gmap.get(_norm_key(key))
                    if ref is None:
                        continue
                    rus, rts, rpay = ref
                    idxs = np.asarray(idxs)
                    sub = lus[idxs]
                    if backward:
                        pos = np.searchsorted(rus, sub, side="right") - 1
                        valid = pos >= 0
                    else:
                        pos = np.searchsorted(rus, sub, side="left")
                        valid = pos < len(rus)
                    valid &= lvalid[idxs]
                    take = np.clip(pos, 0, len(rus) - 1)
                    if t_us is not None:
                        lag = (sub - rus[take]) if backward else (rus[take] - sub)
                        valid &= lag <= t_us
                    sel = idxs[valid]
                    mts[sel] = rts[take[valid]]
                    for c in right_payload:
                        pays[c][sel] = rpay[c][take[valid]]
            out = pdf.copy()
            out["matched_ts"] = pd.Series(mts, index=pdf.index)
            for c in right_payload:
                out[c] = pd.Series(pays[c], index=pdf.index)
            yield out

    return left.mapInPandas(kernel, schema=out_schema)


def _range_merge(
    u: DataFrame,
    on: list[str],
    left_cols: list[str],
    left_ts: str,
    right_payload: list[str],
    tolerance_sec: float | None,
    direction: str,
    num_partitions: int | None,
) -> DataFrame:
    """North-rule shape: repartitionByRange(keys) + sortWithinPartitions +
    vectorized grouped ffill inside mapInPandas (no per-row Python)."""
    nparts = num_partitions or u.sparkSession.conf.get("spark.sql.shuffle.partitions")
    asc = direction == "backward"
    sort_cols = [F.col(c) for c in on] + [
        F.col(_TS).asc() if asc else F.col(_TS).desc(),
        F.col(_MARK).desc(),
    ]
    arranged = u.repartitionByRange(int(nparts), *on).sortWithinPartitions(*sort_cols)

    m_ts_field = StructField("__m___r_ts", u.schema["__r_ts"].dataType)
    m_fields = [
        StructField(f"__m___r_{c}", u.schema[f"__r_{c}"].dataType) for c in right_payload
    ]
    out_schema = StructType(list(arranged.schema.fields) + m_fields + [m_ts_field])

    rcols = [f"__r_{c}" for c in right_payload] + ["__r_ts"]

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one partition may hold several keys but arrives fully sorted, so
        # groups are contiguous: a global ffill masked at key boundaries is
        # the sorted-merge — O(n) vectorized, no groupby over K groups
        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        if len(pdf) == 0:
            return
        keys = pdf[list(on)]
        # null-safe boundary: NaN == NaN must NOT start a new group, so that
        # NULL join keys form one contiguous group exactly like the window
        # strategy's partitionBy (which groups NULLs together) — keeps the
        # documented cross-strategy equivalence for NULL keys
        sh = keys.shift()
        boundary = ~(keys.eq(sh) | (keys.isna() & sh.isna()))
        gid = boundary.any(axis=1).cumsum()
        # carry from the last RIGHT ROW's position, not the last non-null
        # payload value: a right row whose payload is NULL must still win
        # (else "partner with NULL value" resurrects an older non-NULL one —
        # the same conflation fixed in the window strategy)
        is_r = pdf[_MARK].eq(1)
        pos = pd.Series(range(len(pdf)), index=pdf.index, dtype="float64")
        src_pos = pos.where(is_r).ffill()
        src_gid = gid.where(is_r).ffill()
        same = src_gid.eq(gid) & src_pos.notna()
        take = src_pos.fillna(0).astype(int).to_numpy()
        for c in rcols:
            filled = pdf[c].iloc[take].reset_index(drop=True)
            filled.index = pdf.index
            if pdf[c].dtype == object:
                # unmatched rows: None so Arrow maps to SQL NULL
                filled = filled.where(same & filled.notna(), None)
            else:
                filled = filled.where(same)
            pdf[f"__m_{c}"] = filled
        yield pdf

    matched = arranged.mapInPandas(merge, schema=out_schema)
    return _finish(matched, left_cols, left_ts, right_payload, tolerance_sec, direction)


def asof_join_pandas(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str | None = None,
    tolerance_sec: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Cogrouped Arrow kernel: per-key ``pandas.merge_asof``. The hook for
    future per-pair kernels that need the whole pair in memory (exact-DTW
    analog, `dtw_alignment.py:930-1090`). Prefer :func:`asof_join` for scale —
    this one requires each key group to fit in one Arrow batch."""
    right_ts = right_ts or left_ts
    right_payload = [c for c in right.columns if c not in set(on) | {right_ts}]

    m_fields = [StructField("matched_ts", right.schema[right_ts].dataType)] + [
        StructField(c, right.schema[c].dataType) for c in right_payload
    ]
    out_schema = StructType(list(left.schema.fields) + m_fields)
    tol = pd.Timedelta(seconds=tolerance_sec) if tolerance_sec is not None else None

    def merge(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        l = l.sort_values(left_ts, kind="mergesort")
        if len(r) == 0:
            l["matched_ts"] = pd.NaT
            for c in right_payload:
                l[c] = None
            return l
        r = r.sort_values(right_ts, kind="mergesort")
        r = r.rename(columns={right_ts: "matched_ts"})
        out = pd.merge_asof(
            l,
            r.drop(columns=list(on)),
            left_on=left_ts,
            right_on="matched_ts",
            direction=direction,
            tolerance=tol,
        )
        return out

    return (
        left.groupBy(*on)
        .cogroup(right.groupBy(*on))
        .applyInPandas(merge, schema=out_schema)
    )
