"""Range / banded joins (SURVEY.md J5) — the DTW band-constraint analog
(`05_dtw_alignment_experiment/dtw_alignment.py:885-928`): for each left row,
the admissible right candidates are those within a time band around it.

Physical shape: equi-join on the entity keys + band predicate. Catalyst
plans the equi part as a hash/sort-merge join and evaluates the band as a
post-join filter, so the exchange is on the keys only; with AQE the skewed
key splits are handled at runtime. The aggregate collapses the fan-out to
one row per left row, map-side partial first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators.timeutil import ts_micros


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_sec: float = 21_600.0,
    extra_cond: Column | None = None,
    max_fanout_per_row: int | None = None,
    on_excess: str = "raise",
) -> DataFrame:
    """All (left, right) row pairs whose CLOSED µs intervals overlap
    (``ls <= re AND rs <= le``), each pair emitted EXACTLY once — with one
    equi-shuffle on a time bucket, never a cross product.

    .. BREAKING CHANGE (r06, re-affirmed r07 per ADVICE): the fan-out
       guard default moved 512 → ``None`` (OFF). Existing callers that
       relied on the implicit guard must now pass
       ``max_fanout_per_row=...`` explicitly — a mis-sized ``bucket_sec``
       can otherwise multiply input rows by thousands with no error. The
       guard runs an eager aggregate at plan-build time, which is why it
       is opt-in (streaming inputs cannot run it; batch callers like
       session_overlap re-enable it).

    Start/end columns are epoch-µs longs (caller converts via
    :func:`~audio_feature_extraction_spark.operators.timeutil.ts_micros`);
    ``end >= start`` is the caller's contract (session bounds satisfy it
    by construction). The four start/end column NAMES must be distinct
    across the two inputs (they are referenced unqualified in the join
    condition — identical names would be ambiguous at resolution; this is
    checked up front). Other column-name collisions between the inputs
    survive the join but leave the OUTPUT ambiguous for downstream
    selects — rename before joining if you need both. Negative epochs are
    handled: bucketing uses the true floor ``(us - pmod(us, w)) div w``,
    not truncating division.

    Shape: each interval explodes to the buckets it covers
    (``sequence`` is safe — hi >= lo by the contract), the join is a plain
    hash equi-join on the bucket plus the overlap predicate, and the
    exactly-once rule keeps a pair only in the bucket containing
    ``greatest(ls, rs)`` — the overlap's first instant, which both
    intervals necessarily cover, so no pair is lost and none duplicated
    (no distinct needed: dedup is a filter, not a shuffle). ``bucket_sec``
    trades explode fan-out (long intervals / small buckets) against
    per-bucket candidate quadratics (dense buckets / big buckets); skewed
    hot buckets split under AQE.

    Fan-out guard (OPT-IN — default ``max_fanout_per_row=None`` keeps
    this a pure lazy plan builder): an interval spanning ``f`` buckets
    explodes to ``f`` rows, so a month-long interval at the default 6 h
    bucket costs ~120 rows — and a mis-sized bucket can silently multiply
    the input by thousands. When ``max_fanout_per_row`` is set, plan
    build runs ONE eager job (union of both sides' durations + a max
    aggregate — at any scale this is a column-stats scan, the price of
    the guard; this is why it is opt-in, and why it raises up front on
    streaming inputs, which cannot run a batch aggregate at plan time)
    and, when ``max(duration)/bucket > max_fanout_per_row``:

    - ``on_excess='raise'`` (default) fails fast naming the offending
      side and the bucket_sec that would fit, mirroring
      ``similarity.collect_guarded``;
    - ``on_excess='widen'`` auto-derives the smallest bucket that
      respects the cap. Safe for correctness: the emitted PAIRS are
      bucket-invariant (bucketing shapes the plan, never the result —
      property-tested), only the fan-out/candidate-density trade moves.

    Reference analog: the alignment-window candidate pairing of
    `05_dtw_alignment_experiment/dtw_alignment.py:885-928`, generalized
    from point-in-band to interval-overlap.
    """
    clash = ({left_start, left_end} & set(right.columns)) | (
        {right_start, right_end} & set(left.columns)
    )
    if clash:
        raise ValueError(
            f"interval_overlap_join start/end column names {sorted(clash)} "
            "appear on BOTH inputs; the join condition references them "
            "unqualified, so they must be distinct — rename one side "
            "(e.g. .withColumnRenamed) before joining."
        )
    if on_excess not in ("raise", "widen"):
        raise ValueError(f"on_excess must be 'raise' or 'widen', got {on_excess!r}")
    if max_fanout_per_row is not None and max_fanout_per_row < 4:
        raise ValueError(
            f"max_fanout_per_row must be >= 4 (got {max_fanout_per_row}): "
            "the widen derivation divides by cap-2"
        )
    w = int(round(bucket_sec * 1_000_000))
    if max_fanout_per_row is not None:
        if left.isStreaming or right.isStreaming:
            raise ValueError(
                "interval_overlap_join: the fan-out guard runs an eager "
                "batch aggregate at plan-build time and cannot run on a "
                "streaming DataFrame — pass max_fanout_per_row=None and "
                "size bucket_sec from known interval-duration bounds."
            )
        # ONE job for both sides: union the duration columns with a side
        # tag and take (max, argmax) together — two serial .first() aggs
        # measurably doubled the guard's cost on a cached input
        durs = left.select(
            F.lit("left").alias("_side"),
            (F.col(left_end) - F.col(left_start)).alias("_d"),
        ).unionAll(
            right.select(
                F.lit("right").alias("_side"),
                (F.col(right_end) - F.col(right_start)).alias("_d"),
            )
        )
        row = durs.agg(
            F.max("_d").alias("d"), F.max_by("_side", "_d").alias("side")
        ).first()
        worst = row["d"] if row and row["d"] is not None else 0
        worst_side = row["side"] or ""
        # an unaligned d-us interval covers at most d//w + 2 buckets
        fanout = worst // w + 2
        if fanout > max_fanout_per_row:
            # ceil(d / (cap-2)) keeps the widened fan-out within the cap
            fit_w = max(1, -(-worst // (max_fanout_per_row - 2)))
            if on_excess == "raise":
                # advertise fit_w/1e6 at full precision: round(that*1e6)
                # recovers fit_w exactly, so following the message's named
                # fix always satisfies the guard (a figure rounded DOWN
                # for display could raise again on retry)
                raise ValueError(
                    f"interval_overlap_join: the longest {worst_side} "
                    f"interval ({worst} us) spans ~{fanout} buckets at "
                    f"bucket_sec={bucket_sec}, exceeding "
                    f"max_fanout_per_row={max_fanout_per_row}. Pass "
                    f"bucket_sec>={fit_w / 1_000_000!r}, on_excess="
                    f"'widen' to auto-derive it, or max_fanout_per_row="
                    "None to skip the guard."
                )
            w = int(fit_w)

    def _bucket(col: str) -> F.Column:
        us = F.col(col)
        # (us - pmod)/w is exact: the numerator is a multiple of w, so the
        # double division cannot round for any |us| < 2^53 µs (~285 years)
        return ((us - F.pmod(us, F.lit(w))) / F.lit(w)).cast("long")

    l = left.withColumn(
        "_lb",
        F.explode(
            F.sequence(_bucket(left_start), _bucket(left_end))
        ),
    )
    r = right.withColumn(
        "_rb",
        F.explode(
            F.sequence(_bucket(right_start), _bucket(right_end))
        ),
    )
    ls, le = F.col(left_start), F.col(left_end)
    rs, re_ = F.col(right_start), F.col(right_end)
    first_overlap_bucket = (
        (
            F.greatest(ls, rs)
            - F.pmod(F.greatest(ls, rs), F.lit(w))
        )
        / F.lit(w)
    ).cast("long")
    cond = (
        (F.col("_lb") == F.col("_rb"))
        & (ls <= re_)
        & (rs <= le)
        & (F.col("_lb") == first_overlap_bucket)
    )
    if extra_cond is not None:
        cond = cond & extra_cond
    return l.join(r, cond, "inner").drop("_lb", "_rb")


def interval_self_overlap_pairs(
    df: DataFrame,
    key: str,
    start: str,
    end: str,
    bucket_sec: float = 1800.0,
    parallelism: int | None = None,
    broadcast_starts: bool = True,
    max_fanout_per_row: int | None = None,
    partition_cover_by_key: bool = False,
) -> DataFrame:
    """Every unordered pair of OVERLAPPING closed µs intervals from ONE
    frame, emitted exactly once — the self-join specialization of
    :func:`interval_overlap_join`, built for the dense-overlap regime
    where the symmetric explode-both scheme evaluates each true pair in
    every shared bucket (measured r07: 5.1B candidate evaluations for
    1.21B true pairs on the sf1.0 session frame).

    Output columns: ``{key}_a, {start}_a, {end}_a, {key}_b, {start}_b,
    {end}_b`` with ``({start}_a, {key}_a) < ({start}_b, {key}_b)``
    lexicographically — side *a* is the earlier-starting interval of the
    pair (ties broken by key). PRECONDITION: ``(start, key)`` is unique
    per row; a pair of rows with identical (start, key) would order
    neither way and be dropped (gap-sessionized frames satisfy this: one
    user's sessions have distinct starts).

    Shape (guide §2.3/§2.4/§3.1): the *cover* side explodes each
    interval to the buckets it spans; the *start* side keeps ONE row per
    interval keyed by its start bucket. A pair overlaps iff the
    later-starting interval's start instant lies inside the earlier one
    (closed: ``s_b <= e_a``), and that start's bucket is covered by the
    earlier interval exactly once — so the equi-join on the bucket plus
    the (order, ``s_b <= e_a``) predicate emits each pair exactly once
    with candidate count ≈ Σ_bucket covers×starts ≈ N × mean concurrent
    intervals — the true-pair floor plus bucket-boundary waste — instead
    of the explode-both scheme's Σ_bucket covers², and the per-candidate
    predicate is three long comparisons (no pmod/greatest re-bucketing).
    ``bucket_sec`` trades cover-side explode volume (long intervals /
    small buckets) against starts-per-bucket boundary waste; unlike the
    explode-both scheme, SMALLER buckets only shrink the candidate set
    (starts per bucket fall while covers stay ≈ concurrency), so size it
    a few × below the median interval duration.

    The cover side is round-robin ``repartition``-ed to ``parallelism``
    (default: the session's shuffle partitions) BEFORE the explode: the
    input is typically a just-aggregated frame that AQE has coalesced to
    a handful of small partitions, and the probe stage — the whole cost
    of the query — would otherwise run on those few cores (§2.6/§1.2).
    ``broadcast_starts=True`` (one row per interval, three longs — tiny
    relative to any corpus) makes the join a BroadcastHashJoin so the
    exploded cover side is never shuffled; pass False at a scale where
    one row per interval exceeds broadcast limits and the join falls
    back to an equi-shuffle on the bucket, which is still the
    explode-both exchange shape.

    ``max_fanout_per_row`` is the same opt-in eager guard as
    :func:`interval_overlap_join` (one max-duration aggregate at plan
    build; raises naming the bucket_sec that would fit)."""
    w = int(round(bucket_sec * 1_000_000))
    if max_fanout_per_row is not None:
        if df.isStreaming:
            raise ValueError(
                "interval_self_overlap_pairs: the fan-out guard runs an "
                "eager batch aggregate at plan-build time and cannot run "
                "on a streaming DataFrame — pass max_fanout_per_row=None "
                "and size bucket_sec from known interval-duration bounds."
            )
        row = df.agg(F.max(F.col(end) - F.col(start)).alias("d")).first()
        worst = row["d"] if row and row["d"] is not None else 0
        fanout = worst // w + 2
        if fanout > max_fanout_per_row:
            fit_w = max(1, -(-worst // (max_fanout_per_row - 2)))
            raise ValueError(
                f"interval_self_overlap_pairs: the longest interval "
                f"({worst} us) spans ~{fanout} buckets at "
                f"bucket_sec={bucket_sec}, exceeding "
                f"max_fanout_per_row={max_fanout_per_row}. Pass "
                f"bucket_sec>={fit_w / 1_000_000!r} or "
                "max_fanout_per_row=None to skip the guard."
            )

    def _bucket(col: str) -> Column:
        us = F.col(col)
        # exact for |us| < 2^53 µs — same derivation as interval_overlap_join
        return ((us - F.pmod(us, F.lit(w))) / F.lit(w)).cast("long")

    ka, sa, ea = f"{key}_a", f"{start}_a", f"{end}_a"
    kb, sb, eb = f"{key}_b", f"{start}_b", f"{end}_b"
    n_parts = parallelism or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    cover_df = df.select(
        F.col(key).alias(ka), F.col(start).alias(sa), F.col(end).alias(ea)
    )
    # partition_cover_by_key=True hash-partitions the cover side by its key
    # instead of round-robin: every pair whose EARLIER interval belongs to
    # key u is then probed in u's task, so a downstream per-pair aggregate
    # gets real map-side combining (one pair's overlaps split across at
    # most two cover keys) instead of ~1 row per group per task. Only
    # useful when keys own many intervals; round-robin balances better
    # when a few keys dominate.
    cover_df = (
        cover_df.repartition(n_parts, ka)
        if partition_cover_by_key
        else cover_df.repartition(n_parts)
    )
    cover = cover_df.withColumn(
        "_ba", F.explode(F.sequence(_bucket(sa), _bucket(ea)))
    )
    starts = df.select(
        F.col(key).alias(kb),
        F.col(start).alias(sb),
        F.col(end).alias(eb),
        _bucket(start).alias("_bb"),
    )
    if broadcast_starts:
        starts = F.broadcast(starts)
    cond = (
        (F.col("_ba") == F.col("_bb"))
        & (
            (F.col(sa) < F.col(sb))
            | ((F.col(sa) == F.col(sb)) & (F.col(ka) < F.col(kb)))
        )
        & (F.col(sb) <= F.col(ea))
    )
    return cover.join(starts, cond, "inner").drop("_ba", "_bb")


def band_join_stats(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    lo_sec: float = 0.0,
    hi_sec: float = 3600.0,
    value_col: str | None = None,
) -> DataFrame:
    """Per left row, stats over right rows with the same keys and
    ``left.ts - hi <= right.ts <= left.ts - lo`` (a trailing band; lo=0 makes
    it point-in-time inclusive — zero temporal leakage when lo >= 0).

    Returns all left columns + ``n_in_band`` (+ ``band_max``/``band_sum``
    over ``value_col`` if given). Left rows with no candidates are kept with
    n_in_band = 0 (the missing-partner case, J2 analog).
    """
    lo_us = int(round(lo_sec * 1_000_000))
    hi_us = int(round(hi_sec * 1_000_000))
    r = right.select(
        *[F.col(c).alias(f"__r_{c}") for c in on],
        F.expr(ts_micros(right_ts)).alias("__r_us"),
        *([F.col(value_col).alias("__r_val")] if value_col else []),
    )
    lag = F.col("__l_us") - F.col("__r_us")
    # band predicate lives IN the join condition so left rows whose candidates
    # all miss the band still survive the outer join (n_in_band = 0)
    cond = [F.col(c) == F.col(f"__r_{c}") for c in on] + [
        (lag >= F.lit(lo_us)) & (lag <= F.lit(hi_us))
    ]
    # per-ROW identity for the regroup: grouping on the left columns alone
    # would collapse duplicate left rows into one row with summed stats.
    # The id never reaches the output, so its partition-dependent values
    # can't leak nondeterminism.
    l = left.withColumn("__l_us", F.expr(ts_micros(left_ts))).withColumn(
        "__l_rid", F.monotonically_increasing_id()
    )
    j = l.join(r, cond, "left_outer")
    aggs = [F.count("__r_us").alias("n_in_band")]
    if value_col:
        aggs += [
            F.max("__r_val").alias("band_max"),
            F.sum("__r_val").alias("band_sum"),
        ]
    out = (
        j.groupBy(F.col("__l_rid"), *[F.col(c) for c in left.columns])
        .agg(*aggs)
        .drop("__l_rid")
    )
    return out
