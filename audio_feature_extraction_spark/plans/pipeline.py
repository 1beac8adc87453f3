"""Flagship end-to-end feature pipeline (SURVEY.md §7.2).

For every row of the input sequences table:
  sessionize by 30 s event-time gaps per doc_id, LOCF-backfill missing values,
  compute lag-1 delta + causal width-9 regression delta + trailing rolling
  stats + running token totals, as-of join each row to the latest preceding
  reference event for its (source, doc_id) within 300 s, and emit
  (doc_id, seq, ts, session_id, feature_vector array<double>, tokens).

Must match ``oracle.oracle_features`` (np.allclose on feature_vector,
bit-identical int32 tokens) — see tests/test_pipeline_oracle.py.

Physical shape: ONE hash exchange of the fat token rows, ONE feature sort,
3 Window nodes. The as-of runs first with its union clustered on hash(doc_id)
— a strict subset of the as-of window keys (source, doc_id), which still
satisfies the window's ClusteredDistribution — and the features then run as
one projection per data-dependency layer over the same (doc_id; ts, seq)
window:

- layer 1 reads only as-of output: ``v_filled`` (LOCF), ``cum_tokens`` and
  the session-break flag;
- layer 2 reads layer 1: ``delta1``, ``delta9``, ``roll_mean``,
  ``roll_std`` and ``session_id`` (the running sum of the break flags).

Catalyst plans one Window node per layer, both on the as-of exchange's
hash(doc_id) partitioning; layer 2 reuses layer 1's sort order. No pandas
UDF anywhere — the whole plan is JVM window exec + projections,
whole-stage-codegen eligible.

Every step is Spark SQL text handed to the JVM in one ``selectExpr``
(see ``operators.windows``): building the plan costs a couple of hundred
Py4J round trips, not thousands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from audio_feature_extraction_spark.oracle import (
    ASOF_TOL_SEC,
    GAP_SEC,
    ROLL_WINDOW,
)
from audio_feature_extraction_spark.operators import windows as W
from audio_feature_extraction_spark.operators.asof import asof_join
from audio_feature_extraction_spark.operators.backfill import locf
from audio_feature_extraction_spark.operators.sessionize import (
    session_break,
    session_number,
)
from audio_feature_extraction_spark.operators.timeutil import ts_micros


def feature_pipeline(
    seq: DataFrame,
    ref: DataFrame,
    asof_strategy: str = "window",
    gap_sec: float = GAP_SEC,
    tol_sec: float = ASOF_TOL_SEC,
) -> DataFrame:
    # point-in-time reference lookup first (backward as-of, tolerance-bounded),
    # with the union clustered on doc_id alone — the one exchange of the run;
    # every window below reuses hash(doc_id) and plans sort-only
    matched = asof_join(
        seq,
        ref,
        on=["source", "doc_id"],
        left_ts="ts",
        tolerance_sec=tol_sec,
        direction="backward",
        strategy=asof_strategy,
        cluster_on=["doc_id"] if asof_strategy == "window" else None,
    )

    w = W.entity_window(["doc_id"], ["ts", "seq"])
    # point-in-time backfill + windowed features (no further exchange),
    # one projection per data-dependency layer
    layer1 = matched.selectExpr(
        "*",
        f"{locf('value', w, default=0.0)} AS v_filled",
        f"{W.running_sum('CAST(n_tok AS BIGINT)', w)} AS cum_tokens",
        f"{session_break(w, 'ts', gap_sec)} AS __brk",
    )
    layer2 = layer1.selectExpr(
        "*",
        f"{W.delta1('v_filled', w)} AS delta1",
        f"{W.delta_trailing('v_filled', w, half=4)} AS delta9",
        f"{W.rolling_mean('v_filled', w, ROLL_WINDOW)} AS roll_mean",
        f"{W.rolling_std_pop('v_filled', w, ROLL_WINDOW)} AS roll_std",
        f"{session_number('__brk', w)} AS session_id",
    )

    # exact µs subtraction first, one double division after (oracle parity)
    lag_sec = f"CAST({ts_micros('ts')} - {ts_micros('matched_ts')} AS DOUBLE) / 1000000.0D"
    features = ", ".join([
        "v_filled",
        "delta1",
        "delta9",
        "roll_mean",
        "roll_std",
        "CAST(session_id AS DOUBLE)",
        "CAST(n_tok AS DOUBLE)",
        "CAST(cum_tokens AS DOUBLE)",
        "coalesce(try_element_at(ref_vec, 1), 0.0D)",
        f"coalesce({lag_sec}, -1.0D)",
    ])
    return layer2.selectExpr(
        "doc_id", "seq", "ts", "session_id", f"array({features}) AS feature_vector", "tokens"
    )
