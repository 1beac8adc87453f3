"""Shared helpers: table loaders, window specs, event-table constants.

Oracles follow the conventions in __spark_entry__.py's docstring."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from audio_feature_extraction_spark.operators.windows import EntityWindow, entity_window


# events-table parameters: median same-user inter-event gap is ~7.7 h, so an
# 8 h gap sessionizes into multi-event sessions; 2-day as-of tolerance gives a
# healthy matched/unmatched mix (the missing-partner case stays exercised).
EV_GAP_SEC = 28_800.0

EV_TOL_SEC = 172_800.0

EV_GAP_US = int(EV_GAP_SEC * 1_000_000)

EV_TOL_US = int(EV_TOL_SEC * 1_000_000)

_WU = "PARTITION BY user_id ORDER BY ts, event_id"

# the registry tables' schemas, as every shipped tier (sf0.001 / sf0.01 /
# sf0.1) stores them. Declaring them spares each bare read the schema-inference
# Spark job (~55-80 ms at local[4]) it would start while a query is built.
TABLE_SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
    "documents": (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ),
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")

def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + the NULL-injected observation column ``v`` (missing-value
    analog of unvoiced F0, SURVEY.md P1). Single source of truth:
    plans.from_events.with_v / V_NULL_ABOVE — the same derivation the
    flagship pipeline uses, so the threshold can never drift between the
    two query families."""
    from audio_feature_extraction_spark.plans.from_events import with_v

    return with_v(_t(spark, sf_dir, "events"))

def _uw() -> EntityWindow:
    """The per-user event-time window (``_WU`` is its DuckDB twin)."""
    return entity_window(["user_id"], ["ts", "event_id"])

DAY_US = 86_400_000_000

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
