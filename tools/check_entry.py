"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same sf dir, then compares
row counts, schemas (column-name sets) and values (rows sorted, columns
sorted by name, exact match after canonicalization). Usage:

    python tools/check_entry.py [sf_dir] [query ...]

Oracle results are CACHED under .oracle_cache/ keyed by
sha256(sf_dir || oracle SQL text) — the testdata is immutable and any
oracle edit changes the key, so a hit is always valid. This is the
VERDICT r04 #8 gate-iteration QoL: the heavyweight oracles
(pipeline_features 43.7 s at sf0.1, the shingle self-joins) run once per
SQL revision instead of once per gate run. Builder-side only — the
driver always executes the self-contained SQL raw. Disable with
SPARK_GRAFT_ORACLE_CACHE=0; stale entries are harmless but `rm -rf
.oracle_cache` reclaims space.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402
from audio_feature_extraction_spark.queries.common import TABLE_SCHEMAS  # noqa: E402
from audio_feature_extraction_spark.session import get_spark  # noqa: E402

TABLES = list(TABLE_SCHEMAS)


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        s = pdf[c]
        if str(s.dtype).startswith("datetime64"):
            pdf[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            pdf[c] = s.where(s.notna(), None)
        elif pd.api.types.is_integer_dtype(s):
            pdf[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            pdf[c] = s.astype("float64")
    pdf = pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return pdf


def _dtype_kind(s: pd.Series) -> str:
    if str(s.dtype).startswith("datetime64"):
        return "datetime"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    return "object"


def compare(name: str, a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    errs: list[str] = []
    if set(a.columns) != set(b.columns):
        return [f"schema mismatch: spark={sorted(a.columns)} duck={sorted(b.columns)}"]
    if len(a) != len(b):
        errs.append(f"row count: spark={len(a)} duck={len(b)}")
        return errs
    # the driver's value-hash is dtype-sensitive (round-1 cube_report lesson:
    # DuckDB HUGEINT sums land as float64, Spark as int64 — rows match, hash
    # doesn't). Flag any cross-kind column BEFORE canonicalization.
    for c in a.columns:
        ka, kb = _dtype_kind(a[c]), _dtype_kind(b[c])
        if ka != kb:
            errs.append(
                f"col {c}: dtype kind mismatch spark={a[c].dtype}({ka}) "
                f"duck={b[c].dtype}({kb}) — driver hash would differ"
            )
    if errs:
        return errs
    a, b = canon(a), canon(b)
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) and pd.api.types.is_float_dtype(y):
            xa, ya = x.to_numpy(), y.to_numpy()
            eq = (xa == ya) | (np.isnan(xa) & np.isnan(ya))
            if not eq.all():
                bad = np.flatnonzero(~eq)
                d = np.nanmax(np.abs(xa[~eq] - ya[~eq]))
                errs.append(
                    f"col {c}: {len(bad)} mismatches, maxdiff={d:.3e}, "
                    f"first idx={bad[:3]} spark={xa[bad[:3]]} duck={ya[bad[:3]]}"
                )
        else:
            eq = (x == y) | (x.isna() & y.isna())
            if not eq.all():
                bad = np.flatnonzero(~eq.to_numpy())
                errs.append(
                    f"col {c} ({x.dtype}/{y.dtype}): {len(bad)} mismatches, "
                    f"first idx={bad[:3]} spark={x.iloc[bad[:3]].tolist()} "
                    f"duck={y.iloc[bad[:3]].tolist()}"
                )
    return errs


_CACHE_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", ".oracle_cache"
)


def _sf_fingerprint(sf_dir: str) -> str:
    """Cheap content fingerprint of the sf_dir parquet files (name, size,
    mtime_ns per file) so a regenerated testdata tree under the SAME path
    invalidates the cache instead of serving stale oracle results."""
    parts = []
    # an unreadable/missing sf_dir must NOT silently degrade the cache key
    # to path+SQL only (the stale-cache failure mode the fingerprint
    # exists to prevent, ADVICE r06) — let the OSError propagate; the run
    # would fail anyway when DuckDB reads the same files
    for name in sorted(os.listdir(sf_dir)):
        if not name.endswith(".parquet"):
            continue
        st = os.stat(os.path.join(sf_dir, name))
        parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    return ";".join(parts)


def _oracle_df(con, sql: str, sf_dir: str) -> pd.DataFrame:
    """DuckDB oracle result, cached by (sf_dir path + data fingerprint,
    SQL text) — any SQL edit OR testdata regeneration changes the key."""
    if os.environ.get("SPARK_GRAFT_ORACLE_CACHE", "1") == "0":
        return con.execute(sql).fetchdf()
    key = hashlib.sha256(
        f"{sf_dir}||{_sf_fingerprint(sf_dir)}||{sql}".encode()
    ).hexdigest()[:32]
    path = os.path.join(_CACHE_DIR, f"{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    pdf = con.execute(sql).fetchdf()
    os.makedirs(_CACHE_DIR, exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    pdf.to_pickle(tmp)
    os.replace(tmp, path)
    return pdf


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    spark = get_spark(app_name="check-entry", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd name would otherwise filter out EVERYTHING, run zero
        # queries, and exit 0 — a false-green gate
        print(f"FAIL  unknown query name(s): {sorted(unknown)}")
        spark.stop()
        return 1
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            # plan gate: no row-at-a-time Python UDFs, no cross products —
            # anywhere, ever (ArrowEvalPython / MapInPandas ARE allowed:
            # those are the sanctioned vectorized boundaries)
            plan = df._jdf.queryExecution().executedPlan().toString()
            banned = [
                p for p in ("BatchEvalPython", "CartesianProduct") if p in plan
            ]
            if banned:
                print(f"FAIL  {name}: banned plan node(s) {banned}")
                n_fail += 1
                continue
            spdf = df.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        sql = os_.get(name)
        if sql is None:
            print(f"SKIP  {name}: no oracle (rows={len(spdf)})")
            continue
        try:
            ddf = _oracle_df(con, sql, sf_dir)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        errs = compare(name, spdf, ddf)
        dt = time.time() - t0
        if errs:
            n_fail += 1
            print(f"FAIL  {name} ({dt:.1f}s, rows={len(spdf)})")
            for e in errs[:6]:
                print(f"      {e}")
        else:
            print(f"OK    {name} ({dt:.1f}s, rows={len(spdf)})")

    # entry() smoke — the driver's contract is rows > 0, so enforce it here
    if not only:
        out = entry_mod.entry(spark)
        n = out.count()
        print(f"entry(): rows={n} schema={[f.name for f in out.schema.fields]}")
        if n <= 0:
            print("FAIL  entry() returned 0 rows (driver requires > 0)")
            n_fail += 1
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
