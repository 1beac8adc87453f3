"""Output checks. Each returns a list of error strings; empty means the
output is correct. They compare already-collected values, so the
benchmark's tests can feed them corrupted inputs directly. Registry
queries use ``tools/check_entry.compare``, the repository's canonical
compare, unchanged."""

from __future__ import annotations

import numpy as np
import pandas as pd


def token_hash_agg(df):
    """``(rows, order-independent sum of xxhash64(doc_id, seq, tokens))`` of
    a Spark frame, as exact integers."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("doc_id", "seq", "tokens").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def check_token_hash(inp: tuple[int, int], out: tuple[int, int]) -> list[str]:
    """Every input row reaches the output once, with bit-identical tokens."""
    errs = []
    if inp[0] != out[0]:
        errs.append(f"row count: input={inp[0]} output={out[0]}")
    if inp[1] != out[1]:
        errs.append(f"(doc_id, seq, tokens) hash sum: input={inp[1]} output={out[1]}")
    return errs


def check_features(got: pd.DataFrame, want: pd.DataFrame,
                   rtol: float = 1e-9, atol: float = 1e-12) -> list[str]:
    """Pipeline output rows against ``oracle.oracle_features`` for the same
    docs: keys, timestamps and session ids equal, feature vectors allclose,
    token arrays bit-identical."""
    key = ["doc_id", "seq"]
    if len(got) != len(want):
        return [f"row count: spark={len(got)} oracle={len(want)}"]
    g = got.sort_values(key, kind="mergesort").reset_index(drop=True)
    w = want.sort_values(key, kind="mergesort").reset_index(drop=True)
    errs = []
    for c, dtype in (("doc_id", object), ("seq", "int64"), ("session_id", "int64")):
        if not (g[c].astype(dtype).to_numpy() == w[c].astype(dtype).to_numpy()).all():
            errs.append(f"column {c} differs")
    gts = pd.to_datetime(g["ts"]).astype("datetime64[us]").to_numpy()
    wts = pd.to_datetime(w["ts"]).astype("datetime64[us]").to_numpy()
    if not (gts == wts).all():
        errs.append("column ts differs")
    fg = np.stack(g["feature_vector"].map(np.asarray).to_list())
    fw = np.stack(w["feature_vector"].map(np.asarray).to_list())
    if fg.shape != fw.shape or not np.allclose(fg, fw, rtol=rtol, atol=atol):
        errs.append("feature_vector not allclose to the oracle")
    bad = [
        i for i, (a, b) in enumerate(zip(g["tokens"], w["tokens"]))
        if not np.array_equal(np.asarray(a, dtype=np.int32),
                              np.asarray(b, dtype=np.int32))
    ]
    if bad:
        errs.append(f"tokens differ on {len(bad)} rows (first {bad[:3]})")
    return errs


def check_resume(verify_rows: int, rows: int, distinct_keys: int,
                 expected_rows: int, resumed: tuple[int, int],
                 single_shot: tuple[int, int]) -> list[str]:
    """A killed-and-resumed checkpoint table: ``verify()`` is empty, no key
    was written twice, every input row is present, and the manifests'
    ``(rows, checksum)`` totals equal a single-shot write of the same
    input."""
    errs = []
    if verify_rows:
        errs.append(f"verify() reported {verify_rows} inconsistent snapshots")
    if rows != distinct_keys:
        errs.append(f"{rows - distinct_keys} keys written twice")
    if distinct_keys != expected_rows:
        errs.append(f"keys present={distinct_keys} expected={expected_rows}")
    if resumed != single_shot:
        errs.append(f"manifest (rows, checksum) resumed={resumed} single-shot={single_shot}")
    return errs
