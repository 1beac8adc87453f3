"""Seeded benchmark inputs, generated with numpy and written with pyarrow.

Two input families, both a pure function of ``(seed, size)``:

- :func:`write_sequences` — the flagship's ``sequences`` and
  ``reference_events`` tables with the schema of
  ``audio_feature_extraction_spark.datagen`` (``SEQ_SCHEMA`` /
  ``REF_SCHEMA``) and the distributions of its ``GenConfig``: rows per doc,
  log-normal token lengths, ~15% NULL values, duplicate-timestamp ties,
  session gaps, the 60% ``web`` source skew and ~30% of docs without
  reference rows. It draws all docs in one vectorized pass instead of one
  pandas frame per doc, so the rows are not the rows ``datagen`` emits for
  the same seed; the distributions are the same. ``datagen.gen_sequences``
  spends ~95 s at local[4] on 29 M tokens (one Arrow batch per doc through
  ``mapInPandas``); this writes the same volume in a few seconds, which is
  what lets every benchmark run draw fresh inputs from its own seed.
- :func:`write_sf_tables` — the ten registry tables (TPC-H-ish star schema
  plus ``events``, ``documents`` and ``embeddings``) with the column names,
  types and value domains of the read-only testdata tiers (TESTDATA.md), scaled by
  ``sf`` the way those tiers scale (rows linear in ``sf``; ``documents`` and
  ``embeddings`` floored at 500 rows).

Inputs are written under the benchmark's work directory and deleted when a
run ends.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from audio_feature_extraction_spark.datagen import (
    REF_VEC_DIM,
    SKEW_SOURCE,
    SOURCES,
    GenConfig,
)

_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z, datagen.EPOCH
_DOC_STRIDE_US = 997_000_000  # per-doc time offset, as in datagen


@dataclass(frozen=True)
class SeqInput:
    """Where a generated ``sequences``/``reference_events`` pair lives."""

    seq_path: str
    ref_path: str
    n_docs: int
    rows: int
    tokens: int
    token_bytes: int


def _list_array(lengths: np.ndarray, values: pa.Array) -> pa.Array:
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), values)


def _doc_ids(idx: np.ndarray) -> pa.Array:
    return pa.array([f"doc{i:08d}" for i in idx.tolist()], type=pa.string())


def write_sequences(
    out_dir: str, cfg: GenConfig, files: int = 8
) -> SeqInput:
    """Write ``seq/`` and ``ref/`` Parquet dirs for ``cfg`` under ``out_dir``.

    ``files`` Parquet files per table, split on doc boundaries, so the scan
    has a fixed split count whatever ``maxPartitionBytes`` says."""
    rng = np.random.default_rng([cfg.seed, 0x5EC])
    n = cfg.n_docs
    docs = np.arange(n, dtype=np.int64)
    src_names = np.array(SOURCES + [SKEW_SOURCE], dtype=object)
    skew = rng.random(n) < 0.60
    doc_src = np.where(skew, len(SOURCES), rng.integers(0, len(SOURCES), n))

    rows_per_doc = rng.integers(cfg.min_rows, cfg.max_rows + 1, n)
    total = int(rows_per_doc.sum())
    row_doc = np.repeat(docs, rows_per_doc)
    first = np.zeros(total, dtype=bool)
    first[np.concatenate([[0], np.cumsum(rows_per_doc)[:-1]])] = True
    seq_no = np.arange(total) - np.repeat(
        np.cumsum(rows_per_doc) - rows_per_doc, rows_per_doc
    )

    gap = rng.random(total) < cfg.gap_break_frac
    steps = np.where(
        gap,
        rng.integers(40_000_000, 120_000_000, total),
        rng.integers(1_000_000, 10_000_000, total),
    )
    steps[rng.random(total) < cfg.tie_frac] = 0
    steps[first] = 0
    csum = np.cumsum(steps)
    doc_start = np.repeat(csum[first] - steps[first], rows_per_doc)
    ts_us = _EPOCH_US + row_doc * _DOC_STRIDE_US + (csum - doc_start)

    value = rng.normal(0.0, 1.0, total)
    value_null = rng.random(total) < cfg.null_frac
    lengths = np.clip(
        np.exp(rng.normal(np.log(cfg.min_tok * 2), 0.9, total)).astype(np.int64),
        cfg.min_tok,
        cfg.max_tok,
    ).astype(np.int32)
    n_tok = int(lengths.sum())
    tokens = rng.integers(-(2**31), 2**31 - 1, n_tok, dtype=np.int64).astype(
        np.int32
    )

    ts_type = pa.timestamp("us", tz="UTC")
    seq_dir = os.path.join(out_dir, "seq")
    os.makedirs(seq_dir, exist_ok=True)
    doc_cuts = np.linspace(0, n, files + 1).astype(np.int64)
    row_cuts = np.concatenate([[0], np.cumsum(rows_per_doc)])[doc_cuts]
    tok_offsets = np.concatenate([[0], np.cumsum(lengths, dtype=np.int64)])
    for f in range(files):
        lo, hi = int(row_cuts[f]), int(row_cuts[f + 1])
        t_lo, t_hi = int(tok_offsets[lo]), int(tok_offsets[hi])
        tbl = pa.table(
            {
                "doc_id": _doc_ids(row_doc[lo:hi]),
                "seq": pa.array(seq_no[lo:hi].astype(np.int32)),
                "tokens": _list_array(
                    lengths[lo:hi], pa.array(tokens[t_lo:t_hi])
                ),
                "n_tok": pa.array(lengths[lo:hi]),
                "source": pa.array(src_names[doc_src[row_doc[lo:hi]]].tolist()),
                "ts": pa.array(ts_us[lo:hi], type=pa.int64()).cast(ts_type),
                "value": pa.array(value[lo:hi], mask=value_null[lo:hi]),
            }
        )
        pq.write_table(tbl, os.path.join(seq_dir, f"part-{f:05d}.parquet"))

    # reference side: ~ref_doc_frac of docs get 2..7 rows within
    # [-30 s, +90 s) of the doc's base time, unique per (doc, ts)
    has_ref = rng.random(n) < cfg.ref_doc_frac
    ref_docs = docs[has_ref]
    n_ref = rng.integers(2, 8, len(ref_docs))
    r_doc = np.repeat(ref_docs, n_ref)
    r_off = rng.integers(-30_000_000, 90_000_000, len(r_doc))
    order = np.lexsort((r_off, r_doc))
    r_doc, r_off = r_doc[order], r_off[order]
    keep = np.ones(len(r_doc), dtype=bool)
    keep[1:] = (r_doc[1:] != r_doc[:-1]) | (r_off[1:] != r_off[:-1])
    r_doc, r_off = r_doc[keep], r_off[keep]
    vecs = rng.normal(0.0, 1.0, (len(r_doc), REF_VEC_DIM))
    ref_tbl = pa.table(
        {
            "source": pa.array(src_names[doc_src[r_doc]].tolist()),
            "doc_id": _doc_ids(r_doc),
            "ts": pa.array(
                _EPOCH_US + r_doc * _DOC_STRIDE_US + r_off, type=pa.int64()
            ).cast(ts_type),
            "ref_vec": _list_array(
                np.full(len(r_doc), REF_VEC_DIM, dtype=np.int32),
                pa.array(vecs.ravel()),
            ),
        }
    )
    ref_dir = os.path.join(out_dir, "ref")
    os.makedirs(ref_dir, exist_ok=True)
    pq.write_table(ref_tbl, os.path.join(ref_dir, "part-00000.parquet"))
    return SeqInput(
        seq_path=seq_dir,
        ref_path=ref_dir,
        n_docs=n,
        rows=total,
        tokens=n_tok,
        token_bytes=4 * n_tok,
    )


# ---------------------------------------------------------------- sf tables

SF_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_P_ADJ = ["large", "hot", "blue", "red", "new", "small", "old", "cold"]
_P_NOUN = ["ring", "bolt", "anvil", "rod", "plate", "gizmo", "gear", "widget"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_DAY_US = 86_400_000_000


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    d = rng.integers(lo_d, hi_d + 1, n)
    return pa.array(d * _DAY_US, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[
        rng.choice(len(choices), n, p=p)
    ].tolist())


def sf_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten registry tables at scale ``sf``, a pure function of
    ``(sf, seed)``."""
    rng = np.random.default_rng([seed, 0x5F])
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    adj = rng.integers(0, len(_P_ADJ), n_part)
    noun = rng.integers(0, len(_P_NOUN), n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(
            [f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in zip(adj, noun)]
        ),
        "p_brand": pa.array(
            [f"Brand#{k}" for k in rng.integers(1, 26, n_part).tolist()]
        ),
        "p_type": _pick(rng, _P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        # rounded uniform draws: the end values 0.00 and 0.10 / 0.08 are
        # half as frequent as the others, as in the shipped tiers
        "l_discount": np.round(rng.uniform(0.0, 0.10, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + _EPOCH_US
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev_ts, i64).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()]
        ),
    })
    words = np.asarray(_WORDS, dtype=object)
    n_words = rng.integers(10, 100, n_doc)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in n_words]
    # ~5% near-duplicates (another doc's text + " dup") and no exact
    # copies, as measured on the shipped sf0.01 and sf0.1 tiers
    near = np.flatnonzero(rng.random(n_doc) < 0.05)
    for i, j in zip(near, rng.choice(n_doc, len(near), replace=False)):
        texts[i] = texts[int(j)] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n_doc, p=_LANG_P),
        "source": pa.array([f"src{k % 20}" for k in range(n_doc)]),
        "n_chars": pa.array([len(s) for s in texts], i64),
    })
    # isotropic unit vectors with labels drawn independently: on the
    # shipped tiers a vector's nearest neighbour shares its label 9.6%
    # (sf0.01) and 10.4% (sf0.1) of the time, chance for 10 labels
    emb = rng.normal(0.0, 1.0, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": _list_array(
            np.full(n_emb, 64, dtype=np.int32), pa.array(emb.ravel())
        ),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return t


def write_sf_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write ``<table>.parquet`` files for :func:`sf_tables`; returns rows
    per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in sf_tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows
