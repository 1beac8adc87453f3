"""tools/fold_last_run.py must fold exactly the bench document of a capture
and fail loudly on a capture it cannot read unambiguously."""

from __future__ import annotations

import json

import pytest

from tools.fold_last_run import bench_doc

BENCH = {"metric": "head_total", "queries": {"delta9": 0.5, "sessionize": 0.7}}


def _capture(tmp_path, *lines):
    p = tmp_path / "bench_stdout.json"
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_log_line_after_the_bench_line_is_skipped(tmp_path):
    p = _capture(
        tmp_path,
        "26/10/17 WARN NativeCodeLoader: using builtin-java classes",
        json.dumps(BENCH),
        '{"level": "INFO", "msg": "SparkContext stopped"}',
        "{not json",
    )
    assert bench_doc(p) == BENCH


def test_document_without_queries_raises(tmp_path):
    p = _capture(tmp_path, json.dumps({"metric": "head_total", "value": 1.0}))
    with pytest.raises(ValueError, match="found 0"):
        bench_doc(p)


def test_two_bench_documents_raise(tmp_path):
    p = _capture(tmp_path, json.dumps(BENCH), json.dumps(BENCH))
    with pytest.raises(ValueError, match="found 2"):
        bench_doc(p)
