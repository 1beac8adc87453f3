"""tools/plan_report.py names every query whose plan hash moved."""

from __future__ import annotations

from tools.plan_report import diff_hashes


def test_diff_hashes_names_changed_added_and_removed():
    old = {"a": "1", "b": "2", "c": "3"}
    new = {"a": "1", "b": "9", "d": "4"}
    assert diff_hashes(old, new) == (["b"], ["d"], ["c"])


def test_diff_hashes_identical_maps_report_nothing():
    h = {"a": "1", "b": "2"}
    assert diff_hashes(h, dict(h)) == ([], [], [])
