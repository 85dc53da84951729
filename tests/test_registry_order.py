"""Registry order is derived from the committed ``CORRECTNESS_r*.json``
files: red rows first, then never-sampled names, then the rest."""

from __future__ import annotations

import json
from pathlib import Path

from es_ch_sync_spark import queries as q

ROOT = Path(__file__).resolve().parent.parent


def _row(green: bool) -> dict:
    return {"rows_match": True, "schema_match": True, "hash_match": green, "err": None}


def test_driver_order_red_then_fresh_then_seen(tmp_path):
    r1 = tmp_path / "CORRECTNESS_r01.json"
    r2 = tmp_path / "CORRECTNESS_r02.json"
    r1.write_text(json.dumps({"a": _row(True), "b": _row(False), "c": _row(True), "d": _row(False)}))
    # the latest row decides: b turns green, c turns red, d stays red
    r2.write_text(json.dumps({"b": _row(True), "c": _row(False), "d": {"rows_match": False}}))
    names = ["a", "b", "c", "d", "e", "f"]
    assert q._driver_order(names, [r1, r2]) == ["c", "d", "e", "f", "a", "b"]
    assert q._driver_order(names, []) == names
    assert q._driver_order(names[::-1], [r1]) == ["d", "b", "f", "e", "c", "a"]


def test_committed_correctness_names_are_registered():
    names = set()
    for path in ROOT.glob("CORRECTNESS_r*.json"):
        names |= set(json.loads(path.read_text()))
    assert names
    assert sorted(names - set(q.spark_queries())) == []
