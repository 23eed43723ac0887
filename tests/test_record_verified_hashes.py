"""Unit tests for tools/record_verified_hashes.py — the write side of the
edit-reverification guard. Pure-registry: fingerprints are monkeypatched,
no Spark. The paths under test:

  (1) oracle-green this round        -> stamped with the current hash, this
                                        round and its sweep position
  (2) rows-only + changed + check OK -> stamped (weaker tier, gated)
  (3) not re-checked this round      -> record kept as it is (a changed one
                                        stays stale, at the rotation front)
"""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

from learn_hbase_spark import queries as Q

_TOOL_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "record_verified_hashes.py",
)


def _load_tool():
    spec = importlib.util.spec_from_file_location(
        "record_verified_hashes_under_test", _TOOL_PATH
    )
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    return tool


_GREEN = {
    "err": None,
    "rows_match": True,
    "schema_match": True,
    "hash_match": True,
}


@pytest.fixture()
def tool(monkeypatch, tmp_path):
    t = _load_tool()
    # real registry names standing in for the paths; point_get has no record
    names = ["rdl_flagship", "filter_scan", "prefix_scan", "point_get"]
    fingerprints = {n: f"cur_{n}" for n in names}
    monkeypatch.setattr(t.Q, "query_fingerprint", lambda n: fingerprints[n])
    monkeypatch.setattr(
        t.Q, "_VERIFIED_HASHES_PATH", str(tmp_path / "hashes.json")
    )
    # recorded state: rdl_flagship changed, filter_scan changed,
    # prefix_scan unchanged
    records = {
        "rdl_flagship": {"fp": "old", "round": 1, "seq": 0},
        "filter_scan": {"fp": "old", "round": 1, "seq": 1},
        "prefix_scan": {"fp": "cur_prefix_scan", "round": 3, "seq": 7},
    }
    monkeypatch.setattr(
        t.Q, "recorded_verifications", lambda: json.loads(json.dumps(records))
    )
    return t


def _run(tool, tmp_path, rows, fname="CORRECTNESS_r17.json"):
    cfile = tmp_path / fname
    cfile.write_text(json.dumps(rows))
    tool.main([str(cfile)])
    with open(tool.Q._VERIFIED_HASHES_PATH) as fh:
        return json.load(fh)


def test_green_row_restamps_changed_fingerprint(tool, tmp_path):
    rows = {"point_get": {"err": "boom"}, "rdl_flagship": _GREEN}
    rec = _run(tool, tmp_path, rows)
    # fresh verification: round 17, second row of the sweep
    assert rec["rdl_flagship"] == {
        "fp": "cur_rdl_flagship", "round": 17, "seq": 1,
    }
    # changed, unchecked -> stale
    assert rec["filter_scan"] == {"fp": "old", "round": 1, "seq": 1}
    assert "point_get" not in rec  # failed row records nothing


def test_green_name_without_record_is_recorded(tool, tmp_path):
    rec = _run(tool, tmp_path, {"point_get": _GREEN})
    assert rec["point_get"] == {"fp": "cur_point_get", "round": 17, "seq": 0}


def test_unchecked_name_keeps_round_and_reverified_name_moves(
    tool, tmp_path
):
    # prefix_scan is unchanged: not in this round's sweep -> old round kept
    rec = _run(tool, tmp_path, {"rdl_flagship": _GREEN})
    assert rec["prefix_scan"] == {
        "fp": "cur_prefix_scan", "round": 3, "seq": 7,
    }
    # green again this round -> it moves to the new round and position
    rec = _run(tool, tmp_path, {"rdl_flagship": _GREEN, "prefix_scan": _GREEN})
    assert rec["prefix_scan"] == {
        "fp": "cur_prefix_scan", "round": 17, "seq": 1,
    }


def test_correctness_file_without_round_number_is_rejected(tool, tmp_path):
    with pytest.raises(SystemExit, match="no round number"):
        _run(tool, tmp_path, {"rdl_flagship": _GREEN}, "CORRECTNESS_test.json")
    assert not os.path.exists(tool.Q._VERIFIED_HASHES_PATH)


def test_partial_green_row_does_not_restamp(tool, tmp_path):
    # hash mismatch (or schema/rows) must NOT count as verification
    rows = {"rdl_flagship": dict(_GREEN, hash_match=False)}
    rec = _run(tool, tmp_path, rows)
    assert rec["rdl_flagship"]["fp"] == "old"


def test_rows_only_restamp_requires_passing_declared_check(
    tool, tmp_path, monkeypatch
):
    rows = {"rdl_flagship": {"err": "no_oracle", "spark_rows": 10}}
    calls = []

    monkeypatch.setitem(
        tool._ROWS_ONLY_CHECKS, "rdl_flagship", ["tests/fake::node"]
    )

    # declared check fails -> kept stale
    monkeypatch.setattr(
        tool, "_rows_only_check_passes",
        lambda n: calls.append(n) or False,
    )
    rec = _run(tool, tmp_path, rows)
    assert rec["rdl_flagship"]["fp"] == "old" and calls == ["rdl_flagship"]

    # declared check passes -> re-stamped
    monkeypatch.setattr(tool, "_rows_only_check_passes", lambda n: True)
    rec = _run(tool, tmp_path, rows)
    assert rec["rdl_flagship"] == {
        "fp": "cur_rdl_flagship", "round": 17, "seq": 0,
    }


def test_rows_only_without_declared_check_stays_stale(
    tool, tmp_path, monkeypatch
):
    rows = {"rdl_flagship": {"err": "no_oracle", "spark_rows": 10}}
    monkeypatch.setattr(tool, "_ROWS_ONLY_CHECKS", {})
    rec = _run(tool, tmp_path, rows)
    assert rec["rdl_flagship"]["fp"] == "old"
