"""tools/rotation.py: the driver-history reader and the weak-carrier check."""

import json
import os
import sys
from types import SimpleNamespace

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import rotation

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True}


def test_history_reads_only_strictly_named_round_files(tmp_path, monkeypatch):
    monkeypatch.setattr(rotation, "REPO", str(tmp_path))
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps({"q": GREEN}))
    # stray copies: their digits would otherwise read as rounds 12 and 13
    (tmp_path / "CORRECTNESS_r01 (2).json").write_text(json.dumps({"stray": GREEN}))
    (tmp_path / "CORRECTNESS_r1_backup3.json").write_text(json.dumps({"stray": GREEN}))
    assert rotation.load_history() == {"q": {3}}


def test_promoted_query_is_not_a_weak_carrier(tmp_path, monkeypatch):
    """``p`` was never driver-verified and its carrier ``c`` is folded out
    of the window by the same plan. ``p`` is promoted into the window, so it
    earns its own driver row: its carrier chain is not weak."""
    entry = SimpleNamespace(
        queries=lambda: {"c": None, "w": None},
        extra_queries=lambda: {"p": None},
        rotation_hints=lambda: {
            "carriers": {"p": "c"},
            "foldable": {"c": "covered elsewhere"},
        },
    )
    monkeypatch.setattr(rotation, "REPO", str(tmp_path))
    p = rotation.plan(entry)
    assert p["promote"] == ["p"] and p["fold"] == ["c"]
    assert p["new_window"] == ["p", "w"]
    assert p["weak_carriers"] == {}
