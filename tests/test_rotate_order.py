"""Rotation-tool classification tests (VERDICT r03 items 1-2).

The round driver spends a ~50-key budget in registration order, so
``tools/rotate_order.py`` decides which keys get driver rows each round.
Two hard-won rules are pinned here:

1. A ``no_oracle`` row is WEAK, not green — the run produced rows but
   nothing was hash-compared. Weak keys must front-load (their next row
   upgrades them to hash-green now that every key carries a full SQL
   oracle), never park behind verified keys in VERIFY_LAST.
2. Green sticks across rounds, but any hard failure re-promotes the key
   to the very front regardless of an older green row.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_tool():
    spec = importlib.util.spec_from_file_location(
        "rotate_order",
        os.path.join(REPO, "tools", "rotate_order.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write(tmp_path, name, rows):
    p = tmp_path / name
    p.write_text(json.dumps(rows))
    return str(p)


def test_no_oracle_rows_classify_weak_not_green(tmp_path):
    tool = _load_tool()
    f = _write(tmp_path, "r1.json", {
        "a": {"hash_match": True, "spark_rows": 5},
        "b": {"err": "no_oracle", "spark_rows": 5},
    })
    failed, weak, green, seen, _ = tool.classify([f])
    assert failed == []
    assert weak == ["b"], "no_oracle must be weak (front-loaded), not green"
    assert green == ["a"]
    assert set(seen) == {"a", "b"}


def test_weak_upgrades_to_green_on_later_hash_match(tmp_path):
    tool = _load_tool()
    f1 = _write(tmp_path, "r1.json", {
        "a": {"err": "no_oracle", "spark_rows": 5},
    })
    f2 = _write(tmp_path, "r2.json", {
        "a": {"hash_match": True, "spark_rows": 5},
    })
    failed, weak, green, _, _ = tool.classify([f1, f2])
    assert (failed, weak, green) == ([], [], ["a"])


def test_hard_failure_repromotes_even_after_green(tmp_path):
    tool = _load_tool()
    f1 = _write(tmp_path, "r1.json", {
        "a": {"hash_match": True, "spark_rows": 5},
    })
    f2 = _write(tmp_path, "r2.json", {
        "a": {"hash_match": False, "spark_rows": 5, "err": "hash_mismatch"},
    })
    failed, weak, green, _, _ = tool.classify([f1, f2])
    assert failed == ["a"], "a later hard failure must re-promote"
    assert green == []


def test_green_sticks_across_rounds(tmp_path):
    tool = _load_tool()
    f1 = _write(tmp_path, "r1.json", {
        "a": {"hash_match": True, "spark_rows": 5},
    })
    # round 2 didn't reach "a" at all (no row) — stays green
    f2 = _write(tmp_path, "r2.json", {
        "b": {"hash_match": True, "spark_rows": 1},
    })
    failed, weak, green, _, _ = tool.classify([f1, f2])
    assert sorted(green) == ["a", "b"]


def test_last_green_tracks_highest_round_order_insensitive(tmp_path):
    """The re-certification wheel's staleness signal (VERDICT r11 #1):
    ``last_green[key]`` is the HIGHEST round with a hash-green row,
    regardless of argv order, and a green in a later round refreshes a
    key's certificate even when an intermediate round skipped it."""
    tool = _load_tool()
    f1 = _write(tmp_path, "CORRECTNESS_r1.json", {
        "a": {"hash_match": True, "spark_rows": 5},
        "b": {"hash_match": True, "spark_rows": 5},
    })
    f3 = _write(tmp_path, "CORRECTNESS_r3.json", {
        "b": {"hash_match": True, "spark_rows": 5},
    })
    for order in ([f1, f3], [f3, f1]):
        _, _, green, _, last_green = tool.classify(order)
        assert sorted(green) == ["a", "b"]
        assert last_green == {"a": 1, "b": 3}, (
            f"wheel staleness must be max green round, order {order}"
        )


def test_check_mode_detects_staleness(tmp_path, monkeypatch):
    """``rotate_order.py --check`` is the round-START staleness gate: it
    exits non-zero when VERIFY_FIRST contains keys with green driver
    rows, when a registered never-verified key is unlisted, or when a
    never-green key sits in VERIFY_LAST (ADVICE r11 #2 — the same drift
    with worse placement). Driven against a monkeypatched 2-key order so
    the assertions survive routine rotations of the real _order.py."""
    tool = _load_tool()
    import dbsuite_spark
    from dbsuite_spark import _order

    monkeypatch.setattr(
        dbsuite_spark, "queries", lambda: {"k_front": 1, "k_back": 1}
    )
    green = {"hash_match": True, "spark_rows": 5}
    fail = {"hash_match": False, "spark_rows": 5, "err": "hash_mismatch"}

    # (1) green key in VERIFY_FIRST → stale
    monkeypatch.setattr(_order, "VERIFY_FIRST", ["k_front"])
    monkeypatch.setattr(_order, "VERIFY_LAST", ["k_back"])
    f = _write(tmp_path, "r1.json", {"k_front": green, "k_back": green})
    assert tool.check_front([f]) != 0

    # (2) never-green key parked in VERIFY_LAST → stale (ADVICE r11 #2)
    monkeypatch.setattr(_order, "VERIFY_FIRST", [])
    monkeypatch.setattr(_order, "VERIFY_LAST", ["k_front", "k_back"])
    f2 = _write(tmp_path, "r2.json", {"k_front": green, "k_back": fail})
    assert tool.check_front([f2]) != 0

    # (3) fresh: all-green VERIFY_LAST, empty VERIFY_FIRST
    f3 = _write(tmp_path, "r3.json", {"k_front": green, "k_back": green})
    assert tool.check_front([f3]) == 0


def test_classify_is_argv_order_insensitive(tmp_path):
    """Files are resolved oldest→newest by round NUMBER, not argv or
    lexicographic glob order (ADVICE r04): a newer failure must win over
    an older green row even when the files are passed reversed or with
    mixed zero-padding (r9 vs r10)."""
    tool = _load_tool()
    f_old = _write(tmp_path, "CORRECTNESS_r9.json", {
        "a": {"hash_match": True, "spark_rows": 5},
    })
    f_new = _write(tmp_path, "CORRECTNESS_r10.json", {
        "a": {"hash_match": False, "spark_rows": 5, "err": "hash_mismatch"},
    })
    for order in ([f_old, f_new], [f_new, f_old], sorted([f_old, f_new])):
        failed, _, green, _, _ = tool.classify(order)
        assert failed == ["a"], f"newer failure must win for input order {order}"
        assert green == []
    # and a newer green clears an older failure, again order-independently
    f3 = _write(tmp_path, "CORRECTNESS_r11.json", {
        "a": {"hash_match": True, "spark_rows": 5},
    })
    for order in ([f3, f_new, f_old], [f_old, f_new, f3]):
        failed, _, green, _, _ = tool.classify(order)
        assert (failed, green) == ([], ["a"])


def test_bare_check_defaults_to_repo_glob(monkeypatch, capsys):
    """``--check`` with no files must scan the real CORRECTNESS_r*.json
    glob instead of vacuously passing (the r04 footgun)."""
    tool = _load_tool()
    files = tool._default_files()
    assert files, "repo must contain CORRECTNESS_r*.json by round 5"
    assert all(f.endswith(".json") for f in files)
    monkeypatch.setattr(sys, "argv", ["rotate_order.py", "--check"])
    rc = tool.main()
    out = capsys.readouterr().out
    # whatever the verdict, it must have actually evaluated the repo files
    assert "rotation" in out or "STALE" in out
