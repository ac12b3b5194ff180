"""Guards for the rotation tooling (VERDICT r06 ask #1): the staleness
check must catch a green key sitting in VERIFY_FIRST, and the state
classifier must resolve multi-round histories the way the driver does."""

from __future__ import annotations

import json
import os

import tools.rotate_order as rot

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write(tmp_path, name, rows):
    p = tmp_path / name
    p.write_text(json.dumps(rows))
    return str(p)


def test_classify_green_sticks_and_failure_repromotes(tmp_path):
    r1 = _write(
        tmp_path,
        "CORRECTNESS_r01.json",
        {
            "a": {"hash_match": True},
            "b": {"err": "no_oracle", "spark_rows": 5},
            "c": {"hash_match": False, "err": "boom"},
        },
    )
    r2 = _write(
        tmp_path,
        "CORRECTNESS_r02.json",
        {
            "b": {"hash_match": True},   # weak upgrades to green
            "a": {"hash_match": False},  # hard failure re-promotes green
        },
    )
    failed, weak, green, seen, last_green = rot.classify([r1, r2])
    assert set(green) == {"b"}
    assert set(failed) == {"a", "c"}
    assert not weak
    assert set(seen) == {"a", "b", "c"}
    # staleness signal: a's r1 green is recorded even though a later
    # failure re-promoted it; b's certificate dates to r2
    assert last_green == {"a": 1, "b": 2}


def test_classify_orders_files_by_round_number(tmp_path):
    # File handed in newest-first must still resolve r2 AFTER r1.
    r1 = _write(
        tmp_path, "CORRECTNESS_r01.json", {"k": {"hash_match": False}}
    )
    r2 = _write(
        tmp_path, "CORRECTNESS_r02.json", {"k": {"hash_match": True}}
    )
    _, _, green, _, _ = rot.classify([r2, r1])
    assert green == ["k"]


def test_check_front_flags_green_key_in_verify_first(tmp_path, monkeypatch):
    """Driven against a monkeypatched 1-key order: the committed
    VERIFY_FIRST is empty once every key is driver-certified (round 11),
    so probing the real front block would IndexError."""
    import dbsuite_spark
    from dbsuite_spark import _order

    monkeypatch.setattr(dbsuite_spark, "queries", lambda: {"front_key": 1})
    monkeypatch.setattr(_order, "VERIFY_FIRST", ["front_key"])
    monkeypatch.setattr(_order, "VERIFY_LAST", [])
    stale = _write(
        tmp_path, "CORRECTNESS_r09.json", {"front_key": {"hash_match": True}}
    )
    assert rot.check_front([stale]) == 1
    fresh = _write(
        tmp_path,
        "CORRECTNESS_r08.json",
        {"front_key": {"hash_match": False, "err": "x"}},
    )
    assert rot.check_front([fresh]) == 0


def test_repo_rotation_is_fresh_at_head():
    """The committed _order.py must never contain a key the COMMITTED
    CORRECTNESS files already prove green.

    VERDICT r08 ask #1: scope to ``git ls-files`` — the driver drops
    its round-N artifacts next to a HEAD that predates them, and an
    untracked file reddening every certified HEAD is structural noise,
    not a defect.  ``tools/driver_sim.py`` still aborts on the full
    on-disk set, so a genuinely stale rotation cannot reach a new
    certification run."""
    import subprocess

    out = subprocess.run(
        ["git", "ls-files", "CORRECTNESS_r*.json"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    files = [os.path.join(REPO, p) for p in out]
    assert files, "no committed CORRECTNESS files found"
    assert rot.check_front(files) == 0


def test_round_key_lists_are_registered():
    """Every key in the canonical per-round lists (dbsuite_spark._rounds)
    must exist in the registry: rotate_order's PRIORITY silently ignores
    unknown names, so a typo here would silently drop a new key from the
    front of the driver's verification budget."""
    import dbsuite_spark
    from dbsuite_spark import _rounds

    registered = set(dbsuite_spark.queries())
    for name in (
        "ROUND10_LAKEHOUSE",
        "ROUND10_CONTINUATION",
        "ROUND11_KEYS",
        "ROUND12_KEYS",
    ):
        keys = getattr(_rounds, name)
        unknown = [k for k in keys if k not in registered]
        assert not unknown, f"{name} has unregistered keys: {unknown}"
        assert len(keys) == len(set(keys)), f"{name} has duplicates"
