"""Regression laws for the four ADVICE r12 findings — all members of
the same expiry-TOCTOU class round 12 hardened elsewhere:

1. a claim LOSER whose winner's commit record vanishes (expired or
   relocated) between the failed link and the look-at-the-winner load
   must re-resolve against checkpoint + surviving log, never crash;
2. ``mlog_expire_checkpointed`` racing another expirer (or a
   committer's relocation) over the same record must suppress the
   missing-file and count only its own removals;
3. an incremental consumer whose UNREAD range was checkpointed and
   expired must get the offset-out-of-range error even when the
   surviving log tail is EMPTY — never a silent "caught up";
4. ``mlog_read_pruned`` treats a commit doc without stats as
   unprunable (always scanned) and shares the siblings' gap-checked
   resolution, instead of KeyError / silently partial tables.
"""

from __future__ import annotations

import glob
import os

import pytest

from dbsuite_spark.etl import tablelog


def _mk_batch(spark, n0: int, n1: int):
    return spark.range(n0, n1).selectExpr(
        "id AS event_id",
        "id % 7 AS user_id",
        "CAST(id AS DOUBLE) AS value",
    )


def _mk_orders(spark, lo: int, hi: int):
    return spark.range(lo, hi).selectExpr(
        "id AS o_orderkey", "CAST(id AS DOUBLE) AS o_totalprice"
    )


# --- ADVICE r12 #1: loser's look-at-the-winner load races expiry ------------


def _vanishing_load(monkeypatch, victim_suffix: str):
    """Patch tablelog.read_json so the FIRST load of the record whose
    path ends with ``victim_suffix`` deletes it out-of-band first — the
    deterministic re-creation of a concurrent expirer (or the winner's
    own relocation) claiming the record between the loser's failed
    os.link and its read_json."""
    real = tablelog.read_json
    state = {"fired": False}

    def load(path):
        if path.endswith(victim_suffix) and not state["fired"]:
            state["fired"] = True
            os.remove(path)
        return real(path)

    monkeypatch.setattr(tablelog, "read_json", load)
    return state


def test_claim_loser_skips_when_vanished_winner_was_its_own_batch(
    spark, tmp_path, monkeypatch
):
    """Same-batch replay loses the link race, the winning record is
    expired before the loser can read it: the batch IS folded in the
    newest checkpoint, so the loser must resolve to 'skipped' — a
    'lost' here would double-commit the batch at the next version."""
    from dbsuite_spark.etl.tablelog import mlog_checkpoint

    table = str(tmp_path / "tbl")
    assert (
        tablelog.msink_commit_batch(table, _mk_batch(spark, 0, 10), 7)
        == "committed"
    )
    mlog_checkpoint(table)  # batch 7 now folded — expiry-eligible

    state = _vanishing_load(monkeypatch, "commit-00000.json")
    out = tablelog._try_claim_version(
        table, 0, {"batch_id": 7, "group": "unused"}, 7
    )
    assert state["fired"], "the race window was never exercised"
    assert out == "skipped"
    # the vanish consumed the record; the checkpoint still covers it
    assert glob.glob(os.path.join(table, "commit-*.json")) == []


def test_claim_loser_loses_when_vanished_winner_was_foreign(
    spark, tmp_path, monkeypatch
):
    """Foreign-batch variant: the vanished winner belonged to batch 7,
    the claimant is batch 99 (nowhere in checkpoint or log) — the claim
    resolves to 'lost' so the caller re-claims a higher slot."""
    from dbsuite_spark.etl.tablelog import mlog_checkpoint

    table = str(tmp_path / "tbl")
    tablelog.msink_commit_batch(table, _mk_batch(spark, 0, 10), 7)
    mlog_checkpoint(table)

    state = _vanishing_load(monkeypatch, "commit-00000.json")
    out = tablelog._try_claim_version(
        table, 0, {"batch_id": 99, "group": "unused"}, 99
    )
    assert state["fired"]
    assert out == "lost"


def test_claim_loser_skips_when_vanished_winner_relocated(
    spark, tmp_path, monkeypatch
):
    """Relocation variant: the winner's record vanished but the SAME
    batch survives at a HIGHER version in the log (what
    msink_commit_batch's post-link relocation produces) — the loser
    must find it in the surviving-log scan and skip."""
    table = str(tmp_path / "tbl")
    tablelog.msink_commit_batch(table, _mk_batch(spark, 0, 10), 7)
    tablelog.msink_commit_batch(table, _mk_batch(spark, 10, 20), 8)
    # hand-relocate batch 7's record from version 0 to version 2
    os.rename(
        os.path.join(table, "commit-00000.json"),
        os.path.join(table, "commit-00002.json"),
    )
    # recreate a stale version-0 record so the claimant's link fails,
    # then let it vanish under the load (the relocator's own unlink)
    import json

    with open(os.path.join(table, "commit-00000.json"), "w") as fh:
        json.dump({"batch_id": 7, "group": "stale"}, fh)
    state = _vanishing_load(monkeypatch, "commit-00000.json")
    out = tablelog._try_claim_version(
        table, 0, {"batch_id": 7, "group": "unused"}, 7
    )
    assert state["fired"]
    assert out == "skipped"


# --- ADVICE r12 #2: concurrent expirers over the same record ----------------


def test_expire_suppresses_concurrently_vanished_records(
    spark, tmp_path, monkeypatch
):
    """An expirer whose listing includes a record another expirer (or a
    relocating committer) removes first must skip it and count only its
    own removals — previously an unguarded os.remove crashed with
    FileNotFoundError, a window the true-concurrency stress's expirer
    (which catches only RuntimeError) would have failed on."""
    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_expire_checkpointed,
        mlog_read_checkpointed,
    )

    table = str(tmp_path / "tbl")
    for i in range(3):
        tablelog.msink_commit_batch(
            table, _mk_batch(spark, i * 10, i * 10 + 10), i
        )
    mlog_checkpoint(table)  # k=2: all three records expiry-eligible

    real_list = tablelog._log_commits
    state = {"raced": False}

    def list_then_racer_steals_one(table_dir):
        out = real_list(table_dir)
        if out and not state["raced"]:
            state["raced"] = True
            os.remove(out[0])  # the concurrent expirer wins record 0
        return out

    monkeypatch.setattr(tablelog, "_log_commits", list_then_racer_steals_one)
    assert mlog_expire_checkpointed(table) == 2  # ours, not the stolen one
    assert state["raced"]
    monkeypatch.undo()
    assert tablelog._log_commits(table) == []
    df, n_cp, n_tail = mlog_read_checkpointed(spark, table)
    assert (n_cp, n_tail) == (3, 0)
    assert df.count() == 30


# --- ADVICE r12 #3: lagging consumer with an EMPTY surviving tail -----------


def test_poll_lagging_consumer_errors_even_on_empty_tail(spark, tmp_path):
    """After checkpoint+expire leaves the log empty, a poll at an
    offset BELOW the checkpoint must raise offset-out-of-range (its
    unread commits were folded away) — not return the caught-up None.
    A consumer exactly at checkpoint+1 is genuinely caught up."""
    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_expire_checkpointed,
        mlog_poll,
    )

    table = str(tmp_path / "tbl")
    for i in range(3):
        tablelog.msink_commit_batch(
            table, _mk_batch(spark, i * 10, i * 10 + 10), i
        )
    mlog_checkpoint(table)  # k=2
    assert mlog_expire_checkpointed(table) == 3

    for lagging in (0, 1, 2):
        with pytest.raises(RuntimeError, match="out of range"):
            mlog_poll(spark, table, lagging)
    assert mlog_poll(spark, table, 3) == (None, 0, 3)

    # the log coming back to life changes nothing for the laggard
    tablelog.msink_commit_batch(table, _mk_batch(spark, 30, 40), 3)
    with pytest.raises(RuntimeError, match="out of range"):
        mlog_poll(spark, table, 1)
    df, n_new, offset = mlog_poll(spark, table, 3)
    assert (n_new, offset) == (1, 4)
    assert df.count() == 10


# --- ADVICE r12 #4: pruned read — stats-less docs + shared resolution -------


def test_pruned_read_treats_missing_stats_as_unprunable(spark, tmp_path):
    """A commit without stats can never be pruned — it is scanned for
    EVERY probe range (absent metadata can't justify skipping data),
    and it must not KeyError the planner. Verified live, after a
    checkpoint (stats-less docs fold verbatim), and after expiry."""
    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_expire_checkpointed,
        mlog_read_pruned,
    )

    table = str(tmp_path / "tbl")
    for i, stats in ((0, True), (1, True), (2, False)):
        tablelog.msink_commit_batch(
            table,
            _mk_orders(spark, i * 10, i * 10 + 10),
            i,
            stats=(
                {"min_key": i * 10, "max_key": i * 10 + 9} if stats else None
            ),
        )

    def probe():
        # [0,5] overlaps group 0's stats; group 1 prunes; group 2 has
        # no stats → scanned unconditionally
        df, n = mlog_read_pruned(spark, table, 0, 5)
        assert n == 2
        assert sorted(r["o_orderkey"] for r in df.collect()) == list(
            range(6)
        )
        # a probe above every stats range still scans the blind group
        df_hi, n_hi = mlog_read_pruned(spark, table, 100, 200)
        assert n_hi == 1
        assert df_hi.count() == 0

    probe()
    mlog_checkpoint(table)
    probe()
    assert mlog_expire_checkpointed(table) == 3
    probe()


# --- VERDICT r12 ask #4: multi-column stats pruning laws --------------------


def test_pruned_cols_equals_unpruned_filter_two_columns(spark, sf_dir):
    """Conjunctive multi-column pruning is an OPTIMIZATION, never a
    semantics change: for a battery of (key, date) predicate specs —
    including one-column specs, empty probes, and ranges straddling the
    date-class split — the pruned read is row-identical to filtering
    the full checkpointed fold, and groups-scanned never exceeds the
    total."""
    from pyspark.sql import functions as F

    import dbsuite_spark
    from dbsuite_spark.etl.tablelog import (
        mlog_read_checkpointed,
        mlog_read_pruned_cols,
    )
    from dbsuite_spark.etl.io import artifact_path

    specs = dbsuite_spark.all_specs()
    specs["etl_manifest_ckpt_stats_multi"].fn(spark, sf_dir).collect()
    table = artifact_path(sf_dir, "ckpt_stats_multi_table")
    full, _, _ = mlog_read_checkpointed(spark, table)
    max_key = full.agg(F.max("o_orderkey")).first()[0]
    w = max_key // 4 + 1
    for pred in (
        {"o_orderkey": (0, max_key)},
        {"o_orderkey": (w // 2, 2 * w + w // 2)},  # straddles slices
        {"o_orderdate": ("1996-01-01 00:00:00", "1999-01-01 00:00:00")},
        {
            "o_orderkey": (w, 3 * w - 1),
            "o_orderdate": ("1995-01-01 00:00:00", "1996-06-01 00:00:00"),
        },
        {
            "o_orderkey": (0, w - 1),
            "o_orderdate": ("2050-01-01 00:00:00", "2060-01-01 00:00:00"),
        },  # date range above all stats: all-pruned
        {"o_orderkey": (max_key + 10, max_key + 20)},  # key all-pruned
    ):
        pruned, n_groups = mlog_read_pruned_cols(spark, table, pred)
        want = full
        for col, (lo, hi) in pred.items():
            dt = full.schema[col].dataType
            want = want.filter(
                F.col(col).between(F.lit(lo).cast(dt), F.lit(hi).cast(dt))
            )
        want_keys = sorted(r["o_orderkey"] for r in want.collect())
        got_keys = sorted(r["o_orderkey"] for r in pruned.collect())
        assert got_keys == want_keys, f"spec {pred}"
        assert 0 <= n_groups <= 8
        if not want_keys:
            assert n_groups == 0, f"spec {pred} scanned groups for nothing"


# --- VERDICT r12 ask #2: change-feed tail laws -------------------------------


def test_tail_fresh_consumer_behind_retention_errors(spark, tmp_path):
    """A NEW tail consumer starting at offset 0 after the upstream
    prefix was checkpointed and expired must get the honest
    offset-out-of-range error — never silently start from a partial
    view; a consumer whose cursor is past the checkpoint keeps tailing."""
    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_expire_checkpointed,
    )
    from dbsuite_spark.streaming.streams import (
        _tail_cursor,
        mlog_tail_once,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    cur = str(tmp_path / "consumer")
    for i in range(3):
        tablelog.msink_commit_batch(
            src, _mk_batch(spark, i * 10, i * 10 + 10), i
        )
    assert mlog_tail_once(spark, src, dst, cur) == 3
    mlog_checkpoint(src)
    assert mlog_expire_checkpointed(src) == 3

    fresh = str(tmp_path / "fresh_consumer")
    with pytest.raises(RuntimeError, match="out of range"):
        mlog_tail_once(spark, src, dst, fresh)

    # the caught-up consumer tails on across the expiry
    assert mlog_tail_once(spark, src, dst, cur) == 0
    tablelog.msink_commit_batch(src, _mk_batch(spark, 30, 40), 3)
    assert mlog_tail_once(spark, src, dst, cur) == 1
    assert _tail_cursor(cur) == 4


def test_tail_outrun_by_retention_mid_walk_is_honest_error(
    spark, tmp_path, monkeypatch
):
    """A version the poll listed but expiry removed before its
    per-version read is a retention error (the Kafka consumer-outrun
    contract) — never a silently skipped version — and the cursor does
    not advance past the loss."""
    from dbsuite_spark.streaming.streams import (
        _tail_cursor,
        mlog_tail_once,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    cur = str(tmp_path / "consumer")
    for i in range(2):
        tablelog.msink_commit_batch(
            src, _mk_batch(spark, i * 10, i * 10 + 10), i
        )

    real = tablelog.read_json
    state = {"n": 0}

    def second_access_vanishes(path):
        if path.endswith(os.path.join(src, "commit-00000.json")):
            state["n"] += 1
            if state["n"] == 2:  # poll saw it; the walk finds it gone
                os.remove(path)
        return real(path)

    monkeypatch.setattr(tablelog, "read_json", second_access_vanishes)
    with pytest.raises(RuntimeError, match="outrun by retention"):
        mlog_tail_once(spark, src, dst, cur)
    assert state["n"] == 2
    assert _tail_cursor(cur) == 0, "cursor advanced past a lost version"


def test_tail_redundant_consumers_stay_exactly_once(spark, tmp_path):
    """Two redundant tail consumers (the failover pattern: separate
    cursors, same downstream) each walk every upstream version, but the
    downstream's per-version dedup keeps delivery exactly-once — the
    final fold equals the upstream content with no doubled version."""
    from dbsuite_spark.streaming.streams import mlog_tail_once

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    for i in range(4):
        tablelog.msink_commit_batch(
            src, _mk_batch(spark, i * 10, i * 10 + 10), i
        )
    assert (
        mlog_tail_once(spark, src, dst, str(tmp_path / "consumer_a")) == 4
    )
    assert (
        mlog_tail_once(spark, src, dst, str(tmp_path / "consumer_b")) == 4
    )
    assert len(glob.glob(os.path.join(dst, "commit-*.json"))) == 4
    got = sorted(
        r["event_id"]
        for r in tablelog.msink_read(spark, dst).collect()
    )
    assert got == list(range(40))


# --- VERDICT r12 ask #3: the DV log is checkpointable + expirable -----------


def test_sdv_read_identical_across_dv_log_checkpoint_and_expiry(
    spark, tmp_path
):
    """A long-running delete stream's DV log must stay BOUNDED: the MOR
    read is row-identical before a DV-log checkpoint, after it, and
    after the folded commit prefix is expired — and deletes committed
    AFTER expiry keep composing. The old dense-log read path refused an
    expired log; the old commit-glob liveness test was worse — with the
    commit listing empty it read the base VERBATIM, resurrecting every
    deleted row."""
    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_expire_checkpointed,
    )
    from dbsuite_spark.streaming.streams import sdv_read_state

    base_dir = str(tmp_path / "base")
    dv_log = str(tmp_path / "dvlog")
    _mk_orders(spark, 0, 100).write.parquet(base_dir)
    for i in range(3):  # delete keys % 10 == i, one DV commit each
        dv = spark.range(i, 100, 10).selectExpr("id AS o_orderkey")
        assert (
            tablelog.msink_commit_batch(dv_log, dv, i) == "committed"
        )

    def keys():
        return sorted(
            r["o_orderkey"]
            for r in sdv_read_state(spark, base_dir, dv_log).collect()
        )

    want = [k for k in range(100) if k % 10 > 2]
    assert keys() == want
    mlog_checkpoint(dv_log)
    assert keys() == want
    assert mlog_expire_checkpointed(dv_log) == 3
    assert glob.glob(os.path.join(dv_log, "commit-*.json")) == []
    assert keys() == want, "expiry resurrected deleted rows"

    # post-expiry deletes keep composing through the checkpointed read
    dv = spark.range(3, 100, 10).selectExpr("id AS o_orderkey")
    assert tablelog.msink_commit_batch(dv_log, dv, 3) == "committed"
    assert tablelog.msink_commit_batch(dv_log, dv, 3) == "skipped"
    assert keys() == [k for k in range(100) if k % 10 > 3]


def test_pruned_read_refuses_uncovered_gap(spark, tmp_path):
    """The pruned read shares its siblings' gap-checked resolution: an
    expired commit with no covering checkpoint is an honest error,
    never a silently partial (and silently mis-pruned) table."""
    from dbsuite_spark.etl.tablelog import mlog_read_pruned

    table = str(tmp_path / "tbl")
    for i in range(3):
        tablelog.msink_commit_batch(
            table,
            _mk_orders(spark, i * 10, i * 10 + 10),
            i,
            stats={"min_key": i * 10, "max_key": i * 10 + 9},
        )
    os.remove(os.path.join(table, "commit-00001.json"))  # uncovered gap
    with pytest.raises(RuntimeError, match="gaps"):
        mlog_read_pruned(spark, table, 0, 100)


# --- round-13 OPTIMIZE: transactional compaction laws -----------------------


def _fold_keys(spark, df):
    return sorted(r["event_id"] for r in df.collect())


def test_compact_preserves_every_reader_and_history(spark, tmp_path):
    """Compaction moves data, never semantics: after OPTIMIZE every
    reader (dense, checkpointed, stats-pruned) returns the identical
    rows from ONE live group; an as-of pin BEFORE the compaction still
    folds the originals; appends compose afterward without rewrites;
    and a second compaction folds (compacted + appends) again."""
    from dbsuite_spark.etl.tablelog import (
        mlog_compact,
        mlog_read_asof,
        mlog_read_checkpointed,
        mlog_read_pruned_cols,
    )

    table = str(tmp_path / "tbl")
    for i in range(4):
        tablelog.msink_commit_batch(
            table, _mk_batch(spark, i * 10, i * 10 + 10), i
        )
    want = list(range(40))
    assert mlog_compact(spark, table) == 4

    assert _fold_keys(spark, tablelog.msink_read(spark, table)) == want
    df, _, _ = mlog_read_checkpointed(spark, table)
    assert _fold_keys(spark, df) == want
    pruned, n_live = mlog_read_pruned_cols(
        spark, table, {"event_id": (0, 1 << 62)}
    )
    assert n_live == 1, "compaction must leave ONE live group"
    assert _fold_keys(spark, pruned) == want

    # history: the pre-compaction pin folds the 4 ORIGINAL groups
    asof_df, _, n_tail = mlog_read_asof(spark, table, 3)
    assert n_tail == 4
    assert _fold_keys(spark, asof_df) == want
    # the compaction version itself reads identically (the swap point)
    asof_df2, _, _ = mlog_read_asof(spark, table, 4)
    assert _fold_keys(spark, asof_df2) == want

    # appends compose; a second OPTIMIZE folds compacted + appends
    tablelog.msink_commit_batch(table, _mk_batch(spark, 40, 50), 4)
    _, n_live = mlog_read_pruned_cols(
        spark, table, {"event_id": (0, 1 << 62)}
    )
    assert n_live == 2
    assert mlog_compact(spark, table) == 2
    pruned, n_live = mlog_read_pruned_cols(
        spark, table, {"event_id": (0, 1 << 62)}
    )
    assert n_live == 1
    assert _fold_keys(spark, pruned) == list(range(50))


def test_racing_compactions_resolve_deterministically(spark, tmp_path):
    """Two compactions racing over the same targets both commit, but
    read-time resolution voids the HIGHER version (its group duplicates
    data the earlier one superseded) — the fold never double-counts,
    with no write-side coordination."""
    from dbsuite_spark.etl.tablelog import (
        _live_docs,
        mlog_compact,
    )

    table = str(tmp_path / "tbl")
    for i in range(3):
        tablelog.msink_commit_batch(
            table, _mk_batch(spark, i * 10, i * 10 + 10), i
        )
    snapshot = tablelog.msink_read(spark, table)  # both racers fold this
    assert mlog_compact(spark, table) == 3  # winner at version 3
    # the losing racer, which resolved the SAME targets before the
    # winner landed, now publishes its own duplicate rewrite
    assert (
        tablelog.msink_commit_batch(
            table,
            snapshot,
            "compact-loser",
            extra_doc={"replaces": [0, 1, 2], "data_change": False},
        )
        == "committed"
    )
    assert _fold_keys(spark, tablelog.msink_read(spark, table)) == list(
        range(30)
    ), "racing compactions double-counted the fold"
    docs = [
        {"version": tablelog._commit_version(c), **tablelog.read_json(c)}
        for c in tablelog._log_commits(table)
    ]
    live = _live_docs(docs)
    assert [d["version"] for d in live] == [3], "loser must be void"


def test_change_feed_skips_compaction_rewrites(spark, tmp_path):
    """A data_change=false commit is never re-delivered: a caught-up
    tail advances its cursor past the compaction without a downstream
    commit, a poll reports it as zero new data, and a post-compaction
    append flows through normally — downstream stays exactly-once."""
    from dbsuite_spark.etl.tablelog import mlog_compact, mlog_poll
    from dbsuite_spark.streaming.streams import (
        _tail_cursor,
        mlog_tail_once,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    cur = str(tmp_path / "consumer")
    for i in range(3):
        tablelog.msink_commit_batch(
            src, _mk_batch(spark, i * 10, i * 10 + 10), i
        )
    assert mlog_tail_once(spark, src, dst, cur) == 3
    assert mlog_compact(spark, src) == 3  # version 3, dataChange=false

    df, n_new, new_offset = mlog_poll(spark, src, 3)
    assert (df, n_new, new_offset) == (None, 0, 4)
    assert mlog_tail_once(spark, src, dst, cur) == 0
    assert _tail_cursor(cur) == 4, "cursor must advance past OPTIMIZE"
    assert len(glob.glob(os.path.join(dst, "commit-*.json"))) == 3

    tablelog.msink_commit_batch(src, _mk_batch(spark, 30, 40), 3)
    assert mlog_tail_once(spark, src, dst, cur) == 1
    got = _fold_keys(spark, tablelog.msink_read(spark, dst))
    assert got == list(range(40)), "feed lost or doubled rows"


def test_compact_then_checkpoint_expire_reads_identical(spark, tmp_path):
    """OPTIMIZE composes with checkpoint+expiry: after the compacted
    log's prefix expires, the checkpointed read is row-identical (the
    checkpoint carries the replaces-resolution inputs verbatim), while
    pins into the expired pre-compaction history raise the honest
    reconstruction error."""
    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_compact,
        mlog_expire_checkpointed,
        mlog_read_asof,
        mlog_read_checkpointed,
    )

    table = str(tmp_path / "tbl")
    for i in range(4):
        tablelog.msink_commit_batch(
            table, _mk_batch(spark, i * 10, i * 10 + 10), i
        )
    assert mlog_compact(spark, table) == 4
    mlog_checkpoint(table)  # k=4: folds originals + the compaction doc
    assert mlog_expire_checkpointed(table) == 5
    df, _, _ = mlog_read_checkpointed(spark, table)
    assert _fold_keys(spark, df) == list(range(40))
    with pytest.raises(RuntimeError, match="no longer reconstructable"):
        mlog_read_asof(spark, table, 2)
    # the checkpoint-covered head still time-travels
    asof_df, _, _ = mlog_read_asof(spark, table, 4)
    assert _fold_keys(spark, asof_df) == list(range(40))


def test_compaction_merges_stats_and_keeps_pruning(spark, tmp_path):
    """The compacted group's stats are the interval-union of its
    targets' per-column stats, so data skipping keeps working across
    OPTIMIZE: a probe beyond the compacted interval scans only the
    post-compaction append; a target WITHOUT stats poisons the merge
    (the compacted doc carries none — unprunable, never mis-pruned)."""
    from dbsuite_spark.etl.tablelog import (
        mlog_compact,
        mlog_read_pruned_cols,
    )

    def orders_slice(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS o_orderkey", "CAST(id AS DOUBLE) AS o_totalprice"
        )

    table = str(tmp_path / "tbl")
    for i in range(2):
        tablelog.msink_commit_batch(
            table,
            orders_slice(i * 10, i * 10 + 10),
            i,
            stats={"o_orderkey": {"min": i * 10, "max": i * 10 + 9}},
        )
    assert mlog_compact(spark, table) == 2
    tablelog.msink_commit_batch(
        table,
        orders_slice(100, 110),
        2,
        stats={"o_orderkey": {"min": 100, "max": 109}},
    )
    # probe inside the appended range: the compacted group (merged
    # interval [0,19]) must PRUNE
    df, n = mlog_read_pruned_cols(spark, table, {"o_orderkey": (100, 105)})
    assert n == 1
    assert sorted(r["o_orderkey"] for r in df.collect()) == list(
        range(100, 106)
    )
    # probe inside the compacted interval: scans the compacted group
    df, n = mlog_read_pruned_cols(spark, table, {"o_orderkey": (5, 15)})
    assert n == 1
    assert sorted(r["o_orderkey"] for r in df.collect()) == list(
        range(5, 16)
    )

    # stats-less target → merge yields no stats → unprunable compacted
    table2 = str(tmp_path / "tbl2")
    tablelog.msink_commit_batch(
        table2,
        orders_slice(0, 10),
        0,
        stats={"o_orderkey": {"min": 0, "max": 9}},
    )
    tablelog.msink_commit_batch(table2, orders_slice(10, 20), 1)  # no stats
    assert mlog_compact(spark, table2) == 2
    df, n = mlog_read_pruned_cols(
        spark, table2, {"o_orderkey": (1000, 2000)}
    )
    assert n == 1, "a stats-less merge must stay scanned, never pruned"
    assert df.count() == 0


# --- round-13 VACUUM laws ----------------------------------------------------


def test_vacuum_never_deletes_pinnable_history(spark, tmp_path):
    """Before expiry, replaced groups are PINNABLE history (their
    records survive, so pre-compaction pins fold them) — vacuum must
    keep every one; after checkpoint+expire removes the records, the
    same groups are unreachable and vacuum reclaims them, with the head
    read byte-stable throughout."""
    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_compact,
        mlog_expire_checkpointed,
        mlog_read_asof,
        mlog_read_checkpointed,
        mlog_vacuum,
    )

    table = str(tmp_path / "tbl")
    for i in range(3):
        tablelog.msink_commit_batch(
            table, _mk_batch(spark, i * 10, i * 10 + 10), i
        )
    assert mlog_compact(spark, table) == 3
    assert mlog_vacuum(table) == (0, 4), (
        "pre-expiry vacuum must keep replaced-but-pinnable groups"
    )
    asof_df, _, _ = mlog_read_asof(spark, table, 1)
    assert _fold_keys(spark, asof_df) == list(range(20))

    mlog_checkpoint(table)
    assert mlog_expire_checkpointed(table) == 4
    assert mlog_vacuum(table) == (3, 1)
    df, _, _ = mlog_read_checkpointed(spark, table)
    assert _fold_keys(spark, df) == list(range(30))
    with pytest.raises(RuntimeError, match="no longer reconstructable"):
        mlog_read_asof(spark, table, 1)
    assert mlog_vacuum(table) == (0, 1)  # idempotent


def test_vacuum_retention_guard_keeps_young_dirs(spark, tmp_path):
    """The retention threshold protects in-flight writers: an
    uncommitted group younger than min_age_s survives the vacuum (it is
    indistinguishable from a write racing toward its commit link); with
    the guard at 0 — an explicit maintenance window — it is reclaimed."""
    from dbsuite_spark.etl.tablelog import (
        _attempt_path,
        mlog_vacuum,
    )

    table = str(tmp_path / "tbl")
    tablelog.msink_commit_batch(table, _mk_batch(spark, 0, 10), 0)
    orphan = _attempt_path(table, "group", 42)
    _mk_batch(spark, 90, 95).write.parquet(orphan)

    assert mlog_vacuum(table, min_age_s=3600) == (0, 2)
    assert os.path.isdir(orphan)
    assert mlog_vacuum(table, min_age_s=0) == (1, 1)
    assert not os.path.isdir(orphan)
    assert _fold_keys(spark, tablelog.msink_read(spark, table)) == list(
        range(10)
    )


def test_commit_compact_vacuum_read_true_concurrency(spark, tmp_path):
    """TRUE-CONCURRENCY smoke over the round-13 ops: 3 committer
    threads (12 distinct batches), a compactor loop (OPTIMIZE), a
    checkpointer, an expirer, a vacuumer (retention 60 s — the
    documented deployment setting: retention must exceed the longest
    write, exactly like Delta VACUUM; a retention-0 vacuum racing live
    writers IS unsafe by design and the first version of this stress
    proved it by deleting an in-flight writer's dir mid-write), and
    reader loops all race on one table. Invariants: nothing raises,
    every mid-flight read is prefix-consistent with COMPLETE batches
    (atomic commits + snapshot-isolated compaction — a reader never
    sees a half-replaced fold), and the final fold equals the union of
    all 12 batches exactly once regardless of how many compactions,
    expiries, and vacuums interleaved. The vacuum DELETE path is then
    exercised post-race: a final checkpoint+expire+vacuum must reclaim
    every replaced/void group while the fold stays byte-identical."""
    import threading
    import time

    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_compact,
        mlog_expire_checkpointed,
        mlog_read_checkpointed,
        mlog_vacuum,
    )

    table = str(tmp_path / "tbl")
    tablelog.msink_commit_batch(table, _mk_batch(spark, 0, 10), 0)
    errors: list[Exception] = []
    done = threading.Event()

    def committer(ids):
        try:
            for b in ids:
                tablelog.msink_commit_batch(
                    table, _mk_batch(spark, b * 10, b * 10 + 10), b
                )
        except Exception as exc:
            errors.append(exc)

    def compactor():
        try:
            while not done.is_set():
                mlog_compact(spark, table)
                time.sleep(0.1)
        except Exception as exc:
            errors.append(exc)

    def checkpointer():
        try:
            while not done.is_set():
                mlog_checkpoint(table)
                time.sleep(0.05)
        except Exception as exc:
            errors.append(exc)

    def expirer():
        try:
            while not done.is_set():
                try:
                    mlog_expire_checkpointed(table)
                except RuntimeError:
                    pass  # no checkpoint yet: the documented refusal
                time.sleep(0.07)
        except Exception as exc:
            errors.append(exc)

    def vacuumer():
        try:
            while not done.is_set():
                mlog_vacuum(table, min_age_s=60)
                time.sleep(0.09)
        except Exception as exc:
            errors.append(exc)

    def reader():
        try:
            while not done.is_set():
                df, _, _ = mlog_read_checkpointed(spark, table)
                got = sorted(r["event_id"] for r in df.collect())
                assert len(got) % 10 == 0 and len(set(got)) == len(got)
                for i in range(0, len(got), 10):
                    lo = got[i]
                    assert got[i : i + 10] == list(range(lo, lo + 10)), (
                        f"torn batch in mid-flight read: {got[i:i+10]}"
                    )
        except Exception as exc:
            errors.append(exc)

    commit_threads = [
        threading.Thread(target=committer, args=(range(lo, lo + 4),))
        for lo in (1, 5, 9)
    ]
    aux = [
        threading.Thread(target=compactor),
        threading.Thread(target=checkpointer),
        threading.Thread(target=expirer),
        threading.Thread(target=vacuumer),
        threading.Thread(target=reader),
        threading.Thread(target=reader),
    ]
    for th in aux + commit_threads:
        th.start()
    for th in commit_threads:
        th.join()
    done.set()
    for th in aux:
        th.join()

    assert not errors, errors
    mlog_checkpoint(table)
    df, _, _ = mlog_read_checkpointed(spark, table)
    got = sorted(r["event_id"] for r in df.collect())
    assert got == list(range(130)), "lost or doubled a batch under race"

    # post-race delete path: with writers quiesced, one more batch +
    # OPTIMIZE + checkpoint + expire makes the previous live set dead
    # deterministically (its records all expire); vacuum must reclaim
    # it while the fold stays byte-stable
    from dbsuite_spark.etl.tablelog import mlog_expire_old_checkpoints

    tablelog.msink_commit_batch(table, _mk_batch(spark, 130, 140), 13)
    assert mlog_compact(spark, table) >= 2
    mlog_checkpoint(table)
    assert mlog_expire_checkpointed(table) >= 1
    mlog_expire_old_checkpoints(table)  # retire historical pins
    n_deleted, n_kept = mlog_vacuum(table, min_age_s=0)
    assert n_kept >= 1
    assert n_deleted >= 2, "the compacted-away groups must be reclaimed"
    df2, _, _ = mlog_read_checkpointed(spark, table)
    assert sorted(r["event_id"] for r in df2.collect()) == list(range(140))
    assert mlog_vacuum(table, min_age_s=0) == (0, n_kept)


def test_checkpoint_retention_retires_historical_pins(spark, tmp_path):
    """Checkpoint retention removes every checkpoint below the newest:
    head reads are byte-stable (resolution always took the newest), an
    as-of pin at a RETIRED checkpoint version — reconstructable before
    retention even with all records expired — afterwards raises the
    honest reconstruction error, and vacuum can then reclaim groups
    that were live only at the retired pins."""
    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_compact,
        mlog_expire_checkpointed,
        mlog_expire_old_checkpoints,
        mlog_read_asof,
        mlog_read_checkpointed,
        mlog_vacuum,
    )

    table = str(tmp_path / "tbl")
    for i in range(2):
        tablelog.msink_commit_batch(
            table, _mk_batch(spark, i * 10, i * 10 + 10), i
        )
    mlog_checkpoint(table)  # cp@1
    assert mlog_compact(spark, table) == 2  # v2 replaces 0-1
    mlog_checkpoint(table)  # cp@2
    assert mlog_expire_checkpointed(table) == 3

    # pre-retention: the cp@1 pin reconstructs from the old checkpoint
    asof_df, _, _ = mlog_read_asof(spark, table, 1)
    assert _fold_keys(spark, asof_df) == list(range(20))
    # the original groups are live ONLY at cp@1's pin — vacuum keeps
    assert mlog_vacuum(table) == (0, 3)

    assert mlog_expire_old_checkpoints(table) == 1
    df, _, _ = mlog_read_checkpointed(spark, table)
    assert _fold_keys(spark, df) == list(range(20))
    with pytest.raises(RuntimeError, match="no longer reconstructable"):
        mlog_read_asof(spark, table, 1)
    assert mlog_vacuum(table) == (2, 1), (
        "retiring the historical pin must free its groups"
    )
    df2, _, _ = mlog_read_checkpointed(spark, table)
    assert _fold_keys(spark, df2) == list(range(20))
    assert mlog_expire_old_checkpoints(table) == 0  # idempotent


def test_round13_protocol_state_machine_random_walk(spark, tmp_path):
    """Seeded random-walk over the FULL round-13 protocol surface —
    commit / replay / OPTIMIZE / checkpoint / expire / checkpoint
    retention / vacuum interleaved arbitrarily — checked after every
    step against a pure-Python model. Pins the compositions no
    hand-written scenario covers: (a) the checkpointed read equals the
    model's batch union in every reachable state (compaction and
    vacuum are invisible to reads); (b) a replay of ANY committed
    batch skips even after its record was compacted away, expired,
    and its group vacuumed (the batch id survives in checkpoint
    folds); (c) the consumer cursor never re-reads and never misses a
    row across data_change=false rewrites; (d) a final as-of at the
    log head reconstructs the model."""
    import random

    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_compact,
        mlog_expire_checkpointed,
        mlog_expire_old_checkpoints,
        mlog_poll,
        mlog_read_asof,
        mlog_read_checkpointed,
        mlog_vacuum,
    )

    for seed in (13, 37):
        rng = random.Random(seed)
        table = str(tmp_path / f"walk{seed}")
        model: dict[int, range] = {}
        next_id = 0
        has_checkpoint = False
        cursor = 0
        consumed_rows: set[int] = set()

        def expected() -> list[int]:
            return sorted(x for r in model.values() for x in r)

        for step in range(16):
            op = rng.choice(
                [
                    "commit",
                    "commit",
                    "replay",
                    "compact",
                    "checkpoint",
                    "expire",
                    "retire_ckpt",
                    "vacuum",
                ]
            )
            if op == "commit" or (op == "replay" and not model):
                lo = next_id * 10
                assert (
                    tablelog.msink_commit_batch(
                        table, _mk_batch(spark, lo, lo + 10), next_id
                    )
                    == "committed"
                ), f"seed {seed} step {step}"
                model[next_id] = range(lo, lo + 10)
                next_id += 1
            elif op == "replay":
                bid = rng.choice(list(model))
                out = tablelog.msink_commit_batch(
                    table, _mk_batch(spark, bid * 10, bid * 10 + 10), bid
                )
                assert out == "skipped", (
                    f"seed {seed} step {step}: replay of {bid} -> {out}"
                )
            elif op == "compact":
                if model:
                    mlog_compact(spark, table)
            elif op == "checkpoint":
                if model:
                    mlog_checkpoint(table)
                    has_checkpoint = True
            elif op == "expire":
                if has_checkpoint:
                    mlog_expire_checkpointed(table)
            elif op == "retire_ckpt":
                mlog_expire_old_checkpoints(table)
            elif op == "vacuum":
                mlog_vacuum(table, min_age_s=0)

            if not model:
                continue
            df, n_cp, n_tail = mlog_read_checkpointed(spark, table)
            got = sorted(r["event_id"] for r in df.collect())
            assert got == expected(), f"seed {seed} step {step} ({op})"
            pdf, n_new, cursor = mlog_poll(spark, table, cursor)
            if pdf is not None:
                new_rows = {r["event_id"] for r in pdf.collect()}
                assert not (new_rows & consumed_rows), (
                    f"seed {seed} step {step}: consumer re-read rows"
                )
                consumed_rows |= new_rows
            assert consumed_rows == set(expected()), (
                f"seed {seed} step {step}: consumer missed rows"
            )

        from dbsuite_spark.etl.tablelog import (
            _checkpoint_state,
            _commit_version,
            _log_commits,
        )

        head = max(
            [_commit_version(c) for c in _log_commits(table)]
            + [_checkpoint_state(table)[0]]
        )
        adf, _, _ = mlog_read_asof(spark, table, head)
        assert sorted(r["event_id"] for r in adf.collect()) == expected()


# --- round-13b: clustered compaction + metadata-only restore ----------------


def _commit_slices(spark, table: str, n: int, mod: int = None):
    """Commit ``n`` mod-slices of a 0..n*10 key space (each slice's
    (min, max) spans nearly the whole range — the pruning worst case)."""
    mod = mod or n
    full = _mk_orders(spark, 0, n * 10)
    for i in range(n):
        tablelog.msink_commit_batch(
            table,
            full.filter(f"o_orderkey % {mod} = {i}"),
            i,
            stats={"o_orderkey": {"min": i, "max": (n * 10 - mod) + i}},
        )
    return full


def test_clustered_compact_equals_plain_read_everywhere(spark, tmp_path):
    """Clustered OPTIMIZE moves rows, never semantics: every reader
    (full-log, checkpointed, pruned-unbounded) returns the identical
    row multiset after ``cluster_by``, and the commit carries the
    range-disjoint subgroups it promises."""
    from dbsuite_spark.etl.tablelog import (
        mlog_compact,
        mlog_read_checkpointed,
        mlog_read_pruned_cols,
    )

    table = str(tmp_path / "t")
    _commit_slices(spark, table, 6)
    expected = sorted(range(60))

    assert mlog_compact(
        spark, table, cluster_by=["o_orderkey"], n_groups=4
    ) == 6
    assert (
        sorted(
            r["o_orderkey"]
            for r in tablelog.msink_read(spark, table).collect()
        )
        == expected
    )
    df, _, _ = mlog_read_checkpointed(spark, table)
    assert sorted(r["o_orderkey"] for r in df.collect()) == expected
    pdf, n = mlog_read_pruned_cols(
        spark, table, {"o_orderkey": (0, 1 << 62)}
    )
    assert sorted(r["o_orderkey"] for r in pdf.collect()) == expected
    assert n == 4  # all four range-disjoint subgroups scanned

    doc = tablelog.read_json(
        os.path.join(table, "commit-00006.json")
    )
    subs = doc["subgroups"]
    assert len(subs) == 4 and doc["clustered_by"] == ["o_orderkey"]
    ivs = [
        (s["stats"]["o_orderkey"]["min"], s["stats"]["o_orderkey"]["max"])
        for s in subs
    ]
    assert ivs == sorted(ivs)
    for (_, hi1), (lo2, _) in zip(ivs, ivs[1:]):
        assert hi1 < lo2, f"subgroup ranges overlap: {ivs}"


def test_clustered_pruning_equals_filtering(spark, tmp_path):
    """Pruning after clustered compaction is an optimization, never a
    semantics change: for in-bucket, boundary-straddling, empty, and
    unbounded predicates the pruned read is row-identical to filtering
    the full table, with the unit count bounded by the clustering."""
    from dbsuite_spark.etl.tablelog import (
        mlog_compact,
        mlog_read_pruned_cols,
    )

    table = str(tmp_path / "t")
    _commit_slices(spark, table, 6)
    mlog_compact(spark, table, cluster_by=["o_orderkey"], n_groups=4)

    for lo, hi, max_units in [
        (17, 19, 1),     # strictly inside one bucket
        (10, 35, 3),     # straddles boundaries
        (0, 59, 4),      # everything
        (200, 300, 0),   # past the data: fully pruned
        (29, 31, 2),     # hugs a boundary
    ]:
        pdf, n = mlog_read_pruned_cols(
            spark, table, {"o_orderkey": (lo, hi)}
        )
        got = sorted(r["o_orderkey"] for r in pdf.collect())
        assert got == [k for k in range(60) if lo <= k <= hi]
        assert n <= max_units, (lo, hi, n)


def test_cluster_stats_omission_is_conservative(spark, tmp_path):
    """A cluster column whose min/max can't round-trip through JSON
    comparably (decimal) gets NO stats — every unit scans (unprunable),
    rows stay exact. _stat_jsonable is the gate: numbers/strings pass,
    date/datetime go ISO, bool/decimal/other return None."""
    import datetime
    import decimal

    from dbsuite_spark.etl.tablelog import (
        _stat_jsonable,
        mlog_compact,
        mlog_read_pruned_cols,
    )

    assert _stat_jsonable(7) == 7 and _stat_jsonable(7.5) == 7.5
    assert _stat_jsonable("x") == "x"
    assert _stat_jsonable(datetime.date(1995, 6, 1)) == "1995-06-01"
    assert (
        _stat_jsonable(datetime.datetime(1995, 6, 1, 12, 30))
        == "1995-06-01 12:30:00"
    )
    assert _stat_jsonable(True) is None
    assert _stat_jsonable(decimal.Decimal("1.23")) is None
    assert _stat_jsonable(None) is None

    table = str(tmp_path / "t")
    full = _mk_orders(spark, 0, 60).selectExpr(
        "o_orderkey",
        "CAST(o_totalprice AS DECIMAL(10,2)) AS price_dec",
    )
    for i in range(3):
        tablelog.msink_commit_batch(
            table, full.filter(f"o_orderkey % 3 = {i}"), i
        )
    mlog_compact(spark, table, cluster_by=["price_dec"], n_groups=4)
    doc = tablelog.read_json(os.path.join(table, "commit-00003.json"))
    assert all("stats" not in s for s in doc["subgroups"])
    pdf, n = mlog_read_pruned_cols(
        spark, table, {"o_orderkey": (10, 20)}
    )
    assert n == len(doc["subgroups"])  # nothing prunable — all scanned
    assert sorted(r["o_orderkey"] for r in pdf.collect()) == list(
        range(10, 21)
    )


def test_restore_equals_asof_at_every_version(spark, tmp_path):
    """``mlog_restore(v)`` then a head read ≡ ``mlog_read_asof(v)`` —
    for every version, including repeated restores and restoring to a
    version that is itself AFTER an earlier restore."""
    from dbsuite_spark.etl.tablelog import (
        mlog_read_asof,
        mlog_restore,
    )

    table = str(tmp_path / "t")
    _commit_slices(spark, table, 4)

    def head_rows():
        return sorted(
            r["o_orderkey"]
            for r in tablelog.msink_read(spark, table).collect()
        )

    snapshots = {}
    for v in range(4):
        adf, _, _ = mlog_read_asof(spark, table, v)
        snapshots[v] = sorted(r["o_orderkey"] for r in adf.collect())

    assert mlog_restore(table, 1) == 2  # versions 0-1 re-pinned
    assert head_rows() == snapshots[1]
    # the restore commit itself is version 4; restore again to v3
    assert mlog_restore(table, 3) == 4
    assert head_rows() == snapshots[3]
    # restore to the FIRST restore's own version (5-ish history): as-of
    # at version 4 is the v1 snapshot — restoring there must match too
    adf, _, _ = mlog_read_asof(spark, table, 4)
    assert sorted(r["o_orderkey"] for r in adf.collect()) == snapshots[1]
    mlog_restore(table, 4)
    assert head_rows() == snapshots[1]


def test_restore_survives_checkpoint_expire_vacuum(spark, tmp_path):
    """The full maintenance lifecycle over a restored table: vacuum
    must keep every directory the restore re-pinned (the needed set
    walks _doc_paths roots) and free exactly the unreachable ones;
    the checkpointed read stays byte-stable throughout."""
    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_compact,
        mlog_expire_checkpointed,
        mlog_read_checkpointed,
        mlog_restore,
        mlog_vacuum,
    )

    table = str(tmp_path / "t")
    _commit_slices(spark, table, 6)
    mlog_compact(spark, table)  # plain: one compacted group (v6)
    assert mlog_restore(table, 3) == 4  # re-pin slices 0-3 (v7)
    expected = sorted(
        k for k in range(60) if k % 6 in (0, 1, 2, 3)
    )
    mlog_checkpoint(table)
    mlog_expire_checkpointed(table)
    deleted, kept = mlog_vacuum(table, min_age_s=0)
    # dead: slices 4-5 (replaced by the compaction, records expired)
    # + the compacted group (replaced by the restore) = 3; live: the
    # four re-pinned slice dirs
    assert (deleted, kept) == (3, 4)
    df, _, _ = mlog_read_checkpointed(spark, table)
    assert sorted(r["o_orderkey"] for r in df.collect()) == expected
    assert mlog_vacuum(table, min_age_s=0) == (0, 4)  # idempotent


def test_restore_racing_replacer_is_void(spark, tmp_path):
    """A restore and a compaction racing over the same live set
    resolve like racing compactions: the higher version is void at
    read time, deterministically, with zero write-side coordination."""
    from dbsuite_spark.etl.tablelog import mlog_restore

    table = str(tmp_path / "t")
    full = _commit_slices(spark, table, 4)
    assert mlog_restore(table, 2) == 3  # wins the race at version 4
    # the racing compaction loses: lands at version 5 replacing the
    # same live set {0,1,2,3} — every target already claimed → void
    assert (
        tablelog.msink_commit_batch(
            table,
            full,
            "compact-racing-loser",
            extra_doc={
                "replaces": [0, 1, 2, 3],
                "data_change": False,
            },
        )
        == "committed"
    )
    got = sorted(
        r["o_orderkey"] for r in tablelog.msink_read(spark, table).collect()
    )
    assert got == sorted(k for k in range(40) if k % 4 in (0, 1, 2))


def test_feed_redelivers_restored_snapshot_exactly_once(spark, tmp_path):
    """Change-feed across a restore: the restore commit is
    data_change=true, so the poll DELIVERS the restored snapshot
    (downstream sees the rewind as new rows — Delta CDF semantics);
    the cursor advances and a second poll is empty."""
    from dbsuite_spark.etl.tablelog import mlog_poll, mlog_restore

    table = str(tmp_path / "t")
    _commit_slices(spark, table, 4)
    df, n_new, cursor = mlog_poll(spark, table, 0)
    assert n_new == 4 and cursor == 4
    mlog_restore(table, 1)
    df, n_new, cursor = mlog_poll(spark, table, cursor)
    assert n_new == 1 and cursor == 5
    redelivered = sorted(r["o_orderkey"] for r in df.collect())
    assert redelivered == sorted(k for k in range(40) if k % 4 in (0, 1))
    df, n_new, cursor = mlog_poll(spark, table, cursor)
    assert df is None and n_new == 0 and cursor == 5


def test_restore_honest_errors(spark, tmp_path):
    """Restore shares time travel's honest-error contracts: a version
    past the head 'does not exist'; a version whose history expired
    past retention is 'no longer reconstructable' — never a silent
    partial snapshot."""
    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_compact,
        mlog_expire_checkpointed,
        mlog_restore,
    )

    table = str(tmp_path / "t")
    _commit_slices(spark, table, 4)
    with pytest.raises(RuntimeError, match="does not exist"):
        mlog_restore(table, 99)
    mlog_compact(spark, table)
    mlog_checkpoint(table)
    mlog_expire_checkpointed(table)
    with pytest.raises(RuntimeError, match="no longer reconstructable"):
        mlog_restore(table, 0)


def test_restore_cluster_state_machine_walk(spark, tmp_path):
    """Seeded random walk over the EXTENDED round-13 surface — commit /
    replay / plain OPTIMIZE / clustered OPTIMIZE / RESTORE / checkpoint /
    expire / vacuum — against a pure-Python model with full version
    history: after every step the checkpointed read equals the model,
    restores rewind the model to the recorded snapshot (or raise the
    honest unreconstructable error and change nothing), and replays of
    folded batches still skip."""
    import random

    from dbsuite_spark.etl.tablelog import (
        _checkpoint_state,
        _commit_version,
        _log_commits,
        mlog_checkpoint,
        mlog_compact,
        mlog_expire_checkpointed,
        mlog_read_checkpointed,
        mlog_restore,
        mlog_vacuum,
    )

    def head(table):
        return max(
            [_commit_version(c) for c in _log_commits(table)]
            + [_checkpoint_state(table)[0]]
        )

    for seed in (131, 313):
        rng = random.Random(seed)
        table = str(tmp_path / f"walk{seed}")
        model: dict[int, range] = {}
        history: dict[int, dict[int, range]] = {}
        committed: set[int] = set()
        next_id = 0
        has_checkpoint = False

        def expected():
            return sorted(x for r in model.values() for x in r)

        for step in range(18):
            op = rng.choice(
                [
                    "commit",
                    "commit",
                    "replay",
                    "compact",
                    "compact_clustered",
                    "restore",
                    "checkpoint",
                    "expire",
                    "vacuum",
                ]
            )
            if op == "commit" or (op == "replay" and not model):
                lo = next_id * 10
                assert (
                    tablelog.msink_commit_batch(
                        table, _mk_orders(spark, lo, lo + 10), next_id
                    )
                    == "committed"
                ), f"seed {seed} step {step}"
                model[next_id] = range(lo, lo + 10)
                committed.add(next_id)
                next_id += 1
                history[head(table)] = dict(model)
            elif op == "replay":
                bid = rng.choice(sorted(committed))
                out = tablelog.msink_commit_batch(
                    table, _mk_orders(spark, bid * 10, bid * 10 + 10), bid
                )
                assert out == "skipped", (
                    f"seed {seed} step {step}: replay of {bid} -> {out}"
                )
            elif op in ("compact", "compact_clustered"):
                if model:
                    mlog_compact(
                        spark,
                        table,
                        cluster_by=(
                            ["o_orderkey"]
                            if op == "compact_clustered"
                            else None
                        ),
                        n_groups=3,
                    )
                    if head(table) >= 0:
                        history[head(table)] = dict(model)
            elif op == "restore":
                if history:
                    v = rng.choice(sorted(history))
                    try:
                        mlog_restore(table, v)
                        model = dict(history[v])
                        history[head(table)] = dict(model)
                    except RuntimeError as e:
                        assert (
                            "no longer reconstructable" in str(e)
                            or "does not exist" in str(e)
                        ), f"seed {seed} step {step}: {e}"
            elif op == "checkpoint":
                if model:
                    mlog_checkpoint(table)
                    has_checkpoint = True
            elif op == "expire":
                if has_checkpoint:
                    mlog_expire_checkpointed(table)
            elif op == "vacuum":
                mlog_vacuum(table, min_age_s=0)

            if not model:
                continue
            df, _, _ = mlog_read_checkpointed(spark, table)
            got = sorted(r["o_orderkey"] for r in df.collect())
            assert got == expected(), f"seed {seed} step {step} ({op})"


def test_clustered_compact_empty_and_collision_guards(spark, tmp_path):
    """Two clustered-OPTIMIZE edges that must not brick the table:
    (a) compacting groups with zero rows (or an all-NULL cluster
    column) falls back to the plain single-group write — a clustered
    doc with ZERO subgroups would make every fold an empty path list;
    (b) a table that already carries the '_cb' scratch column is
    refused, never silently clobbered."""
    from dbsuite_spark.etl.tablelog import mlog_compact

    table = str(tmp_path / "empty")
    empty = _mk_orders(spark, 0, 10).filter("o_orderkey < 0")
    tablelog.msink_commit_batch(table, empty, 0)
    tablelog.msink_commit_batch(table, empty, 1)
    assert mlog_compact(
        spark, table, cluster_by=["o_orderkey"], n_groups=4
    ) == 2
    doc = tablelog.read_json(os.path.join(table, "commit-00002.json"))
    assert "subgroups" not in doc  # plain fallback, readable group
    assert tablelog.msink_read(spark, table).count() == 0

    table2 = str(tmp_path / "collide")
    clash = _mk_orders(spark, 0, 20).selectExpr("o_orderkey", "1 AS _cb")
    tablelog.msink_commit_batch(table2, clash, 0)
    tablelog.msink_commit_batch(table2, clash.filter("o_orderkey<5"), 1)
    with pytest.raises(RuntimeError, match="_cb"):
        mlog_compact(spark, table2, cluster_by=["o_orderkey"], n_groups=2)
    # the failed rewrite published nothing: the table is unchanged
    assert tablelog.msink_read(spark, table2).count() == 25
