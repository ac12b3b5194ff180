"""Semantic invariants of the round-12 keys plus two laws the prior
suites left unpinned:

- the ADVICE r11 interleaving: two CONCURRENT replays of the SAME batch
  racing for the same version must resolve to one 'committed' and the
  rest 'skipped' — never an unhandled exception from shared scratch
  files;
- commit-log CHECKPOINTING (etl_manifest_checkpoint): reader
  equivalence with and without a checkpoint, tail-only folds, atomic +
  monotonic pointer swings, expiry composition;
- SNAPSHOT ISOLATION (VERDICT r11 ask #4): a reader pinned to version V
  sees V byte-stably while a writer advances the manifest past it;
- the streaming-DV law: delete commits never rewrite base data files.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import threading

import dbsuite_spark
from dbsuite_spark.etl.io import artifact_path

SPECS = dbsuite_spark.all_specs()


def _mk_batch(spark, n0: int, n1: int):
    return spark.range(n0, n1).selectExpr(
        "id AS event_id",
        "id % 7 AS user_id",
        "CAST(id AS DOUBLE) AS value",
    )


def _log(table_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(table_dir, "commit-*.json")))


def _md5s(path: str) -> dict[str, str]:
    out = {}
    for f in sorted(glob.glob(os.path.join(path, "**", "part-*.parquet"),
                              recursive=True)):
        with open(f, "rb") as fh:
            out[os.path.relpath(f, path)] = hashlib.md5(fh.read()).hexdigest()
    return out


# --- ADVICE r11 #1: same-batch concurrent replays ---------------------------


def test_claim_same_batch_concurrent_replays_never_crash(spark, tmp_path):
    """The exact interleaving ADVICE r11 flagged as untested: N threads
    attempt to claim the SAME version for the SAME batch_id
    simultaneously (concurrent replays of one crashed micro-batch).
    Exactly one wins, every loser resolves to 'skipped' — no
    FileNotFoundError from a shared tmp file, and the published doc is
    one of the attempts' docs, intact."""
    from dbsuite_spark.etl.tablelog import _try_claim_version

    table = str(tmp_path / "tbl")
    os.makedirs(table)
    docs = [{"batch_id": 7, "group": f"attempt-{i}"} for i in range(8)]
    outcomes: dict[int, str] = {}
    errors: list[Exception] = []

    def claim(i: int):
        try:
            outcomes[i] = _try_claim_version(table, 0, docs[i], 7)
        except Exception as exc:  # the bug mode: unhandled cleanup race
            errors.append(exc)

    threads = [threading.Thread(target=claim, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert not errors, errors
    vals = sorted(outcomes.values())
    assert vals.count("committed") == 1, outcomes
    assert vals.count("skipped") == 7, outcomes
    published = json.load(open(os.path.join(table, "commit-00000.json")))
    assert published["batch_id"] == 7
    assert published["group"] in {d["group"] for d in docs}
    # no scratch litter survives the race
    assert not glob.glob(os.path.join(table, "*.tmp"))


def test_msink_same_batch_concurrent_replays_commit_once(spark, tmp_path):
    """End-to-end variant through msink_commit_batch: four threads all
    deliver THE SAME batch (same batch_id, same rows). Whatever the
    interleaving, the log ends with exactly one commit of that batch
    and the fold equals the batch exactly once."""
    from dbsuite_spark.etl.tablelog import msink_commit_batch, msink_read

    table = str(tmp_path / "tbl")
    outcomes: list[str] = []
    lock = threading.Lock()

    def writer():
        out = msink_commit_batch(table, _mk_batch(spark, 0, 20), 5)
        with lock:
            outcomes.append(out)

    threads = [threading.Thread(target=writer) for _ in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert sorted(outcomes).count("committed") == 1, outcomes
    assert all(o in ("committed", "skipped") for o in outcomes), outcomes
    assert len(_log(table)) == 1
    got = sorted(r["event_id"] for r in msink_read(spark, table).collect())
    assert got == list(range(20))


# --- commit-log checkpointing laws ------------------------------------------


def test_mlog_checkpoint_reader_equivalence_and_tail_only(spark, tmp_path):
    """(a) The checkpointed reader is row-identical to the full-log
    fold; (b) after a checkpoint at version k it folds k+1 groups from
    the checkpoint and ONLY the tail from the log; (c) a fresh
    checkpoint empties the tail."""
    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_read_checkpointed,
        msink_commit_batch,
        msink_read,
    )

    table = str(tmp_path / "tbl")
    for i in range(4):
        msink_commit_batch(table, _mk_batch(spark, i * 10, i * 10 + 10), i)
    mlog_checkpoint(table)  # k=3
    for i in range(4, 7):
        msink_commit_batch(table, _mk_batch(spark, i * 10, i * 10 + 10), i)

    df, n_cp, n_tail = mlog_read_checkpointed(spark, table)
    assert (n_cp, n_tail) == (4, 3)
    got = sorted(r["event_id"] for r in df.collect())
    want = sorted(r["event_id"] for r in msink_read(spark, table).collect())
    assert got == want == list(range(70))

    mlog_checkpoint(table)  # k=6: everything folded, empty tail
    df2, n_cp2, n_tail2 = mlog_read_checkpointed(spark, table)
    assert (n_cp2, n_tail2) == (7, 0)
    assert sorted(r["event_id"] for r in df2.collect()) == list(range(70))


def test_mlog_checkpoint_is_atomic_and_pointer_monotonic(spark, tmp_path):
    """The checkpoint publishes atomically: stray *.tmp scratch files
    are invisible to readers, the pointer never names a missing
    checkpoint, concurrent checkpointers all succeed, and a STALE
    checkpointer (one that listed an old log prefix) never rolls the
    pointer backwards."""
    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_read_checkpointed,
        msink_commit_batch,
    )

    table = str(tmp_path / "tbl")
    for i in range(3):
        msink_commit_batch(table, _mk_batch(spark, i * 10, i * 10 + 10), i)

    # concurrent checkpointers: same immutable prefix, all must succeed
    errors: list[Exception] = []

    def ckpt():
        try:
            mlog_checkpoint(table)
        except Exception as exc:
            errors.append(exc)

    threads = [threading.Thread(target=ckpt) for _ in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    ptr = json.load(open(os.path.join(table, "_last_checkpoint")))
    assert os.path.exists(
        os.path.join(table, f"checkpoint-{ptr['version']:05d}.json")
    ), "pointer must never dangle"
    assert ptr["version"] == 2

    # crash litter: a torn tmp from a dead checkpointer is ignored
    open(os.path.join(table, "checkpoint-00099.json.dead.tmp"), "w").write(
        "{torn"
    )
    open(os.path.join(table, "_last_checkpoint.dead.tmp"), "w").write("{torn")
    df, n_cp, n_tail = mlog_read_checkpointed(spark, table)
    assert (n_cp, n_tail) == (3, 0)
    assert df.count() == 30

    # stale checkpointer: advance the log + checkpoint (k=4), then
    # replay a checkpoint over the OLD 3-commit prefix by hiding the
    # newer commits from its listing — the pointer must stay at 4
    for i in range(3, 5):
        msink_commit_batch(table, _mk_batch(spark, i * 10, i * 10 + 10), i)
    mlog_checkpoint(table)  # k=4
    hidden = [c for c in _log(table)[3:]]
    for c in hidden:
        os.replace(c, c + ".hidden")
    try:
        mlog_checkpoint(table)  # stale view: folds only commits 0-2
    finally:
        for c in hidden:
            os.replace(c + ".hidden", c)
    ptr2 = json.load(open(os.path.join(table, "_last_checkpoint")))
    assert ptr2["version"] == 4, "stale checkpointer must not roll back"
    df3, n_cp3, n_tail3 = mlog_read_checkpointed(spark, table)
    assert (n_cp3, n_tail3) == (5, 0)
    assert df3.count() == 50


def test_mlog_expire_composes_and_refuses_unfolded(spark, tmp_path):
    """Expiry deletes ONLY commit records a checkpoint has folded and
    reads are row-identical before/after; with no checkpoint it refuses
    outright (expiring an unfolded prefix would lose commits); a second
    expire is a no-op."""
    import pytest

    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_expire_checkpointed,
        mlog_read_checkpointed,
        msink_commit_batch,
    )

    table = str(tmp_path / "tbl")
    for i in range(5):
        msink_commit_batch(table, _mk_batch(spark, i * 10, i * 10 + 10), i)
    with pytest.raises(RuntimeError, match="no checkpoint"):
        mlog_expire_checkpointed(table)

    mlog_checkpoint(table)  # k=4
    msink_commit_batch(table, _mk_batch(spark, 50, 60), 5)  # tail
    before = sorted(
        r["event_id"]
        for r in mlog_read_checkpointed(spark, table)[0].collect()
    )
    assert mlog_expire_checkpointed(table) == 5
    assert len(_log(table)) == 1  # only the unfolded tail commit remains
    after_df, n_cp, n_tail = mlog_read_checkpointed(spark, table)
    assert (n_cp, n_tail) == (5, 1)
    after = sorted(r["event_id"] for r in after_df.collect())
    assert after == before == list(range(60))
    assert mlog_expire_checkpointed(table) == 0  # idempotent


# --- snapshot isolation under concurrent commits (VERDICT r11 ask #4) -------


def test_snapshot_read_pinned_version_is_stable_under_writes(spark, sf_dir):
    """SNAPSHOT ISOLATION law: a reader pinned to version V of the
    time-travel manifest sees V BYTE-STABLY (identical part-file md5s
    and identical aggregates) while a writer advances the manifest past
    it with the same atomic-swap protocol; a reader that re-resolves
    `current` sees the new version. This is the serializable-history
    half the commit-protocol suite didn't pin: pinned reads never
    observe a concurrent writer."""
    import json as _json

    from pyspark.sql import functions as F

    SPECS["etl_time_travel_read"].fn(spark, sf_dir).collect()
    root = artifact_path(sf_dir, "tt_orders/manifest.json")
    tt_dir = os.path.dirname(root)

    # READER: pin version 1 (resolve the manifest ONCE — the pin)
    with open(root) as fh:
        pinned = _json.load(fh)
    v_pin = str(pinned["current"])
    pin_path = pinned["versions"][v_pin]
    md5_before = _md5s(pin_path)
    agg_before = (
        spark.read.parquet(pin_path)
        .agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("s"))
        .first()
    )

    # WRITER: two more commits advance the manifest past the pin
    for step in (2, 3):
        new_dir = os.path.join(tt_dir, f"v{step}")
        spark.read.parquet(pin_path).filter(
            F.col("o_orderkey") % step == 0
        ).write.mode("overwrite").parquet(new_dir)
        with open(root) as fh:
            doc = _json.load(fh)
        doc["versions"][str(step)] = new_dir
        doc["current"] = step
        tmp = root + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(doc, fh)
        os.replace(tmp, root)  # the same atomic pointer swap

    # the pinned read is byte-stable and value-stable
    assert _md5s(pin_path) == md5_before
    agg_after = (
        spark.read.parquet(pin_path)
        .agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("s"))
        .first()
    )
    assert (agg_after["n"], agg_after["s"]) == (
        agg_before["n"],
        agg_before["s"],
    )

    # a current-reader re-resolves and sees version 3, not the pin
    with open(root) as fh:
        now = _json.load(fh)
    assert now["current"] == 3
    n_now = spark.read.parquet(now["versions"]["3"]).count()
    assert n_now < agg_before["n"]


# --- streaming DV laws -------------------------------------------------------


def test_sdv_delete_commits_never_rewrite_base_files(spark, sf_dir):
    """The merge-on-read delete law for the STREAMING path: after the
    full stream_dv_delete run, committing one more delete batch changes
    the visible table (rows vanish) while the base data files stay
    byte-identical — a DELETE writes deletion vectors, never data; and
    a replay of the extra batch is skipped."""
    from pyspark.sql import functions as F

    from dbsuite_spark.etl.tablelog import msink_commit_batch
    from dbsuite_spark.streaming.streams import sdv_read_state

    final = SPECS["stream_dv_delete"].fn(spark, sf_dir)
    n_final = final.count()
    base_dir = artifact_path(sf_dir, "sdv_base")
    dv_log = artifact_path(sf_dir, "sdv_dvlog")
    md5_before = _md5s(base_dir)
    assert md5_before, "base snapshot must exist"
    assert len(_log(dv_log)) == 6  # one commit per delete batch

    # one more GDPR batch: delete the % 12 == 6 slice
    extra = (
        spark.read.parquet(base_dir)
        .filter(F.col("o_orderkey") % 12 == 6)
        .select("o_orderkey")
    )
    n_extra = extra.count()
    assert msink_commit_batch(dv_log, extra, 6) == "committed"
    assert msink_commit_batch(dv_log, extra, 6) == "skipped"  # replay
    assert len(_log(dv_log)) == 7

    n_after = sdv_read_state(spark, base_dir, dv_log).count()
    assert n_after == n_final - n_extra
    assert _md5s(base_dir) == md5_before, "delete must not touch base files"


# --- checkpoint-aware as-of read laws ----------------------------------------


def test_mlog_asof_equals_naive_prefix_fold(spark, tmp_path):
    """For EVERY version V, the checkpoint-aware as-of read equals the
    naive fold of commits 0..V — the checkpoint shortcut never changes
    the reconstructed table, only the planning cost; and the
    (checkpoint, tail) split picks the newest covering checkpoint."""
    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_read_asof,
        msink_commit_batch,
    )

    table = str(tmp_path / "tbl")
    for i in range(7):
        msink_commit_batch(table, _mk_batch(spark, i * 10, i * 10 + 10), i)
        if (i + 1) % 3 == 0:
            mlog_checkpoint(table)  # checkpoints at versions 2 and 5

    want_split = {
        0: (0, 1), 1: (0, 2), 2: (3, 0), 3: (3, 1),
        4: (3, 2), 5: (6, 0), 6: (6, 1),
    }
    for v in range(7):
        df, n_cp, n_tail = mlog_read_asof(spark, table, v)
        assert (n_cp, n_tail) == want_split[v], f"V={v}"
        got = sorted(r["event_id"] for r in df.collect())
        assert got == list(range((v + 1) * 10)), f"V={v}"


def test_mlog_asof_history_expiry_semantics(spark, tmp_path):
    """After expiry past the newest checkpoint, as-of pins AT or AFTER
    a surviving checkpoint still reconstruct exactly; pins whose commit
    tail was expired RAISE (history gone) rather than silently return a
    partial table."""
    import pytest

    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_expire_checkpointed,
        mlog_read_asof,
        msink_commit_batch,
    )

    table = str(tmp_path / "tbl")
    for i in range(10):
        msink_commit_batch(table, _mk_batch(spark, i * 10, i * 10 + 10), i)
        if (i + 1) % 4 == 0:
            mlog_checkpoint(table)  # checkpoints at versions 3 and 7
    assert mlog_expire_checkpointed(table) == 8  # commits 0-7 deleted

    # pins covered by a surviving checkpoint + surviving tail: exact
    for v, want in ((3, (4, 0)), (7, (8, 0)), (9, (8, 2))):
        df, n_cp, n_tail = mlog_read_asof(spark, table, v)
        assert (n_cp, n_tail) == want, f"V={v}"
        assert df.count() == (v + 1) * 10

    # pins needing expired commits raise a clear history-expired error
    for v in (2, 5, 6):
        with pytest.raises(RuntimeError, match="no longer reconstructable"):
            mlog_read_asof(spark, table, v)


def test_mlog_asof_pin_is_stable_under_appends(spark, tmp_path):
    """Snapshot isolation for version pins: an as-of read at V returns
    identical rows before and after a writer appends more commits and
    checkpoints — immutable commits/checkpoints make the pin stable
    with no locking."""
    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_read_asof,
        msink_commit_batch,
    )

    table = str(tmp_path / "tbl")
    for i in range(4):
        msink_commit_batch(table, _mk_batch(spark, i * 10, i * 10 + 10), i)
    mlog_checkpoint(table)
    before = sorted(
        r["event_id"] for r in mlog_read_asof(spark, table, 3)[0].collect()
    )

    for i in range(4, 8):  # concurrent writer advances the log
        msink_commit_batch(table, _mk_batch(spark, i * 10, i * 10 + 10), i)
    mlog_checkpoint(table)

    after_df, n_cp, n_tail = mlog_read_asof(spark, table, 3)
    after = sorted(r["event_id"] for r in after_df.collect())
    assert after == before == list(range(40))
    assert (n_cp, n_tail) == (4, 0)


# --- post-expiry protocol correctness (round-12 review findings) -------------


def test_msink_protocol_stays_correct_after_expiry(spark, tmp_path):
    """Review findings #1/#2: expiry must not void the commit protocol.
    After checkpoint+expire: (a) a replay of an EXPIRED batch skips via
    the checkpoint's folded batch ids — never re-commits; (b) a new
    append allocates the version PAST the checkpoint (filename-derived,
    never len()) so it can't land in a reclaimed slot below the
    checkpointed reader's tail filter; (c) the full-log reader REFUSES
    the non-dense log instead of silently folding a partial table;
    (d) a post-expiry checkpoint folds incrementally with correct
    numbering and content."""
    import pytest

    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_expire_checkpointed,
        mlog_read_asof,
        mlog_read_checkpointed,
        msink_commit_batch,
        msink_read,
    )

    table = str(tmp_path / "tbl")
    for i in range(6):
        msink_commit_batch(table, _mk_batch(spark, i * 10, i * 10 + 10), i)
    mlog_checkpoint(table)  # k=5
    assert mlog_expire_checkpointed(table) == 6  # log now empty

    # (a) replay of an expired batch: checkpoint-carried dedup
    assert msink_commit_batch(table, _mk_batch(spark, 30, 40), 3) == "skipped"

    # (b) new append lands at version 6, never a reclaimed slot
    assert msink_commit_batch(table, _mk_batch(spark, 60, 70), 6) == (
        "committed"
    )
    assert os.path.exists(os.path.join(table, "commit-00006.json"))
    assert not os.path.exists(os.path.join(table, "commit-00000.json"))

    # the checkpointed reader sees checkpoint(6 groups) + 1-commit tail
    df, n_cp, n_tail = mlog_read_checkpointed(spark, table)
    assert (n_cp, n_tail) == (6, 1)
    assert sorted(r["event_id"] for r in df.collect()) == list(range(70))

    # (c) the full-log reader refuses the expired (non-dense) log
    with pytest.raises(RuntimeError, match="dense 0-based"):
        msink_read(spark, table)

    # (d) post-expiry checkpoint: incremental, filename-numbered
    path = mlog_checkpoint(table)
    assert path.endswith("checkpoint-00006.json")
    doc = json.load(open(path))
    assert doc["version"] == 6
    assert [g["version"] for g in doc["groups"]] == list(range(7))
    assert [g["batch_id"] for g in doc["groups"]] == list(range(7))
    # and the wedge mode is gone: a further append + read is exact
    assert msink_commit_batch(table, _mk_batch(spark, 70, 80), 7) == (
        "committed"
    )
    df2, n_cp2, n_tail2 = mlog_read_checkpointed(spark, table)
    assert (n_cp2, n_tail2) == (7, 1)
    assert df2.count() == 80

    # as-of after expiry: pins at surviving checkpoints reconstruct,
    # expired pins raise history-expired, future pins raise not-exists
    df5, n_cp5, n_tail5 = mlog_read_asof(spark, table, 5)
    assert (n_cp5, n_tail5) == (6, 0)
    assert df5.count() == 60
    with pytest.raises(RuntimeError, match="no longer reconstructable"):
        mlog_read_asof(spark, table, 2)
    with pytest.raises(RuntimeError, match="does not exist"):
        mlog_read_asof(spark, table, 99)


def test_mlog_asof_distinguishes_future_from_expired(spark, tmp_path):
    """Review finding #5: a pin past the log head is 'does not exist
    (log head is N)' — never the history-expired misdiagnosis — on a
    fresh, never-expired log."""
    import pytest

    from dbsuite_spark.etl.tablelog import (
        mlog_read_asof,
        msink_commit_batch,
    )

    table = str(tmp_path / "tbl")
    for i in range(3):
        msink_commit_batch(table, _mk_batch(spark, i * 10, i * 10 + 10), i)
    with pytest.raises(RuntimeError, match=r"does not exist.*log head is 2"):
        mlog_read_asof(spark, table, 99)


def test_mlog_read_checkpointed_refuses_uncovered_gap(spark, tmp_path):
    """Review finding #3: a gap in the tail that re-resolution cannot
    heal (a commit deleted with NO covering checkpoint — real
    corruption, not a racing checkpoint+expire) raises instead of
    silently returning a partial table."""
    import pytest

    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_read_checkpointed,
        msink_commit_batch,
    )

    table = str(tmp_path / "tbl")
    for i in range(5):
        msink_commit_batch(table, _mk_batch(spark, i * 10, i * 10 + 10), i)
    mlog_checkpoint(table)  # k=4
    for i in range(5, 8):
        msink_commit_batch(table, _mk_batch(spark, i * 10, i * 10 + 10), i)
    os.remove(os.path.join(table, "commit-00006.json"))  # corruption
    with pytest.raises(RuntimeError, match="gaps"):
        mlog_read_checkpointed(spark, table)


def test_mlog_checkpoint_refuses_gapped_tail_and_is_noop_when_fresh(
    spark, tmp_path
):
    """Review finding #2 (corollary laws): checkpointing over a gapped
    tail aborts (it would bake a hole into history), and a checkpoint
    with no new commits is a no-op returning the existing path."""
    import pytest

    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        msink_commit_batch,
    )

    table = str(tmp_path / "tbl")
    for i in range(4):
        msink_commit_batch(table, _mk_batch(spark, i * 10, i * 10 + 10), i)
    p1 = mlog_checkpoint(table)
    p2 = mlog_checkpoint(table)  # nothing new: no-op
    assert p1 == p2
    assert len(glob.glob(os.path.join(table, "checkpoint-*.json"))) == 1

    for i in range(4, 7):
        msink_commit_batch(table, _mk_batch(spark, i * 10, i * 10 + 10), i)
    os.remove(os.path.join(table, "commit-00005.json"))  # gap in tail
    with pytest.raises(RuntimeError, match="gaps"):
        mlog_checkpoint(table)


def test_mlog_poll_offset_is_version_cursor_with_expiry_contract(
    spark, tmp_path
):
    """The incremental consumer's offset is a VERSION cursor: polls
    fold exactly the commits >= offset (correct across expiry of the
    consumed prefix), and a consumer whose UNREAD range was expired
    gets the offset-out-of-range error — never silently skipped data."""
    import pytest

    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_expire_checkpointed,
        mlog_poll,
        msink_commit_batch,
    )

    table = str(tmp_path / "tbl")
    for i in range(4):
        msink_commit_batch(table, _mk_batch(spark, i * 10, i * 10 + 10), i)
    df, n_new, offset = mlog_poll(spark, table, 0)
    assert (n_new, offset) == (4, 4)
    assert df.count() == 40

    # consumed prefix expires: a CURRENT consumer is unaffected
    mlog_checkpoint(table)  # k=3
    assert mlog_expire_checkpointed(table) == 4
    none_df, n_none, offset = mlog_poll(spark, table, offset)
    assert (none_df, n_none, offset) == (None, 0, 4)
    for i in range(4, 6):
        msink_commit_batch(table, _mk_batch(spark, i * 10, i * 10 + 10), i)
    df2, n_new2, offset = mlog_poll(spark, table, offset)
    assert (n_new2, offset) == (2, 6)
    assert sorted(r["event_id"] for r in df2.collect()) == list(
        range(40, 60)
    )

    # a LAGGING consumer whose unread range was expired must error
    with pytest.raises(RuntimeError, match="out of range"):
        mlog_poll(spark, table, 2)


def test_mlog_read_pruned_equals_unpruned_filter(spark, sf_dir):
    """Stats pruning is an OPTIMIZATION, never a semantics change: for
    several probe ranges the pruned read is row-identical to filtering
    the full checkpointed fold, and the pruned group count never
    exceeds the total."""
    from pyspark.sql import functions as F

    from dbsuite_spark.etl.tablelog import (
        mlog_read_checkpointed,
        mlog_read_pruned,
    )
    from dbsuite_spark.etl.loaders import etl_manifest_ckpt_stats_skip

    SPECS["etl_manifest_ckpt_stats_skip"].fn(spark, sf_dir).collect()
    table = artifact_path(sf_dir, "ckpt_stats_table")
    full, _, _ = mlog_read_checkpointed(spark, table)
    max_key = full.agg(F.max("o_orderkey")).first()[0]
    for lo, hi in (
        (0, max_key),
        (max_key // 3, max_key // 2),
        (1, 2),  # likely-empty probe: pruning must not invent rows
        (max_key, max_key),
        (max_key * 2, max_key * 3),  # above all stats: all-pruned
    ):
        pruned, n_groups = mlog_read_pruned(spark, table, lo, hi)
        want = sorted(
            r["o_orderkey"]
            for r in full.filter(
                F.col("o_orderkey").between(lo, hi)
            ).collect()
        )
        got = sorted(r["o_orderkey"] for r in pruned.collect())
        assert got == want, f"range [{lo},{hi}]"
        assert 0 <= n_groups <= 8
        if lo > max_key:
            assert n_groups == 0 and got == []


def test_commit_log_state_machine_random_walk(spark, tmp_path):
    """Seeded random-walk over the WHOLE protocol surface — commit /
    replay / checkpoint / expire interleaved arbitrarily — checked
    after every step against a pure-Python model. Catches composition
    bugs no hand-written scenario pins: every reachable state must
    satisfy (a) checkpointed read ≡ model's union of committed batches,
    (b) replays of ANY previously-committed batch (expired or not)
    skip, (c) as-of pins at the current head reconstruct the model,
    (d) the consumer cursor at the head sees exactly the commits the
    model added since the last poll."""
    import random

    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_expire_checkpointed,
        mlog_poll,
        mlog_read_asof,
        mlog_read_checkpointed,
        msink_commit_batch,
    )

    for seed in (7, 23):
        rng = random.Random(seed)
        table = str(tmp_path / f"walk{seed}")
        model: dict[int, range] = {}  # batch_id -> row range
        next_id = 0
        has_checkpoint = False
        cursor = 0  # consumer offset (version cursor)
        consumed_rows: set[int] = set()

        def expected() -> list[int]:
            return sorted(x for r in model.values() for x in r)

        for step in range(14):
            op = rng.choice(
                ["commit", "commit", "replay", "checkpoint", "expire"]
            )
            if op == "commit" or (op == "replay" and not model):
                lo = next_id * 10
                assert msink_commit_batch(
                    table, _mk_batch(spark, lo, lo + 10), next_id
                ) == "committed", f"seed {seed} step {step}"
                model[next_id] = range(lo, lo + 10)
                next_id += 1
            elif op == "replay":
                bid = rng.choice(list(model))
                out = msink_commit_batch(
                    table, _mk_batch(spark, bid * 10, bid * 10 + 10), bid
                )
                assert out == "skipped", (
                    f"seed {seed} step {step}: replay of {bid} -> {out}"
                )
            elif op == "checkpoint":
                if model:
                    mlog_checkpoint(table)
                    has_checkpoint = True
            elif op == "expire":
                if has_checkpoint:
                    mlog_expire_checkpointed(table)

            if not model:
                continue
            # (a) checkpointed read equals the model after EVERY step
            df, n_cp, n_tail = mlog_read_checkpointed(spark, table)
            got = sorted(r["event_id"] for r in df.collect())
            assert got == expected(), f"seed {seed} step {step} ({op})"
            assert n_cp + n_tail >= 1
            # (d) consumer cursor never re-reads and never skips
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

        # (c) final as-of at the head reconstructs the model exactly
        head = next_id - 1
        adf, _, _ = mlog_read_asof(spark, table, head)
        assert sorted(r["event_id"] for r in adf.collect()) == expected()


def test_commit_checkpoint_expire_read_true_concurrency(spark, tmp_path):
    """TRUE-CONCURRENCY smoke over the metadata layer: 3 committer
    threads (12 distinct batches), a checkpointer loop, an expirer
    loop, and a reader loop all race on one table. Invariants: nothing
    raises (the reader's re-resolve retry absorbs checkpoint+expire
    races), every mid-flight read returns a PREFIX-CONSISTENT result
    (all rows of some subset of committed batches, each batch complete
    — the atomic link means a batch is all-or-nothing), and the final
    fold equals the union of all 12 batches exactly once."""
    import threading
    import time

    from dbsuite_spark.etl.tablelog import (
        mlog_checkpoint,
        mlog_expire_checkpointed,
        mlog_read_checkpointed,
        msink_commit_batch,
    )

    table = str(tmp_path / "tbl")
    # seed one batch so readers always have something to fold
    msink_commit_batch(table, _mk_batch(spark, 0, 10), 0)
    errors: list[Exception] = []
    done = threading.Event()

    def committer(ids):
        try:
            for b in ids:
                msink_commit_batch(
                    table, _mk_batch(spark, b * 10, b * 10 + 10), b
                )
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

    def reader():
        try:
            while not done.is_set():
                df, _, _ = mlog_read_checkpointed(spark, table)
                got = sorted(r["event_id"] for r in df.collect())
                # prefix-consistency: complete batches only
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
        threading.Thread(target=checkpointer),
        threading.Thread(target=expirer),
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
