"""Semantic invariants of the round-11 lakehouse keys — laws the hash
oracle can't see: a schema-evolution commit must be METADATA-ONLY (v1's
bytes and physical column names untouched, carry by reference), and the
exactly-once streaming sink's commit protocol must survive replay,
crash-before-publish, and version races without losing or doubling a
batch."""

from __future__ import annotations

import glob
import hashlib
import json
import os

import dbsuite_spark
from dbsuite_spark.etl.io import artifact_path

SPECS = dbsuite_spark.all_specs()


def _md5s(path: str) -> dict[str, str]:
    out = {}
    for f in sorted(glob.glob(os.path.join(path, "part-*.parquet"))):
        with open(f, "rb") as fh:
            out[os.path.basename(f)] = hashlib.md5(fh.read()).hexdigest()
    return out


def test_schema_evolution_commit_is_metadata_only(spark, sf_dir):
    """VERDICT r10 ask #4's done-criterion: the v2 commit (rename
    field 2, add field 3) touches ZERO v1 data bytes. Proof: v1's part
    files still carry the OLD physical column name on disk (the rename
    lives only in the manifest), manifest v2 references v1's group path
    VERBATIM, and the table root holds exactly the two data dirs — no
    rewritten copy of history exists anywhere."""
    SPECS["etl_manifest_schema_evolution"].fn(spark, sf_dir).collect()
    root = artifact_path(sf_dir, "tt_schema_evo/manifest.json")
    with open(root) as fh:
        m = json.load(fh)
    evo_dir = os.path.dirname(root)
    v1_path = os.path.join(evo_dir, "v1")

    # the rename is metadata-only: old physical name persists on disk
    phys = spark.read.parquet(v1_path).schema.fieldNames()
    assert phys == ["o_orderkey", "o_totalprice"], phys

    # v2 carries v1's group by reference (identical path string)
    v2_paths = [g["path"] for g in m["versions"]["2"]["groups"]]
    assert v1_path in v2_paths

    # no third data directory was materialized by the commit
    data_dirs = sorted(
        d
        for d in os.listdir(evo_dir)
        if os.path.isdir(os.path.join(evo_dir, d))
    )
    assert data_dirs == ["v1", "v2-adds"], data_dirs

    # v1 stays readable under its own schema after the v2 commit, and
    # the cross-version read is name-aligned to the NEW schema
    v2_names = [f["name"] for f in m["versions"]["2"]["schema"]]
    assert v2_names == ["o_orderkey", "price", "o_orderpriority"]
    v1_names = [f["name"] for f in m["versions"]["1"]["schema"]]
    assert v1_names == ["o_orderkey", "o_totalprice"]


def test_schema_evolution_rename_projection_still_prunes(spark, sf_dir):
    """The docstring's scale claim, executed: the rename alias is free —
    projecting the LOGICAL name (`price`) over a carried v1 group still
    prunes the parquet scan to the PHYSICAL column (`o_totalprice`),
    reading one column's pages, not the file."""
    from pyspark.sql import functions as F

    SPECS["etl_manifest_schema_evolution"].fn(spark, sf_dir).collect()
    evo_dir = os.path.dirname(
        artifact_path(sf_dir, "tt_schema_evo/manifest.json")
    )
    df = spark.read.parquet(os.path.join(evo_dir, "v1")).select(
        F.col("o_totalprice").alias("price")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    read_schema = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln
    ][0]
    assert "o_totalprice" in read_schema
    assert "o_orderkey" not in read_schema, read_schema


# --- stream_manifest_sink: drive the commit protocol directly --------------


def _mk_batch(spark, n0: int, n1: int):
    return spark.range(n0, n1).selectExpr(
        "id AS event_id",
        "id % 7 AS user_id",
        "'click' AS event_type",
        "CAST(id AS DOUBLE) AS value",
    )


def _log(table_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(table_dir, "commit-*.json")))


def test_msink_replay_is_skipped_and_log_unchanged(spark, tmp_path):
    """The exactly-once core: re-delivering an already-committed batch
    (Spark's crash-replay) returns 'skipped' and leaves the commit log
    byte-identical — no duplicate version, no duplicate rows."""
    from dbsuite_spark.etl.tablelog import (
        msink_commit_batch,
        msink_read,
    )

    table = str(tmp_path / "tbl")
    assert msink_commit_batch(table, _mk_batch(spark, 0, 10), 0) == "committed"
    assert msink_commit_batch(table, _mk_batch(spark, 10, 20), 1) == "committed"
    log_before = [(os.path.basename(c), open(c).read()) for c in _log(table)]

    assert msink_commit_batch(table, _mk_batch(spark, 0, 10), 0) == "skipped"
    log_after = [(os.path.basename(c), open(c).read()) for c in _log(table)]
    assert log_before == log_after
    assert msink_read(spark, table).count() == 20


def test_msink_crash_before_publish_loses_nothing_visible(spark, tmp_path):
    """A crashed attempt that wrote its file group but died before the
    atomic link publishes NO commit record — the reader never sees the
    orphan group, and the batch's eventual replay commits it exactly
    once (overwriting the half-written group harmlessly)."""
    from dbsuite_spark.etl.tablelog import (
        msink_commit_batch,
        msink_read,
    )

    table = str(tmp_path / "tbl")
    assert msink_commit_batch(table, _mk_batch(spark, 0, 10), 0) == "committed"
    # simulate the crash: the group for batch 1 lands, no commit record
    _mk_batch(spark, 10, 25).write.mode("overwrite").parquet(
        os.path.join(table, "group-b1")
    )
    assert msink_read(spark, table).count() == 10  # orphan invisible
    # replay of batch 1 after restart: commits exactly once
    assert msink_commit_batch(table, _mk_batch(spark, 10, 25), 1) == "committed"
    assert msink_read(spark, table).count() == 25
    assert len(_log(table)) == 2


def test_msink_version_race_rebases_to_next_version(spark, tmp_path):
    """If the target version number is taken by a DIFFERENT batch (a
    concurrent writer won the link), the commit rebases onto the next
    version instead of clobbering or aborting — and a race lost to the
    SAME batch id resolves to 'skipped'."""
    from dbsuite_spark.etl.tablelog import msink_commit_batch

    table = str(tmp_path / "tbl")
    assert msink_commit_batch(table, _mk_batch(spark, 0, 5), 0) == "committed"
    # occupy version 1 with a foreign batch's record, as a racing
    # writer would (full, valid commit doc)
    os.makedirs(table, exist_ok=True)
    foreign_group = os.path.join(table, "group-b99")
    _mk_batch(spark, 100, 103).write.mode("overwrite").parquet(foreign_group)
    with open(os.path.join(table, "commit-00001.json"), "w") as fh:
        json.dump({"batch_id": 99, "group": foreign_group}, fh)

    assert msink_commit_batch(table, _mk_batch(spark, 5, 9), 2) == "committed"
    names = [os.path.basename(c) for c in _log(table)]
    assert names == [
        "commit-00000.json",
        "commit-00001.json",
        "commit-00002.json",
    ]
    with open(os.path.join(table, "commit-00002.json")) as fh:
        assert json.load(fh)["batch_id"] == 2


def test_msink_end_to_end_log_shape(spark, sf_dir):
    """After the full key run (two checkpointed phases + one manual
    replay), the log holds one commit per distinct micro-batch and the
    fold equals the events table exactly once."""
    SPECS["stream_manifest_sink"].fn(spark, sf_dir).collect()
    table = artifact_path(sf_dir, "msink_table")
    commits = _log(table)
    batch_ids = []
    for c in commits:
        with open(c) as fh:
            batch_ids.append(json.load(fh)["batch_id"])
    assert len(batch_ids) == len(set(batch_ids)), "duplicate batch commit"
    assert len(batch_ids) == 6  # 6 files, maxFilesPerTrigger=1


def test_ivf_append_dashboard_shape_and_growth(spark, sf_dir):
    """Assign-only maintenance laws visible in the report: the query
    set is FROZEN across states (same base queries — staleness is
    measured on a fixed workload), the after-corpus grew by exactly the
    appended batch, candidate volume grew with it (the new vectors ARE
    findable through the frozen cells), and both states retain usable
    recall (> 0 proves the appended index isn't serving base-only
    results; the hash oracle pins the exact values)."""
    from pyspark.sql import functions as F

    from dbsuite_spark.pipeline.similarity import IVF_APPEND_MOD
    from dbsuite_spark.tables import t

    rows = {
        r["state"]: r
        for r in SPECS["sim_search_ivf_append"].fn(spark, sf_dir).collect()
    }
    before, after = rows["before"], rows["after"]
    n_new = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % IVF_APPEND_MOD == 0)
        .count()
    )
    assert after["n_vectors"] - before["n_vectors"] == n_new
    assert after["n_queries"] == before["n_queries"] > 0
    assert after["n_candidates"] > before["n_candidates"]
    assert before["mean_recall"] > 0 and after["mean_recall"] > 0


def test_deletion_vector_commit_writes_no_data_files(spark, sf_dir):
    """The merge-on-read laws: the v2 DELETE carries every data group
    BY REFERENCE (identical path strings — zero data bytes written;
    only DV files exist for v2), and the v3 compaction rewrites ONLY
    the DV-carrying groups, carries the rest, and drops every DV."""
    SPECS["etl_manifest_deletion_vectors"].fn(spark, sf_dir).collect()
    root = artifact_path(sf_dir, "tt_dv/manifest.json")
    with open(root) as fh:
        m = json.load(fh)
    g1 = m["versions"]["1"]["groups"]
    g2 = m["versions"]["2"]["groups"]
    g3 = m["versions"]["3"]["groups"]

    # v2: all data paths carried by reference; at least one DV attached
    assert set(g2) == set(g1)
    assert all(g2[g]["path"] == g1[g]["path"] for g in g1)
    dv_groups = [g for g in g2 if g2[g]["dv"] is not None]
    assert dv_groups, "the delete predicate must touch at least one group"

    # the v2 commit materialized ONLY the dv_v2 dataset on disk
    dv_dir = os.path.dirname(root)
    data_dirs = sorted(
        d
        for d in os.listdir(dv_dir)
        if os.path.isdir(os.path.join(dv_dir, d))
    )
    assert data_dirs == ["dv_v2", "v1", "v3"], data_dirs

    # v3: DV-carrying groups rewritten, others carried, no DV survives
    for g in g3:
        assert g3[g]["dv"] is None
        if g in dv_groups:
            assert g3[g]["path"] != g1[g]["path"]
            assert "/v3/" in g3[g]["path"] or g3[g]["path"].endswith(
                f"v3/grp={g}"
            )
        else:
            assert g3[g]["path"] == g1[g]["path"]


def test_wap_branch_isolates_staging_until_publish(spark, sf_dir):
    """The WAP isolation laws: the staged (pre-audit) version is only
    ever reachable through the `audit` ref — main@1's group list never
    contains the staged group — and the publish is a pure ref swap:
    main's final version IS the audited version's group list (no data
    copied at publish), with the corrupt staged group absent from it."""
    SPECS["etl_manifest_wap_branch"].fn(spark, sf_dir).collect()
    root = artifact_path(sf_dir, "tt_wap/manifest.json")
    with open(root) as fh:
        m = json.load(fh)
    wap_dir = os.path.dirname(root)
    v1 = os.path.join(wap_dir, "v1")
    staged = os.path.join(wap_dir, "v2-staged")
    clean = os.path.join(wap_dir, "v3-clean")

    assert m["versions"]["1"]["groups"] == [v1]
    assert m["versions"]["2"]["groups"] == [v1, staged]
    assert m["versions"]["3"]["groups"] == [v1, clean]
    # publish = ref swap onto the audited version, never onto staging
    assert m["refs"]["main"] == m["refs"]["audit"] == 3
    assert staged not in m["versions"]["3"]["groups"]
    # the staged (corrupt) bytes still exist for audit forensics but
    # are unreachable from main — exactly vacuum's orphan case later
    assert os.path.isdir(staged)


def test_ivf_delete_masks_tombstones_without_rebuild(spark, sf_dir):
    """Tombstone laws visible in the report: the query set is frozen
    (surviving queries only, same across states), the after-corpus
    shrank by exactly the tombstone count, the candidate stream shrank
    (tombstones really are masked before ranking), and recall holds > 0
    on the masked index. A tombstoned id leaking into the after top-k
    would waste a slot against a tombstone-free truth and shift
    mean_recall — pinned by the hash oracle at both scales."""
    from pyspark.sql import functions as F

    from dbsuite_spark.pipeline.similarity import IVF_DELETE_MOD
    from dbsuite_spark.tables import t

    rows = {
        r["state"]: r
        for r in SPECS["sim_search_ivf_delete"].fn(spark, sf_dir).collect()
    }
    before, after = rows["before"], rows["after"]
    n_dead = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % IVF_DELETE_MOD == 0)
        .count()
    )
    assert before["n_vectors"] - after["n_vectors"] == n_dead
    assert after["n_queries"] == before["n_queries"] > 0
    assert after["n_candidates"] < before["n_candidates"]
    assert before["mean_recall"] > 0 and after["mean_recall"] > 0


# --- stream_foreachbatch_merge: drive the MERGE protocol directly ----------


def _mk_events(spark, n0: int, n1: int):
    return spark.range(n0, n1).selectExpr(
        "id % 5 AS user_id",
        "CASE WHEN id % 2 = 0 THEN 'click' ELSE 'view' END AS event_type",
        "timestamp '2024-01-01 00:00:00' + id * INTERVAL 1 MINUTE AS ts",
    )


def test_fbm_merge_is_exactly_once_and_associative(spark, tmp_path):
    """The two laws that make streaming MERGE correct: (1) a replayed
    batch is skipped — applying it twice would double the counts it
    touches; (2) the fold is associative — merging rows as one batch or
    split across two batches yields the IDENTICAL state, which is why
    micro-batch boundaries can vary freely on a cluster."""
    from dbsuite_spark.streaming.streams import (
        fbm_merge_batch,
        fbm_read_state,
    )

    one = str(tmp_path / "one")
    assert fbm_merge_batch(spark, one, _mk_events(spark, 0, 40), 0) == (
        "committed"
    )
    state_once = {
        r["user_id"]: (r["n_events"], r["last_ts"], r["last_type"])
        for r in fbm_read_state(spark, one).collect()
    }

    # replay: state byte-identical, outcome 'skipped'
    assert fbm_merge_batch(spark, one, _mk_events(spark, 0, 40), 0) == (
        "skipped"
    )
    state_replay = {
        r["user_id"]: (r["n_events"], r["last_ts"], r["last_type"])
        for r in fbm_read_state(spark, one).collect()
    }
    assert state_replay == state_once

    # associativity: same rows in two batches -> same state
    two = str(tmp_path / "two")
    assert fbm_merge_batch(spark, two, _mk_events(spark, 0, 25), 0) == (
        "committed"
    )
    assert fbm_merge_batch(spark, two, _mk_events(spark, 25, 40), 1) == (
        "committed"
    )
    state_split = {
        r["user_id"]: (r["n_events"], r["last_ts"], r["last_type"])
        for r in fbm_read_state(spark, two).collect()
    }
    assert state_split == state_once


def test_incremental_read_offset_never_rereads(spark, sf_dir):
    """The consumer law: polls partition the commit log — each version
    consumed exactly once (poll1: 0-2, poll2: 3-5, poll3: nothing), so
    the per-poll row counts sum to the table total with no overlap."""
    from pyspark.sql import functions as F

    from dbsuite_spark.tables import t

    rows = {
        r["poll"]: r
        for r in SPECS["etl_manifest_incremental_read"]
        .fn(spark, sf_dir)
        .collect()
    }
    total = t(spark, sf_dir, "events").count()
    assert rows[1]["n_rows"] + rows[2]["n_rows"] == total
    assert rows[1]["n_commits"] == rows[2]["n_commits"] == 3
    assert rows[3]["n_commits"] == 0 and rows[3]["n_rows"] == 0
    assert rows[3]["sum_value"] is None


def test_next_event_markov_output_laws(spark, sf_dir):
    """Output laws: ranks are 1..K dense per current type, counts are
    non-increasing in rank (the tie-break is (count DESC, type)), every
    probability is in (0, 1], and a type's kept probabilities sum to
    ≤ 1 (they are top-K of a distribution)."""
    rows = SPECS["rec_next_event_markov"].fn(spark, sf_dir).collect()
    by_cur = {}
    for r in rows:
        by_cur.setdefault(r["cur_type"], []).append(r)
    assert by_cur
    for cur, rs in by_cur.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        counts = [r["n_pairs"] for r in rs]
        assert counts == sorted(counts, reverse=True)
        assert all(0 < r["prob"] <= 1 for r in rs)
        assert sum(r["prob"] for r in rs) <= 1 + 1e-12


def test_fbm_version_race_remerges_against_winner(spark, tmp_path):
    """The lost-update law (self-review finding): the merge sink's
    snapshot-per-commit layout means losing the version claim to a
    FOREIGN batch makes this attempt's snapshot STALE — the retry must
    RE-MERGE against the winner's state, not just take the next version
    number, or the winner's merge vanishes from the latest snapshot.
    Injected via the test-only pre-claim hook: writer B computes its
    merge against commit-00000, writer A's commit lands before B's
    claim, and B's final state must contain BOTH batches' rows."""
    from dbsuite_spark.streaming.streams import (
        fbm_merge_batch,
        fbm_read_state,
    )

    table = str(tmp_path / "tbl")
    assert fbm_merge_batch(spark, table, _mk_events(spark, 0, 10), 0) == (
        "committed"
    )

    def winner_commits():
        # writer A (batch 7, rows 40-50) commits between B's snapshot
        # write and B's claim
        assert fbm_merge_batch(
            spark, table, _mk_events(spark, 40, 50), 7
        ) == "committed"

    assert fbm_merge_batch(
        spark,
        table,
        _mk_events(spark, 10, 25),
        1,
        _pre_claim_hook=winner_commits,
    ) == "committed"

    got = {
        r["user_id"]: (r["n_events"], r["last_ts"], r["last_type"])
        for r in fbm_read_state(spark, table).collect()
    }
    # reference: all three batches merged in one shot
    ref_dir = str(tmp_path / "ref")
    rows = _mk_events(spark, 0, 25).unionByName(_mk_events(spark, 40, 50))
    fbm_merge_batch(spark, ref_dir, rows, 0)
    want = {
        r["user_id"]: (r["n_events"], r["last_ts"], r["last_type"])
        for r in fbm_read_state(spark, ref_dir).collect()
    }
    assert got == want


def test_msink_concurrent_writers_all_commit_exactly_once(spark, tmp_path):
    """TRUE-CONCURRENCY stress of the append protocol: four threads
    commit four distinct batches to the same table simultaneously.
    Whatever interleaving the scheduler produces, the invariants hold:
    every batch commits exactly once, versions are the dense range
    0..3 with four distinct batch_ids, and the fold equals the union of
    all four batches (Spark's driver is thread-safe for job
    submission, so this is the real multi-writer case, not a
    simulation)."""
    import threading

    from dbsuite_spark.etl.tablelog import (
        msink_commit_batch,
        msink_read,
    )

    table = str(tmp_path / "tbl")
    outcomes = {}

    def writer(bid: int, lo: int, hi: int):
        outcomes[bid] = msink_commit_batch(
            table, _mk_batch(spark, lo, hi), bid
        )

    threads = [
        threading.Thread(target=writer, args=(b, b * 10, b * 10 + 10))
        for b in range(4)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert all(v == "committed" for v in outcomes.values()), outcomes
    names = [os.path.basename(c) for c in _log(table)]
    assert names == [f"commit-{v:05d}.json" for v in range(4)]
    batch_ids = sorted(
        json.load(open(c))["batch_id"] for c in _log(table)
    )
    assert batch_ids == [0, 1, 2, 3]
    got = sorted(r["event_id"] for r in msink_read(spark, table).collect())
    assert got == list(range(0, 40))


def test_fbm_concurrent_writers_lose_no_update(spark, tmp_path):
    """TRUE-CONCURRENCY stress of the merge protocol — the lost-update
    case the re-merge-on-race loop exists for: four threads each merge
    a distinct batch into the same state table simultaneously. The
    final snapshot must equal the one-shot merge of all four batches —
    any interleaving where a loser published its stale snapshot without
    re-merging would drop a winner's rows from the latest state."""
    import threading

    from dbsuite_spark.streaming.streams import (
        fbm_merge_batch,
        fbm_read_state,
    )

    table = str(tmp_path / "tbl")
    outcomes = {}

    def writer(bid: int, lo: int, hi: int):
        outcomes[bid] = fbm_merge_batch(
            spark, table, _mk_events(spark, lo, hi), bid
        )

    threads = [
        threading.Thread(target=writer, args=(b, b * 10, b * 10 + 10))
        for b in range(4)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert all(v == "committed" for v in outcomes.values()), outcomes
    got = {
        r["user_id"]: (r["n_events"], r["last_ts"], r["last_type"])
        for r in fbm_read_state(spark, table).collect()
    }
    ref_dir = str(tmp_path / "ref")
    fbm_merge_batch(spark, ref_dir, _mk_events(spark, 0, 40), 0)
    want = {
        r["user_id"]: (r["n_events"], r["last_ts"], r["last_type"])
        for r in fbm_read_state(spark, ref_dir).collect()
    }
    assert got == want
