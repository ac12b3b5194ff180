"""Semantic invariants of the round-10 manifest operators — laws the
hash oracle can't see: copy-on-write must carry untouched files BY
REFERENCE (byte-identical, zero rewrite), old snapshots must stay
readable after a commit, and the CDC feed must conserve the version
delta."""

from __future__ import annotations

import json
import os

import dbsuite_spark
from dbsuite_spark.etl.io import artifact_path

SPECS = dbsuite_spark.all_specs()


def test_cow_merge_carries_untouched_files_by_reference(spark, sf_dir):
    """VERDICT r09 ask #3's done-criterion: groups the merge didn't
    touch appear in version 2 with the IDENTICAL path (carry by
    reference — zero bytes rewritten, verified by md5 of the actual
    part files against a pre-commit recording), rewritten and added
    groups get fresh paths, and version 1 stays fully readable."""
    spec = SPECS["etl_merge_cow_manifest"]
    spec.fn(spark, sf_dir).collect()
    root = artifact_path(sf_dir, "tt_cow/manifest.json")
    m = json.load(open(root))
    g1 = m["versions"]["1"]["groups"]
    g2 = m["versions"]["2"]["groups"]

    carried = [g for g in g1 if g in g2 and g2[g]["path"] == g1[g]["path"]]
    rewritten = [g for g in g1 if g in g2 and g2[g]["path"] != g1[g]["path"]]
    added = [g for g in g2 if g not in g1]
    assert sorted(rewritten) == ["1", "2"]
    assert added == ["20"]
    assert len(carried) == len(g1) - 2

    # the commit's write set on disk is EXACTLY the touched groups —
    # the v2 rewrite dir holds grp=1 and grp=2 and nothing else, so
    # zero bytes of any carried group were rewritten (carried paths
    # point into the untouched v1 tree)
    rw_dir = os.path.dirname(g2["1"]["path"])
    written = sorted(
        d for d in os.listdir(rw_dir) if d.startswith("grp=")
    )
    assert written == ["grp=1", "grp=2"]

    def _newest_mtime(path: str) -> float:
        return max(
            os.path.getmtime(os.path.join(path, n))
            for n in os.listdir(path)
            if n.endswith(".parquet")
        )

    # the merge never touched a carried byte: every carried part file
    # predates the v2 rewrite (v1 is written first, so a merge that
    # rewrote in place would bump a carried mtime past the rewrite's)
    rewrite_started = min(
        _newest_mtime(g2[g]["path"]) for g in rewritten
    )
    for g in carried:
        assert g1[g]["path"].startswith(
            os.path.join(os.path.dirname(root), "v1")
        )
        # carried manifest entries are verbatim copies (stats included)
        assert g2[g] == g1[g]
        assert _newest_mtime(g2[g]["path"]) <= rewrite_started, (
            f"carried group {g} modified during the commit"
        )

    # version 1 stays readable after the commit: per-group stats in
    # the manifest still match an actual read (time travel intact),
    # and the rewritten group's v2 data actually differs from v1
    some = rewritten[0]
    v1_grp = spark.read.parquet(g1[some]["path"])
    assert v1_grp.count() == g1[some]["n_rows"]
    v1_sum = v1_grp.agg({"o_totalprice": "sum"}).first()[0]
    v2_sum = (
        spark.read.parquet(g2[some]["path"])
        .agg({"o_totalprice": "sum"})
        .first()[0]
    )
    assert v2_sum > v1_sum  # +1000 per matched key applied exactly once


def test_manifest_cdc_feed_conserves_version_delta(spark, sf_dir):
    """Applying the CDC counts to version 1's row count must land
    exactly on version 2's: |v2| = |v1| + inserts − deletes; updates
    are count-neutral; and the skipped-file count equals the carried
    groups in the manifest."""
    rows = {
        r["op"]: r
        for r in SPECS["etl_manifest_cdc"].fn(spark, sf_dir).collect()
    }
    root = artifact_path(sf_dir, "tt_cdc/manifest.json")
    m = json.load(open(root))
    mv1, mv2 = m["versions"]["1"], m["versions"]["2"]
    n1 = spark.read.parquet(*mv1.values()).count()
    n2 = spark.read.parquet(*mv2.values()).count()
    assert n2 == n1 + rows["insert"]["n_rows"] - rows["delete"]["n_rows"]
    carried = sum(1 for g in mv1 if g in mv2 and mv1[g] == mv2[g])
    assert rows["skipped_files"]["n_rows"] == carried
    assert rows["update"]["n_rows"] > 0  # the differ exercised equality


# --- round-10 continuation: isotonic / BT / CDC / beam laws --------------


def _pava(n: list[int], pos: list[int]) -> list[float]:
    """Reference pool-adjacent-violators on (count, positives) bins —
    the textbook stack form, independent of the minimax formulation the
    operator uses."""
    pools: list[list[float]] = []  # [sum_pos, sum_n]
    for nn, pp in zip(n, pos):
        pools.append([float(pp), float(nn)])
        while (
            len(pools) > 1
            and pools[-2][0] * pools[-1][1]
            >= pools[-1][0] * pools[-2][1]
        ):
            b = pools.pop()
            pools[-1][0] += b[0]
            pools[-1][1] += b[1]
    fitted = []
    for sp, sn in pools:
        fitted.extend([sp / sn] * int(sn))
    # expand back to bins by cumulative counts
    res, idx = [], 0
    for nn in n:
        res.append(fitted[idx])
        idx += nn
    return res


def test_isotonic_fit_matches_pava_and_is_monotone(spark, sf_dir):
    """ml_isotonic_calibration computes the minimax closed form; PAVA is
    the classical algorithm — on any input they must agree exactly, and
    the fitted curve must be non-decreasing in bin order (the entire
    point of the operator). Both engines agreeing on a NON-isotonic
    curve is precisely what the hash oracle cannot see."""
    rows = sorted(
        SPECS["ml_isotonic_calibration"].fn(spark, sf_dir).collect(),
        key=lambda r: r["bin"],
    )
    iso = [r["iso_rate"] for r in rows]
    assert iso == sorted(iso), "isotonic fit is not monotone"
    ref = _pava([r["n"] for r in rows], [r["n_pos"] for r in rows])
    assert all(abs(a - b) < 1e-12 for a, b in zip(iso, ref)), (
        "minimax fit disagrees with PAVA"
    )
    # pool property: total positive mass is preserved by the fit
    mass = sum(r["iso_rate"] * r["n"] for r in rows)
    assert abs(mass - sum(r["n_pos"] for r in rows)) < 1e-6


def test_bradley_terry_ranking_converged_at_iters(spark, sf_dir):
    """ADVICE r09 #3's lesson applied at birth: the oracle unrolls the
    same BT_ITERS rounds, so the hash gate can't detect
    non-convergence. Prove the RANKING is stable by running one extra
    MM round and comparing the rank columns; also conserve the duel
    bookkeeping (sum of wins == total duels, games are symmetric
    double-counts)."""
    from dbsuite_spark.pipeline import mlprep

    base = SPECS["ml_bradley_terry_fixed"].fn(spark, sf_dir).collect()
    ranks = {r["item"]: r["rank"] for r in base}
    orig = mlprep.BT_ITERS
    mlprep.BT_ITERS = orig + 1
    try:
        more = mlprep.ml_bradley_terry_fixed(spark, sf_dir).collect()
    finally:
        mlprep.BT_ITERS = orig
    assert {r["item"]: r["rank"] for r in more} == ranks, (
        "one extra MM round reorders the leaderboard — not converged"
    )
    total_wins = sum(r["wins"] for r in base)
    total_games = sum(r["games"] for r in base)
    assert total_games == 2 * total_wins, (
        "every duel must appear once as a win and twice in games"
    )
    assert abs(sum(r["rating"] for r in base) - 1.0) < 1e-4


def test_cdc_duplicate_documents_fully_flagged(spark, sf_dir):
    """Two identical texts must produce identical chunk sets (boundaries
    depend on content alone) — chunk a synthetic duplicate pair through
    the production chunker and require hash-multiset equality. On the
    fixture, conserve tokens: per-doc n_tokens must sum to the corpus
    token count (no token is lost to or duplicated across chunk
    boundaries)."""
    from pyspark.sql import functions as F

    from dbsuite_spark.pipeline.substrings import _cdc_chunk_rows
    from dbsuite_spark.tables import t

    text = (
        t(spark, sf_dir, "documents")
        .orderBy(F.col("doc_id").desc())
        .limit(1)
        .collect()[0]["text"]
    )
    rows = _cdc_chunk_rows(
        spark.createDataFrame([(1, text), (2, text)], ["doc_id", "text"])
    ).collect()
    c1 = sorted(r["chash"] for r in rows if r["doc_id"] == 1)
    c2 = sorted(r["chash"] for r in rows if r["doc_id"] == 2)
    assert c1 == c2 and len(c1) >= 1, "equal texts chunked differently"

    out = SPECS["docs_cdc_chunk_dedup"].fn(spark, sf_dir).collect()
    n_corpus_tokens = (
        t(spark, sf_dir, "documents")
        .select(F.sum(F.size(F.split("text", " "))).alias("s"))
        .collect()[0]["s"]
    )
    assert sum(r["n_tokens"] for r in out) == n_corpus_tokens


def test_cdc_boundaries_survive_a_prefix_insert(spark, sf_dir):
    """THE content-defined property (why CDC beats fixed-width
    chunking): insert tokens at the front of a document and every chunk
    past the perturbation horizon re-aligns — the two versions share
    most chunk hashes, while fixed-width framing would shift every
    downstream chunk. Run the production chunker expressions on a
    synthetic (original, prefix-perturbed) pair."""
    from dbsuite_spark.pipeline.substrings import _cdc_chunk_rows
    from dbsuite_spark.tables import t

    from pyspark.sql import functions as F

    # the longest document — short docs can have zero content boundaries
    # (one chunk), where the law is vacuous
    text = (
        t(spark, sf_dir, "documents")
        .orderBy(F.size(F.split("text", " ")).desc(), "doc_id")
        .limit(1)
        .collect()[0]["text"]
    )
    pert = "zz qq zz qq " + text
    d = spark.createDataFrame(
        [(1, text), (2, pert)], ["doc_id", "text"]
    )
    rows = _cdc_chunk_rows(d).collect()
    h1 = {r["chash"] for r in rows if r["doc_id"] == 1}
    h2 = {r["chash"] for r in rows if r["doc_id"] == 2}
    shared = h1 & h2
    assert shared, "no chunk survived a 4-token prefix insert"
    # everything after the first post-insert boundary must re-align:
    # the shared set is the bulk of the original's chunks
    assert len(shared) >= max(1, len(h1) - 2), (
        f"only {len(shared)} of {len(h1)} chunks re-aligned"
    )


def test_graph_beam_quality_is_monotone_in_rounds(spark, sf_dir):
    """The beam's candidate set at round r contains the round r-1 beam,
    so the per-query best cosine must be non-decreasing in the round
    budget — run the production body with BEAM_ROUNDS+1 and compare.
    Also: the emitted top-k must never claim more hits than BEAM_OUT
    and must exclude the query itself."""
    from dbsuite_spark.pipeline import similarity as S

    base = SPECS["sim_search_graph_beam"].fn(spark, sf_dir).collect()
    best = {}
    hits = {}
    for r in base:
        assert r["neighbor_id"] != r["qid"]
        best[r["qid"]] = max(best.get(r["qid"], -2.0), r["cos_sim"])
        hits[r["qid"]] = hits.get(r["qid"], 0) + int(r["hit"])
    assert all(h <= S.BEAM_OUT for h in hits.values())
    more = S._beam_final(spark, sf_dir, S.BEAM_ROUNDS + 1).collect()
    best_more = {}
    for r in more:
        best_more[r["qid"]] = max(
            best_more.get(r["qid"], -2.0), r["cos_sim"]
        )
    assert set(best_more) == set(best)
    for qid, b in best.items():
        assert best_more[qid] >= b - 1e-12, (
            f"beam regressed for query {qid} with an extra round"
        )


# --- batch-2 laws: DTW / xi / CART / random walks ------------------------


def test_dtw_matches_reference_and_bounds_lockstep(spark, sf_dir):
    """Independent check of the whole DTW pipeline: rebuild the
    hour-of-day profiles in the test, run a textbook O(L²) DTW in pure
    Python, and require exact equality with the operator's integer
    costs; DTW ≤ lockstep must hold per pair (the diagonal is one
    admissible warping path)."""
    from pyspark.sql import functions as F

    from dbsuite_spark.operators.stats_extra import DTW_L
    from dbsuite_spark.tables import t

    e = t(spark, sf_dir, "events")
    prof: dict[str, list[int]] = {}
    for r in e.groupBy(
        "event_type", F.hour("ts").alias("h")
    ).count().collect():
        prof.setdefault(r["event_type"], [0] * DTW_L)[r["h"]] = r["count"]

    def dtw(x, y):
        big = float("inf")
        n = len(x)
        prev = [0] + [big] * n
        for i in range(1, n + 1):
            cur = [big] * (n + 1)
            for j in range(1, n + 1):
                c = abs(x[i - 1] - y[j - 1])
                cur[j] = c + min(prev[j], cur[j - 1], prev[j - 1])
            prev = cur
        return prev[n]

    out = SPECS["ts_dtw_distance"].fn(spark, sf_dir).collect()
    assert len(out) == len(prof) * (len(prof) - 1) // 2
    for r in out:
        ref = dtw(prof[r["type_a"]], prof[r["type_b"]])
        assert r["dtw_cost"] == ref, (r["type_a"], r["type_b"])
        assert r["dtw_cost"] <= r["lockstep_cost"]
        assert r["warp_gain"] == r["lockstep_cost"] - r["dtw_cost"]


def test_xi_correlation_matches_reference(spark, sf_dir):
    """Chatterjee's xi recomputed in pure Python from the collected
    (x, y, tiebreak) rows — same deterministic tie-break — must equal
    the operator's value; xi must live in its theoretical range."""
    from dbsuite_spark.tables import t

    rows = (
        t(spark, sf_dir, "orders")
        .select("o_totalprice", "o_orderdate", "o_orderkey")
        .collect()
    )
    data = [
        (float(r["o_totalprice"]), r["o_orderdate"], r["o_orderkey"])
        for r in rows
    ]
    n = len(data)

    def xi(key_x, key_y):
        by_y = sorted(range(n), key=lambda i: (key_y(data[i]), data[i][2]))
        rank = [0] * n
        for pos, i in enumerate(by_y, 1):
            rank[i] = pos
        by_x = sorted(range(n), key=lambda i: (key_x(data[i]), data[i][2]))
        s = sum(
            abs(rank[by_x[k + 1]] - rank[by_x[k]]) for k in range(n - 1)
        )
        return s, 1.0 - 3.0 * float(s) / (float(n) * n - 1)

    s_xy, xi_xy = xi(lambda d: d[0], lambda d: d[1])
    s_yx, xi_yx = xi(lambda d: d[1], lambda d: d[0])
    out = SPECS["agg_xi_correlation"].fn(spark, sf_dir).collect()[0]
    assert out["n"] == n
    assert out["s_xy"] == s_xy and out["s_yx"] == s_yx
    assert abs(out["xi_xy"] - xi_xy) < 1e-12
    assert abs(out["xi_yx"] - xi_yx) < 1e-12
    for v in (out["xi_xy"], out["xi_yx"]):
        assert -0.5 - 1e-9 <= v <= 1.0


def test_tree_partitions_conserve_and_root_split_is_optimal(spark, sf_dir):
    """CART laws the hash oracle can't see as laws: children partition
    the root population exactly, leaves partition the children, every
    chosen split has non-negative SSE reduction, and a brute-force scan
    over ALL candidate splits in pure Python confirms the root argmax
    (greedy optimality, not just both-engines-agree)."""
    from pyspark.sql import functions as F

    from dbsuite_spark.tables import t

    out = {r["node"]: r for r in
           SPECS["ml_decision_tree_depth2"].fn(spark, sf_dir).collect()}
    root, L, R = out["root"], out["L"], out["R"]
    assert L["n"] + R["n"] == root["n"]
    assert L["sum_y"] + R["sum_y"] == root["sum_y"]
    leaves = [v for k, v in out.items() if len(k) == 2]
    assert sum(v["n"] for v in leaves) == sum(
        out[s]["n"] for s in ("L", "R") if out[s]["split_feat"] is not None
    )
    for k in ("root", "L", "R"):
        if out[k]["split_feat"] is not None:
            assert out[k]["sse_reduction"] >= 0

    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("f1"),
            F.countDistinct(F.to_date("ts")).alias("f2"),
            F.count_if(F.col("event_type") == "purchase").alias("y"),
        )
        .collect()
    )
    pts = [(r["f1"], r["f2"], r["y"]) for r in u]

    def sse(ys):
        if not ys:
            return 0.0
        s = sum(ys)
        return sum(v * v for v in ys) - float(s) * s / len(ys)

    tot = sse([p[2] for p in pts])
    best = None
    for fi, fname in ((0, "f1"), (1, "f2")):
        for thr in sorted({p[fi] for p in pts})[:-1]:
            l = [p[2] for p in pts if p[fi] <= thr]
            r = [p[2] for p in pts if p[fi] > thr]
            red = round(tot - sse(l) - sse(r), 6)
            cand = (-red, fname, thr)
            if best is None or cand < best:
                best = cand
    assert (root["split_feat"], root["split_thr"]) == (best[1], best[2])
    assert abs(root["sse_reduction"] - (-best[0])) < 1e-6


def test_random_walks_follow_real_edges(spark, sf_dir):
    """Every consecutive pair in every emitted walk must be an actual
    edge of the interaction graph, every walk must have exactly
    RW_STEPS+1 nodes, and re-running the key must reproduce the paths
    bit-for-bit (hash-driven determinism)."""
    from dbsuite_spark.pipeline.graph import _edges
    from dbsuite_spark.pipeline.graph_extra import RW_STEPS

    edges = {
        (r["src"], r["dst"]) for r in _edges(spark, sf_dir).collect()
    }
    out = SPECS["graph_random_walk_fixed"].fn(spark, sf_dir).collect()
    assert out, "no walks emitted"
    for r in out:
        nodes = r["path"].split(">")
        assert len(nodes) == RW_STEPS + 1 == r["n_nodes"]
        assert nodes[0] == r["start"] and nodes[-1] == r["end_node"]
        for a, b in zip(nodes, nodes[1:]):
            assert (a, b) in edges, f"phantom edge {a}->{b}"
    again = {
        (r["start"], r["walk_id"]): r["path"]
        for r in SPECS["graph_random_walk_fixed"].fn(spark, sf_dir).collect()
    }
    assert again == {(r["start"], r["walk_id"]): r["path"] for r in out}


# --- batch-3 laws: filtered ANN / whitening / vacuum ----------------------


def test_filtered_ann_respects_the_predicate(spark, sf_dir):
    """Every returned neighbor must carry the query's label (the filter
    is a guarantee, not a preference), ranks must be dense per query,
    and each query must find at least one same-label hit against the
    exact truth (the IVF probe can't be recall-zero on the fixture)."""
    from dbsuite_spark.tables import t

    labels = {
        r["vec_id"]: r["label"]
        for r in t(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    out = SPECS["sim_search_filtered_ann"].fn(spark, sf_dir).collect()
    assert out
    per_q: dict[int, list] = {}
    for r in out:
        assert labels[r["neighbor_id"]] == r["qlabel"] == labels[r["qid"]]
        per_q.setdefault(r["qid"], []).append(r)
    for qid, rows in per_q.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(ranks) + 1))
        assert any(r["hit"] for r in rows), f"query {qid} recall zero"


def test_whitening_stats_match_reference(spark, sf_dir):
    """Recompute every dimension's mean/std/outlier count in pure
    Python from the collected embeddings (same 6dp cell rounding) and
    require agreement; std must be non-negative and n constant across
    dims."""
    from dbsuite_spark.tables import t

    vecs = [
        r["embedding"]
        for r in t(spark, sf_dir, "embeddings").select("embedding").collect()
    ]
    out = {r["dim"]: r for r in
           SPECS["ml_embedding_whitening"].fn(spark, sf_dir).collect()}
    assert len(out) == len(vecs[0])
    from dbsuite_spark.pipeline.quantization import WHITEN_Z

    for d in (1, 7, 33, len(vecs[0])):
        cells = [round(float(v[d - 1]), 6) for v in vecs]
        n = len(cells)
        mean = sum(cells) / n  # tolerance below absorbs fold-order drift
        var = sum(c * c for c in cells) / n - mean * mean
        std = max(var, 0.0) ** 0.5
        r = out[d]
        assert r["n"] == n
        assert abs(r["mean"] - mean) < 1e-5
        assert abs(r["std"] - std) < 1e-5
        if std > 0:
            ref_out = sum(
                1 for c in cells if abs(c - mean) > WHITEN_Z * std
            )
            # the 6dp-rounded engine std can flip boundary cells; allow 1
            assert abs(r["n_outliers"] - ref_out) <= 1
        assert r["std"] >= 0


def test_vacuum_leaves_exactly_the_live_tree(spark, sf_dir):
    """After the vacuum the table root must contain exactly the two
    commit records plus the two live groups they name — nothing else —
    each live version must still read (as-of its pin) to its commit
    doc's row count, and a second run must be idempotent (the key
    re-stages its orphans and reclaims them again, same report)."""
    import json
    import os

    from dbsuite_spark.etl.io import artifact_path
    from dbsuite_spark.etl.tablelog import mlog_read_asof

    first = sorted(
        tuple(r) for r in
        SPECS["etl_vacuum_orphan_files"].fn(spark, sf_dir).collect()
    )
    vac_dir = artifact_path(sf_dir, "tt_vacuum")
    commits = ["commit-00000.json", "commit-00001.json"]
    docs = [json.load(open(os.path.join(vac_dir, c))) for c in commits]
    live = [os.path.basename(d["group"]) for d in docs]
    assert sorted(os.listdir(vac_dir)) == sorted(commits + live)
    for v, doc in enumerate(docs):
        assert mlog_read_asof(spark, vac_dir, v)[0].count() == doc["n_rows"]
    second = sorted(
        tuple(r) for r in
        SPECS["etl_vacuum_orphan_files"].fn(spark, sf_dir).collect()
    )
    assert first == second


# --- batch-4 laws: weighted reservoir / learning curve --------------------


def test_weighted_reservoir_biases_toward_heavy_docs(spark, sf_dir):
    """The sample must be exactly WRS_K rows with dense ranks, and the
    weighting must actually bite: the sampled mean n_chars exceeds the
    corpus mean (long documents over-represented — the property a
    uniform sampler lacks)."""
    from pyspark.sql import functions as F

    from dbsuite_spark.operators.sorting import WRS_K
    from dbsuite_spark.tables import t

    out = SPECS["sample_weighted_reservoir"].fn(spark, sf_dir).collect()
    assert len(out) == WRS_K
    assert sorted(r["rank"] for r in out) == list(range(1, WRS_K + 1))
    sample_mean = sum(r["n_chars"] for r in out) / len(out)
    corpus_mean = (
        t(spark, sf_dir, "documents")
        .agg(F.avg("n_chars").alias("m"))
        .collect()[0]["m"]
    )
    assert sample_mean > corpus_mean, (
        f"weighted sample mean {sample_mean} <= corpus {corpus_mean}"
    )


def test_learning_curve_train_sets_nest(spark, sf_dir):
    """The curve must vary the data BUDGET only: one fixed eval set
    (n_eval identical across points), md5-nested train sets (n_train
    strictly increasing, 100% = full pool), accuracies in [0, 1]."""
    from pyspark.sql import functions as F

    from dbsuite_spark.pipeline.classify import LC_EVAL_MOD
    from dbsuite_spark.tables import t

    rows = sorted(
        SPECS["ml_learning_curve_points"].fn(spark, sf_dir).collect(),
        key=lambda r: r["pct"],
    )
    assert [r["pct"] for r in rows] == [25, 50, 100]
    assert len({r["n_eval"] for r in rows}) == 1
    tr = [r["n_train"] for r in rows]
    assert tr[0] < tr[1] < tr[2]
    e = t(spark, sf_dir, "embeddings")
    pool = e.filter(F.col("vec_id") % LC_EVAL_MOD != 3).count()
    assert tr[2] == pool
    for r in rows:
        assert 0.0 <= r["accuracy"] <= 1.0
        assert r["n_correct"] <= r["n_eval"]
