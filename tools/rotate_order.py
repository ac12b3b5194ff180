"""Regenerate dbsuite_spark/_order.py from driver correctness results.

Usage:
    python tools/rotate_order.py CORRECTNESS_r01.json [CORRECTNESS_r02.json ...]
    python tools/rotate_order.py --write CORRECTNESS_r*.json

The round driver verifies keys in registration order under a per-round
budget, so the order must rotate every round: keys the driver has already
hash-verified green (in ANY past round) go last, confirmed failures go
first (their green rows next round are the proof of the fix), and
never-yet-verified keys fill the front in current registration order.
Within the green block, keys order by last-green round ASCENDING — a
rolling re-certification wheel that refreshes the stalest certificates
every round now that the never-driven backlog is zero (VERDICT r11 #1).

Without --write, prints the generated module to stdout for review.
"""

from __future__ import annotations

import glob as _glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _round_sorted(files: list[str]) -> list[str]:
    """Order result files oldest→newest by round number (``r(\\d+)`` in the
    name, falling back to mtime), so per-key state resolution is
    deterministic regardless of argv/glob order. Lexicographic shell
    globs would break the moment round numbers lose zero-padding
    (r04 vs r100) — ADVICE r04."""

    def sortkey(p: str):
        m = re.search(r"r(\d+)", os.path.basename(p))
        return (0, int(m.group(1))) if m else (1, os.path.getmtime(p))

    return sorted(files, key=sortkey)


def _default_files() -> list[str]:
    """All CORRECTNESS_r*.json in the repo root — the safe default, so a
    bare ``--check`` can never report a false "fresh" (ADVICE/VERDICT
    r04: the empty-argv footgun)."""
    return _glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))

HEADER = '''"""Driver-facing registration order — GENERATED by tools/rotate_order.py.

The round driver verifies keys in registration order under a per-round
budget (round 1 reached 50 of 156 keys). Keys the driver has already
hash-verified green in any past round register last, ordered stalest
(oldest last-green round) first — the rolling re-certification wheel;
confirmed failures and never-verified keys register first. Regenerate
each round once the new CORRECTNESS_r{N}.json lands:

    python tools/rotate_order.py --write CORRECTNESS_r*.json
"""

from __future__ import annotations

'''


def classify(
    files: list[str],
) -> tuple[list[str], list[str], list[str], list[str], dict[str, int]]:
    """Returns (failed, weak, green, seen, last_green) across all result
    files — ``last_green[key]`` is the HIGHEST round number in which the
    key had a hash-green driver row (the staleness signal for the
    re-certification wheel, VERDICT r11 ask #1).

    A row is *green* only on a full hash match.  A `no_oracle` row that
    still produced Spark rows is *weak* — the run succeeded but nothing
    was compared; since every registered key now carries a full SQL
    oracle, weak keys are front-loaded so their next driver row upgrades
    them to hash-green (err != verified, per VERDICT r03 item 2).
    """
    state: dict[str, str] = {}  # key -> "green" | "weak" | "failed"
    last_green: dict[str, int] = {}
    for path in _round_sorted(files):
        m = re.search(r"r(\d+)", os.path.basename(path))
        # No round number in the name → no staleness signal: fabricating
        # one from list position could rank an ad-hoc file fresher (or
        # staler) than real certificates (round-12 review finding #8).
        # State classification still applies; only last_green skips.
        rnd = int(m.group(1)) if m else None
        for key, row in json.load(open(path)).items():
            if bool(row.get("hash_match")):
                new = "green"
                if rnd is not None:
                    last_green[key] = max(last_green.get(key, 0), rnd)
            elif row.get("err") == "no_oracle" and row.get("spark_rows") is not None:
                new = "weak"
            else:
                new = "failed"
            prev = state.get(key)
            # green sticks; weak upgrades to green but never downgrades
            # green; any hard failure re-promotes to the front.
            if new == "failed" or prev is None:
                state[key] = new
            elif prev != "green":
                state[key] = new if new == "green" else prev
    failed = [k for k, s in state.items() if s == "failed"]
    weak = [k for k, s in state.items() if s == "weak"]
    passed = [k for k, s in state.items() if s == "green"]
    return failed, weak, passed, list(state), last_green


def check_front(files: list[str]) -> int:
    """Round-start staleness gate: exit non-zero if the committed
    VERIFY_FIRST contains keys that already carry a green driver row in
    the given CORRECTNESS files — i.e. the rotation was not regenerated
    after the last driver run and the round's budget would be re-burned
    on proven keys. Run as the FIRST command of every round:

        python tools/rotate_order.py --check CORRECTNESS_r*.json
    """
    import dbsuite_spark
    from dbsuite_spark import _order

    _, _, green, seen, _last_green = classify(files)
    stale = [k for k in _order.VERIFY_FIRST if k in set(green)]
    if stale:
        print(
            f"STALE rotation: {len(stale)} green keys in VERIFY_FIRST "
            f"(e.g. {stale[:5]}) — run rotate_order.py --write first"
        )
        return 1
    # the complementary drift mode (self-review, round 11): a key added
    # AFTER the last --write is unverified but absent from VERIFY_FIRST,
    # so it registers behind the whole FIRST block and a tight budget
    # could silently push it out of the driver's verification window
    unlisted = [
        k
        for k in dbsuite_spark.queries()
        if k not in set(seen)
        and k not in set(_order.VERIFY_FIRST)
        and k not in set(_order.VERIFY_LAST)
    ]
    if unlisted:
        print(
            f"STALE rotation: {len(unlisted)} never-verified keys not in "
            f"VERIFY_FIRST (e.g. {unlisted[:5]}) — run rotate_order.py "
            "--write first"
        )
        return 1
    # the worse-placed variant of the same drift (ADVICE r11 #2): a
    # never-green key sitting in VERIFY_LAST registers behind everything
    # and the budget never reaches it — flag it just like the unlisted
    # case
    misplaced = [k for k in _order.VERIFY_LAST if k not in set(green)]
    if misplaced:
        print(
            f"STALE rotation: {len(misplaced)} never-green keys in "
            f"VERIFY_LAST (e.g. {misplaced[:5]}) — run rotate_order.py "
            "--write first"
        )
        return 1
    print(
        "rotation fresh: no green keys in VERIFY_FIRST, no unlisted "
        "unverified keys, no never-green keys in VERIFY_LAST"
    )
    return 0


def main() -> int:
    argv = [a for a in sys.argv[1:] if a not in ("--write", "--check")]
    write = "--write" in sys.argv[1:]
    if not argv:
        argv = _default_files()
    if "--check" in sys.argv[1:]:
        if not argv:
            print("no CORRECTNESS_r*.json files found — nothing to check against")
            return 2
        return check_front(argv)
    if not argv:
        print(__doc__)
        return 2

    import dbsuite_spark  # registers every key, already reordered

    registered = list(dbsuite_spark.queries())
    failed, weak, passed, seen, last_green = classify(argv)
    known = set(registered)
    failed = [k for k in failed if k in known]
    weak = [k for k in weak if k in known]
    passed = [k for k in passed if k in known]
    unverified = [k for k in registered if k not in set(seen)]

    # ROLLING RE-CERTIFICATION WHEEL (VERDICT r11 ask #1): with the
    # never-driven backlog at zero, green keys order by last-green round
    # ASCENDING — each ~50-key driver round refreshes the stalest
    # certificates (full wheel ≈ #keys/50 rounds), so no certificate
    # ages more than one wheel revolution behind the code. Ties break by
    # registration order for determinism.
    reg_index = {k: i for i, k in enumerate(registered)}
    passed.sort(key=lambda k: (last_green.get(k, 0), reg_index[k]))

    # Within the unverified block, front-load the keys whose oracles use
    # the trickiest cross-engine machinery.  VERDICT r08 ask #2: 85 keys
    # remain never-driver-driven; front the weakest-certified categories
    # (rec 1/3, events 16/36, sql 3/6, etl 16/31, win 15/23) so the ~50
    # key round-9 budget burns them down and round 10 can finish the
    # rest.  Round-9 additions (newest, zero prior verification anywhere)
    # go first.
    from dbsuite_spark._rounds import (
        ROUND10_KEYS,
        ROUND11_KEYS,
        ROUND12_KEYS,
    )

    PRIORITY = [
        # newest rounds' additions first — canonical lists live in
        # dbsuite_spark._rounds (ONE copy; ADVICE r10 #5)
        *ROUND12_KEYS,
        *ROUND11_KEYS,
        *ROUND10_KEYS,
        # round-9 additions — newest machinery gets driver rows first
        "etl_time_travel_expire",
        "etl_occ_write_conflict",
        "etl_manifest_file_skipping",
        "rec_user_cf_topk",
        "ts_stl_decompose",
        "events_funnel_any_match",
        "docs_span_corruption",
        "agg_salted_two_stage",
        "ts_holt_winters",
        "pipeline_attrition_report",
        "etl_dp_noisy_counts",
        "graph_weighted_sssp",
        "docs_shard_assign_prefix_sum",
        "ts_holt_winters_backtest",
        "etl_partition_evolution",
        "media_dedup_binary_hash",
        "multimodal_contrastive_pairs",
        # weakest categories first (VERDICT r08 ask #2): rec, events, sql
        "rec_assoc_rules", "rec_copurchase_topk",
        "events_funnel_conversion", "events_retention_cohort",
        "events_anomaly_zscore", "events_max_concurrent_sessions",
        "events_dau_wau_mau", "events_rfm_segmentation",
        "events_interarrival_stats", "events_path_topk",
        "events_bot_score", "events_cumulative_adoption",
        "events_kpi_scorecard", "events_decay_score",
        "events_attribution_linear", "events_time_to_convert",
        "events_apdex_score", "events_ucb_allocation",
        "events_contingency_residuals", "events_user_entropy",
        "events_heatmap_dow_hour", "events_power_analysis",
        "sql_star_except", "sql_values_inline", "sql_group_by_all",
        # etl state machinery
        "etl_snapshot_diff", "etl_scd3_dimension",
        "etl_backfill_partitions", "etl_late_arriving_dim",
        "etl_idempotent_load", "etl_surrogate_keys", "etl_calendar_dim",
        "etl_table_fingerprint", "etl_row_level_delete",
        "etl_join_skew_report", "etl_pseudonymize",
        "etl_freshness_report", "etl_k_anonymity", "etl_l_diversity",
        "etl_mask_pii_display",
        # window-state machinery
        "win_sessionize", "win_streak_islands",
        "win_sliding_distinct_users", "win_rolling_ols_slope",
        "win_year_over_year", "win_first_touch_attribution",
        "win_budget_waterfall", "win_conditional_running",
        # catalog / topk / sample / sort stragglers
        "catalog_document", "catalog_column_profile",
        "topk_frequent_items", "sample_stratified_hash",
        "sort_nulls_last_topk",
        # sketch / histogram aggregates
        "agg_bitmap_distinct", "agg_count_min_sketch",
        "agg_histogram_numeric", "agg_grouping_id", "agg_skyline_pareto",
        "agg_revenue_concentration", "agg_log2_histogram",
        "agg_corr_matrix", "agg_histogram_2d", "agg_geometric_mean_log",
        "agg_rollup_share_of_parent",
        # text / docs analysis
        "text_hash_features", "text_readability_flesch",
        "text_stem_light", "text_span_extract", "text_keyword_rake",
        "text_inverted_index", "docs_oov_rate", "docs_vocab_drift",
        "docs_hapax_ratio",
        # scalar semantics / set ops / remaining singles
        "fn_try_arithmetic", "fn_interval_arith", "fn_geo_haversine",
        "fn_regexp_extract_all", "set_symmetric_difference",
        "ml_psi_drift", "ml_cohens_kappa", "graph_assortativity",
        # deliberate tail: with 54 unverified keys and a ~50-key
        # round-10 budget, the LAST 4 spill to round 11 — keep them
        # the four simplest singles so the remainder is trivial
        # (VERDICT r09 ask #1)
        "fn_string_pad_translate", "set_union_by_name",
        "limit_fetch_with_ties", "join_natural",
    ]
    tpch = [k for k in unverified if k.startswith(("tpch_", "ssb_"))]
    prio = [k for k in PRIORITY if k in set(unverified)]
    rest = [k for k in unverified if k not in set(tpch) | set(prio)]
    unverified = tpch + prio + rest

    first = failed + weak + unverified
    last = passed
    lines = [HEADER]
    lines.append("VERIFY_FIRST: list[str] = [")
    if failed:
        lines.append("    # driver-confirmed failures — re-verify first")
        lines.extend(f'    "{k}",' for k in failed)
    if weak:
        lines.append("    # weak (no_oracle) rows — oracles exist now, upgrade to hash-green")
        lines.extend(f'    "{k}",' for k in weak)
    lines.append("    # never driver-verified, registration order")
    lines.extend(f'    "{k}",' for k in unverified)
    lines.append("]")
    lines.append("")
    lines.append("VERIFY_LAST: list[str] = [")
    lines.append(
        "    # driver-verified green — re-certification wheel order:"
    )
    lines.append(
        "    # stalest (oldest last-green round) first, so each round's"
    )
    lines.append("    # budget refreshes the oldest certificates")
    lines.extend(
        f'    "{k}",  # last green r{last_green.get(k, 0)}' for k in passed
    )
    lines.append("]")
    out = "\n".join(lines) + "\n"

    if write:
        order_py = os.path.join(REPO, "dbsuite_spark", "_order.py")
        with open(order_py, "w") as f:
            f.write(out)
        print(
            f"wrote _order.py: {len(first)} first "
            f"({len(failed)} failed + {len(weak)} weak + "
            f"{len(unverified)} unverified), {len(last)} last"
        )
    else:
        print(out)
        print(
            f"# {len(first)} first ({len(failed)} failed + {len(weak)} weak + "
            f"{len(unverified)} unverified), {len(last)} last",
            file=sys.stderr,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
