"""SURVEY §2 ↔ registry parity guard (VERDICT r03 item 3).

Round 3 shipped a key (`ts_rollup_multi_grain`) that was registered,
oracled, and plan-pinned but missing from SURVEY §2 — invisible to
anyone auditing contract coverage from the document. The documented
contract must equal the registry, both ways, at every commit.
"""

from __future__ import annotations

import os
import re

import dbsuite_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _survey_keys() -> set[str]:
    lines = open(os.path.join(REPO, "SURVEY.md")).read().split("\n")
    s = next(i for i, l in enumerate(lines) if l.startswith("## 2."))
    e = next(i for i, l in enumerate(lines) if l.startswith("## 3."))
    keys = set()
    for line in lines[s:e]:
        m = re.match(r"\|\s*`([a-z0-9_]+)`", line)
        if m:
            keys.add(m.group(1))
    return keys


def test_survey_section2_equals_registry():
    reg = set(dbsuite_spark.queries())
    doc = _survey_keys()
    assert reg - doc == set(), (
        f"registered but undocumented in SURVEY §2: {sorted(reg - doc)[:5]}"
    )
    assert doc - reg == set(), (
        f"documented in SURVEY §2 but not registered: {sorted(doc - reg)[:5]}"
    )


def _table_keys(text: str) -> list[str]:
    return re.findall(r"^\| `([a-z0-9_]+)` \|", text, re.M)


def test_prose_counts_match_tables():
    """The PROSE counts in SURVEY.md/README.md must equal the machine
    counts (VERDICT r07 item 5: three prose numbers had drifted while
    the membership-parity test above stayed green)."""
    survey = open(os.path.join(REPO, "SURVEY.md")).read()
    readme = open(os.path.join(REPO, "README.md")).read()
    m_start = survey.index("### M. Extensions")
    n_start = survey.index("### N.")
    s2_start = survey.index("## 2.")
    n_contract = len(_table_keys(survey[s2_start:m_start]))
    n_ext = len(_table_keys(survey[m_start:n_start]))
    reg = set(dbsuite_spark.queries())
    n_tpch = sum(k.startswith("tpch_") for k in reg)
    n_ssb = sum(k.startswith("ssb_") for k in reg)
    assert n_contract + n_ext + n_tpch + n_ssb == len(reg)

    # SURVEY §M header + preamble
    assert f"beyond the {n_contract}-key contract" in survey, (
        f"§M header count drifted from {n_contract}"
    )
    assert f"{n_ext} keys as of this revision" in survey, (
        f"§M preamble count drifted from {n_ext}"
    )
    assert f"− {n_contract} contract − {n_tpch} TPC-H − {n_ssb} SSB" in survey
    # §2 trailing count line
    assert f"**Count: {n_contract} operator keys" in survey, (
        f"§2 trailing count drifted from {n_contract}"
    )
    # README headline
    assert f"{len(reg)} registered operator keys" in readme
    assert f"the {n_contract}-key SURVEY §2 contract plus {n_ext}" in readme, (
        f"README contract/extension counts drifted from "
        f"{n_contract}/{n_ext}"
    )
