"""Each copy-paste family has ONE builder.

- The five stream-stream keys run ``streams._attribution_join``: the
  attribution predicate and the purchase-side watermark are spelled once.
- The recall@k dashboards share ``evaluation.recall_at_k`` (and its
  DuckDB twin ``RECALL_AT_K``), scoring against one exact-truth memo,
  ``similarity.exact_truth``.

Text-level only: a second spelling means a key grew its own copy again.
"""

from __future__ import annotations

import glob
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "dbsuite_spark")


def _read(*parts: str) -> str:
    with open(os.path.join(PKG, *parts)) as fh:
        return fh.read()


def test_streams_spell_the_attribution_join_once():
    src = _read("streaming", "streams.py")
    assert src.count("p_user = c_user AND click_ts BETWEEN") == 1
    assert src.count('withWatermark("purchase_ts"') == 1


def test_one_exact_truth_memo_key():
    found = {}
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        with open(path) as fh:
            n = fh.read().count("eval_exact_k:")
        if n:
            found[os.path.relpath(path, PKG)] = n
    assert found == {os.path.join("pipeline", "similarity.py"): 1}, found


def test_evaluation_spells_the_recall_tail_once():
    src = _read("pipeline", "evaluation.py")
    assert src.count("COALESCE(h.n_overlap, 0) AS DOUBLE) /") == 1
