"""The deterministic row hash has ONE home: ``dbsuite_spark/exact.py``.

Samplers, splits, fingerprints, simhash/MinHash estimators and A/B arms
all draw from the first 15 hex digits of md5 read as a BIGINT. Only
``exact.md5_bigint`` (Spark) and ``exact.MD5_BIGINT`` (DuckDB) may spell
that hash; every other module calls them. Two md5-prefix hashes of a
different width are separate hashes and stay where they are.
"""

from __future__ import annotations

import glob
import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "dbsuite_spark")
HOME = "exact.py"

# md5 hex prefix parsed as an integer, in each engine's spelling; the
# group is the prefix width in hex digits
SPELLINGS = (
    # Spark Column API: F.conv(F.substring(F.md5(x), 1, n), 16, 10)
    re.compile(
        r"F\.conv\(\s*F\.substring\(\s*F\.md5\(.*?\),\s*1,\s*(\d+)\s*,?\s*\)",
        re.S,
    ),
    # Spark SQL text: conv(substr(md5(x), 1, n), 16, 10)
    re.compile(
        r"(?<![\w.])conv\(\s*substr(?:ing)?\(\s*md5\(.*?\),\s*1,\s*(\d+)\s*\)",
        re.S,
    ),
    # DuckDB: CAST('0x' || substr(md5(x), 1, n) AS BIGINT)
    re.compile(r"'0x'\s*\|\|\s*substr\(\s*md5\(.*?\),\s*1,\s*(\d+)\s*\)", re.S),
)
# Out of scope: other widths are other hashes, and changing them would
# change their keys' results.
OTHER_WIDTHS = {
    # text_hash_features' 8-digit bucket hash (_HB_SPARK / _HB_DUCK)
    (os.path.join("pipeline", "features.py"), "8"),
    # the bootstrap's 52-bit uniform (exact as a double numerator)
    (os.path.join("operators", "stats_extra.py"), "13"),
}


def _spellings() -> dict[str, list[str]]:
    out = {}
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        with open(path) as fh:
            src = fh.read()
        widths = [w for pat in SPELLINGS for w in pat.findall(src)]
        if widths:
            out[os.path.relpath(path, PKG)] = widths
    return out


def test_only_exact_spells_the_row_hash():
    found = _spellings()
    home = found.pop(HOME, [])
    offenders = {rel: w for rel, w in found.items() if "15" in w}
    assert offenders == {}, offenders
    assert sorted(home) == ["15", "15"]
    others = {(rel, w) for rel, ws in found.items() for w in ws}
    assert others == OTHER_WIDTHS, others
