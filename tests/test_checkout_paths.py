"""Tools and tests find the checkout from ``__file__``, never from a
hard-coded absolute path: a copy of the repo elsewhere must verify (and
``tools/rotate_order.py --write`` must rewrite) ITS OWN code, not the
code of whichever checkout the path names."""

from __future__ import annotations

import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# an absolute import root or working directory is a hard-coded checkout
ABSOLUTE_ROOT = re.compile(
    r"""sys\.path\.insert\(\s*0,\s*f?["']/|cwd=f?["']/"""
)


def test_no_tool_or_test_hardcodes_the_checkout():
    offenders = []
    for sub in ("tools", "tests"):
        for path in glob.glob(os.path.join(REPO, sub, "**", "*.py"),
                              recursive=True):
            with open(path) as fh:
                src = fh.read()
            if REPO in src or ABSOLUTE_ROOT.search(src):
                offenders.append(os.path.relpath(path, REPO))
    assert offenders == [], offenders
