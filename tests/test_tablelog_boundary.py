"""The table commit log has ONE home: ``dbsuite_spark/etl/tablelog.py``.

Only that module may hold the on-disk format (commit/checkpoint record
names), the claim (``os.link``; no second ``O_EXCL`` claim) and the
atomic publish (``os.replace``). Its two heaviest users reach it through
one module-level import, never a function-local import of each other.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import threading

from dbsuite_spark.etl import tablelog

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "dbsuite_spark")
HOME = os.path.join("etl", "tablelog.py")

PROTOCOL = re.compile(
    r"os\.link\(|os\.O_EXCL|os\.replace\("
    r"|[\"'][^\"'\n]*(?:commit|checkpoint)-\*\.json[\"']"
)
LOCAL_SIBLING_IMPORT = re.compile(
    r"^[ \t]+from dbsuite_spark\.(?:streaming\.streams|etl\.loaders) import",
    re.M,
)


def _sources() -> dict[str, str]:
    out = {}
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        with open(path) as fh:
            out[os.path.relpath(path, PKG)] = fh.read()
    return out


def test_only_tablelog_knows_the_commit_protocol():
    sources = _sources()
    offenders = {
        rel: sorted(set(PROTOCOL.findall(src)))
        for rel, src in sources.items()
        if rel != HOME and PROTOCOL.search(src)
    }
    assert offenders == {}, offenders
    assert PROTOCOL.search(sources[HOME])


def test_loaders_and_streams_have_no_function_local_sibling_imports():
    src = _sources()
    for rel in (os.path.join("etl", "loaders.py"),
                os.path.join("streaming", "streams.py")):
        assert not LOCAL_SIBLING_IMPORT.findall(src[rel]), rel


def test_publish_json_concurrent_writers(tmp_path):
    """8 threads each publish their own doc to ONE path 50 times: no
    writer raises, the survivor is exactly one of the written docs, and
    no scratch file is left behind (a shared fixed tmp name fails all
    three: a writer's replace finds its tmp already moved, or a torn
    mix of two docs lands)."""
    path = str(tmp_path / "manifest.json")
    docs = [{"writer": i, "pad": "x" * (1000 * (i + 1))} for i in range(8)]
    errors: list[Exception] = []

    def writer(i: int) -> None:
        try:
            for _ in range(50):
                tablelog.publish_json(path, docs[i])
        except Exception as exc:
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the writers as finely as possible
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)

    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    with open(path) as fh:
        assert json.load(fh) in docs
    assert not glob.glob(str(tmp_path / "*.tmp"))
