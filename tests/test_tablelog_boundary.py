"""The table commit log has ONE home: ``dbsuite_spark/etl/tablelog.py``.

Only that module may hold the on-disk format (commit/checkpoint record
names), the claim (``os.link``; no second ``O_EXCL`` claim) and the
atomic publish (``os.replace``). Its two heaviest users reach it through
one module-level import, never a function-local import of each other.
The snapshot keys that moved onto the log write commit records, not a
single-file ``manifest.json``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import threading

import pytest

import dbsuite_spark
from dbsuite_spark.etl import tablelog
from dbsuite_spark.etl.io import artifact_path

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "dbsuite_spark")
HOME = os.path.join("etl", "tablelog.py")

PROTOCOL = re.compile(
    r"os\.link\(|os\.O_EXCL|os\.replace\("
    r"|[\"'][^\"'\n]*(?:commit|checkpoint)-\*\.json[\"']"
)
# snapshot key -> its table directory under the artifact root
LOG_KEYS = {
    "etl_time_travel_read": "tt_orders",
    "etl_time_travel_expire": "tt_expire",
    "etl_manifest_file_skipping": "tt_skip",
    "etl_partition_evolution": "tt_pe",
    "etl_vacuum_orphan_files": "tt_vacuum",
}
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


@pytest.mark.parametrize("key", sorted(LOG_KEYS))
def test_snapshot_keys_write_a_commit_log(spark, sf_dir, key):
    """Each of these keys is a scenario over the commit log: after a
    run its table directory holds ``commit-*.json`` records and no
    single-file ``manifest.json``."""
    dbsuite_spark.all_specs()[key].fn(spark, sf_dir).collect()
    table_dir = artifact_path(sf_dir, LOG_KEYS[key])
    assert tablelog._log_commits(table_dir), sorted(os.listdir(table_dir))
    assert not os.path.exists(os.path.join(table_dir, "manifest.json"))
