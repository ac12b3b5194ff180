"""Function checks outside the key registry (SURVEY §2H).

xxhash64 / crc32 / hash are engine-specific, so their contract here is
determinism + dtype, not cross-engine equality (fn_hash_funcs covers the
cross-engine pair md5/sha256). The row hash ``exact.md5_bigint`` and its
DuckDB twin ``MD5_BIGINT`` must agree value for value."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from dbsuite_spark.exact import MD5_BIGINT, md5_bigint
from dbsuite_spark.tables import t

TWIN_INTS = (0, 1, -1, 2**62)
TWIN_STRS = ("abc", "doc 42|x", "naïve café", "日本語", "\U0001f642", "", None)


def test_engine_specific_hashes_deterministic(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.xxhash64("text").alias("h_xx"),
        F.crc32("text").alias("h_crc"),
        F.hash("text").alias("h_murmur"),
    )
    a = {r.doc_id: (r.h_xx, r.h_crc, r.h_murmur) for r in d.collect()}
    b = {r.doc_id: (r.h_xx, r.h_crc, r.h_murmur) for r in d.collect()}
    assert a == b and len(a) > 0
    schema = dict(d.dtypes)
    assert schema == {
        "doc_id": "bigint",
        "h_xx": "bigint",
        "h_crc": "bigint",
        "h_murmur": "int",
    }


def test_md5_bigint_matches_duckdb_twin(spark, ddb, sf_dir):
    """Each engine renders the same inputs (integer literals and the
    fixture's doc_ids through its own string cast, plus ASCII, non-ASCII,
    empty and NULL strings) and hashes them with its half of the pair."""
    ints = spark.createDataFrame([(v,) for v in TWIN_INTS], "v bigint")
    strs = spark.createDataFrame([(s,) for s in TWIN_STRS], "s string")
    docs = t(spark, sf_dir, "documents")
    rendered = (
        ints.select(F.col("v").cast("string").alias("s"))
        .unionByName(strs)
        .unionByName(docs.select(F.col("doc_id").cast("string").alias("s")))
    )
    got = rendered.select("s", md5_bigint(F.col("s")).alias("h")).collect()

    int_sql = " UNION ALL ".join(
        f"SELECT CAST(CAST({v} AS BIGINT) AS VARCHAR) AS s" for v in TWIN_INTS
    )
    want = ddb.execute(
        f"""SELECT s, {MD5_BIGINT("s")} AS h FROM (
              {int_sql}
              UNION ALL SELECT unnest(?::VARCHAR[]) AS s
              UNION ALL SELECT CAST(doc_id AS VARCHAR) AS s FROM documents)""",
        [list(TWIN_STRS)],
    ).fetchall()

    def key(row):
        return (row[0] is None, row[0] or "")

    spark_rows = sorted(((r.s, r.h) for r in got), key=key)
    duck_rows = sorted(want, key=key)
    assert len(spark_rows) == len(TWIN_INTS) + len(TWIN_STRS) + docs.count()
    assert spark_rows == duck_rows
    for s, h in spark_rows:
        if s is None:
            assert h is None
        else:
            assert 0 <= h < 2**60
            assert h == int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
