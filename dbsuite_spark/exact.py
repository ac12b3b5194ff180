"""Cross-engine numeric determinism helpers (SURVEY §7.4.1–.2).

Money/measure columns in the fixtures are ``double``. Naive ``SUM(double)``
is summation-order-dependent, so Spark and the DuckDB oracle can disagree in
the last ulp and break the driver's value-hash. Discipline used everywhere:

- per-row arithmetic stays in double (IEEE ops are order-free per row and
  identical across engines),
- the row value is cast to DECIMAL(18,6) — an exact, order-free domain —
- the aggregate (SUM) runs over the decimal,
- the final result is cast back to double for a stable, engine-neutral
  schema.

``dsum(col)`` / the ``DSUM(expr)`` SQL macro implement the two sides.
This also holds at cluster scale: exact decimal partial aggregates commute,
so partial+final (map-side combine) aggregation stays bit-identical no
matter the partitioning.

Caveat (round 3, observed on fixtures): the final DECIMAL→DOUBLE cast is
only cross-engine-identical on the int64-backed DECIMAL(18,6) — there it
is an exactly-represented integer divided by 1e6, one correctly-rounded
IEEE division on both engines. DuckDB's cast from the int128-backed
DECIMAL(38,12) is NOT always correctly rounded (seen 1 ulp high on an
events sum-of-squares), while Spark's BigDecimal.doubleValue is — so
``dsum_wide``/``DSUM_WIDE`` results can disagree in the last ulp. Use the
wide variant only where the projection tolerates that (or where the
compared value keeps more slack); prefer (18,6) and widen the INTEGRAL
digits via scaling when magnitudes demand it.

Hashing: ``md5_bigint(col)`` / ``MD5_BIGINT(expr)`` are the one
deterministic row hash (samplers, splits, fingerprints, simhash/MinHash,
A/B arms): the first 15 hex digits of md5, read as a BIGINT. md5 is
implemented identically by both engines, so equal input strings give equal
integers. 15 hex digits are 60 bits, so the value always lies in
[0, 2^60) and stays positive in a signed BIGINT; 16 digits would overflow
it. Draws such as ``% 100 < pct`` stay at the call site, and so does the
rendering of the input: hash integer, string and timestamp renderings
only, never the text of a double — its form differs across engines (see
``etl_table_fingerprint``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"
DEC_WIDE = "decimal(38,12)"


def dsum(col: Column) -> Column:
    """Order-independent exact sum of a double column, returned as double."""
    return F.sum(col.cast(DEC)).cast("double")


def dsum_wide(col: Column) -> Column:
    """Like dsum but 12 fractional digits (for products/squares)."""
    return F.sum(col.cast(DEC_WIDE)).cast("double")


def davg(col: Column) -> Column:
    """Order-independent average: exact decimal sum / count, as double."""
    return F.sum(col.cast(DEC)).cast("double") / F.count(col)


def DSUM(expr: str) -> str:
    """DuckDB-side twin of dsum()."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE)"


def DSUM_WIDE(expr: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,12))) AS DOUBLE)"


def DAVG(expr: str) -> str:
    """DuckDB-side twin of davg()."""
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE)"
        f" / COUNT({expr})"
    )


def md5_bigint(col: Column) -> Column:
    """First 15 hex digits of md5(col) as a BIGINT in [0, 2^60)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def MD5_BIGINT(expr: str) -> str:
    """DuckDB-side twin of md5_bigint()."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def BIGCOUNT(expr: str = "*") -> str:
    """DuckDB COUNT returns HUGEINT/INT128; Spark returns long. Align."""
    return f"CAST(COUNT({expr}) AS BIGINT)"
