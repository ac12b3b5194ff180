"""Antimeridian correctness of the grid-binned radius join (ADVICE r05).

The fixture's deterministic coordinate walk is a 0.1° lattice with only
3600 distinct positions, and (checked exhaustively this round) NO
customer/supplier pair within 50 km straddles ±180° for ANY key — the
seam path was untestable end-to-end against fixture data. Round 6 made
the oracle a genuinely unbinned haversine predicate (so fixture runs
verify the banding independently) and added lon-cell wraparound to the
supplier explosion; this test monkeypatches the coordinate derivation to
a finer synthetic walk that DOES produce a seam pair and proves the
operator's wraparound cells find it.
"""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.parquet as pq

from dbsuite_spark.tables import FIXTURE_SCHEMA


def _haversine_km(lat1, lon1, lat2, lon2):
    dphi = math.radians(lat2 - lat1) / 2
    dlmb = math.radians(lon2 - lon1) / 2
    a = (
        math.sin(dphi) ** 2
        + math.cos(math.radians(lat1))
        * math.cos(math.radians(lat2))
        * math.sin(dlmb) ** 2
    )
    return round(2 * 6371.0 * math.asin(math.sqrt(a)), 6)


def _syn_lat_col(key, mult):  # noqa: ARG001 - signature mirrors geo._lat
    return ((key % 7).cast("double") / 100.0) + 59.0


def _syn_lon_col(key, mult):  # noqa: ARG001
    return ((key % 36000).cast("double") / 100.0) - 180.0


def _syn_lat(k):
    return (k % 7) / 100.0 + 59.0


def _syn_lon(k):
    return (k % 36000) / 100.0 - 180.0


def _write_keys_only(tmp_path, table, keys):
    """A fixture file with ``table``'s full column layout (``t()`` checks
    the footer's column names) and only its first, key column filled."""
    cols = [c for c, _ in FIXTURE_SCHEMA[table]]
    pq.write_table(
        pa.table(
            {
                c: pa.array(keys, pa.int64()) if i == 0 else pa.nulls(len(keys))
                for i, c in enumerate(cols)
            }
        ),
        str(tmp_path / f"{table}.parquet"),
    )


def test_radius_grid_finds_antimeridian_pair(spark, tmp_path, monkeypatch):
    import dbsuite_spark.functions.geo as geo

    # customer at lon +179.99, supplier at lon -179.99: 0.02° apart
    # across the seam (~1.1 km at lat 59), raw lon cells 179 vs -180 —
    # NOT numerically adjacent, only the wraparound can join them.
    ck, sk, far = 35999, 36001, 18000
    assert math.floor(_syn_lon(ck)) == 179
    assert math.floor(_syn_lon(sk)) == -180
    d_expect = _haversine_km(
        _syn_lat(ck), _syn_lon(ck), _syn_lat(sk), _syn_lon(sk)
    )
    assert d_expect < 50.0
    # the control key sits at lon 0 — no pair with either seam point
    assert _haversine_km(
        _syn_lat(far), _syn_lon(far), _syn_lat(sk), _syn_lon(sk)
    ) > 50.0

    _write_keys_only(tmp_path, "customer", [ck, far])
    _write_keys_only(tmp_path, "supplier", [sk])
    monkeypatch.setattr(geo, "_lat", _syn_lat_col)
    monkeypatch.setattr(geo, "_lon", _syn_lon_col)
    rows = geo.join_geo_radius_grid(spark, str(tmp_path)).collect()
    assert len(rows) == 1, (
        f"seam pair (cust {ck}, supp {sk}) missed — lon-cell wraparound "
        f"is broken (got {rows})"
    )
    assert (rows[0].c_custkey, rows[0].s_suppkey) == (ck, sk)
    assert rows[0].dist_km == d_expect


def test_radius_grid_wrap_never_duplicates_pairs(spark, sf_dir):
    """The three raw lon cells a supplier explodes to are distinct mod
    360, so wrapping must never make the same (supplier, customer) pair
    collide in two cells — one output row per qualifying pair."""
    from dbsuite_spark.functions.geo import join_geo_radius_grid

    got = join_geo_radius_grid(spark, sf_dir)
    assert got.count() == (
        got.select("s_suppkey", "c_custkey").distinct().count()
    )


def test_radius_grid_oracle_is_unbinned():
    """The oracle must verify the banding independently: no FLOOR-cell
    join condition may appear in it (ADVICE r05 circularity)."""
    from dbsuite_spark.functions.geo import _GEO_RADIUS_ORACLE

    assert "FLOOR" not in _GEO_RADIUS_ORACLE.upper(), (
        "oracle re-introduced cell binning — circular verification"
    )
