"""Seeded generator for the fixture tables the engine reads.

Writes the ten tables of ``dbsuite_spark.tables.TABLES`` as one parquet
file each, with the schema and value domains the registry was built
against (TPC-H-ish star schema, an event stream, a document corpus with
seeded near-duplicates, unit-norm 64-d embeddings). The same seed and
scale give byte-identical inputs; the scale only sets row counts.

Every column's histogram is fixed by the scale, and the seed only decides
which row gets which value: each value of a key or category column occurs
the same number of times under every seed, and numeric columns are
stratified samples of their distribution. So filter selectivities, join
fan-outs and group sizes, and the plans the optimizer picks from them,
are the same for every seed, and runs of different seeds measure the same
amount of work on different inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "cold", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _ints(rng: np.random.Generator, lo: int, hi: int, n: int, dtype=np.int64) -> np.ndarray:
    """``n`` integers in ``[lo, hi)``, each value as often as the others."""
    return (lo + rng.permutation(np.arange(n) % (hi - lo))).astype(dtype)


def _pick(rng: np.random.Generator, values: list, n: int, p: list | None = None) -> np.ndarray:
    """``n`` draws from ``values``: value ``i`` occurs ``round(p[i] * n)``
    times (equal shares without ``p``), in seeded positions."""
    counts = np.round(np.asarray(p if p is not None else [1 / len(values)] * len(values)) * n)
    counts[-1] = n - counts[:-1].sum()
    return rng.permutation(np.repeat(np.asarray(values), counts.astype(int)))


def _uniform01(rng: np.random.Generator, n: int) -> np.ndarray:
    """A stratified sample of U(0, 1): one value in each of ``n`` equal
    strata, in seeded order."""
    return (rng.permutation(n) + rng.random(n)) / n


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(lo + (hi - lo) * _uniform01(rng, n), 2)


def _exponential(rng: np.random.Generator, mean: float, n: int) -> np.ndarray:
    return -mean * np.log1p(-_uniform01(rng, n))


def tables(seed: int, sf: float, docs: int, vecs: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": _ints(rng, 0, 25, n_cust, np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": _ints(rng, 0, 25, n_supp, np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": _pick(rng, names, n_part),
            "p_brand": [f"Brand#{b}" for b in _ints(rng, 1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": _ints(rng, 1, 51, n_part, np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    odate = _EPOCH_1995 + _ints(rng, 0, 2404, n_ord) * _DAY_US
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": _ints(rng, 0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(odate),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    qty = _ints(rng, 1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": _ints(rng, 0, n_ord, n_line),
            "l_partkey": _ints(rng, 0, n_part, n_line),
            "l_suppkey": _ints(rng, 0, n_supp, n_line),
            "l_linenumber": _ints(rng, 1, 8, n_line, np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * (900.0 + 1200.0 * _uniform01(rng, n_line)), 2),
            "l_discount": _ints(rng, 0, 11, n_line) / 100.0,
            "l_tax": _ints(rng, 0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts(_EPOCH_1995 + _ints(rng, 1, 2500, n_line) * _DAY_US),
        }
    )
    # Strictly increasing microsecond timestamps over about 30 days.
    gaps = _exponential(rng, 30 * _DAY_US / n_evt, n_evt).astype(np.int64) + 1
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
            "user_id": _ints(rng, 0, n_users, n_evt),
            "event_type": _pick(rng, EVENT_TYPES, n_evt),
            "value": np.maximum(0.01, np.round(_exponential(rng, 50.0, n_evt), 2)),
            "props": [f'{{"k": {k}}}' for k in _ints(rng, 0, 100, n_evt)],
        }
    )
    # One document in twenty after the first twenty is a near-duplicate:
    # an earlier original document plus one token. Copying only originals
    # keeps every duplicate group one level deep under every seed.
    dups = set(20 + rng.permutation(docs - 20)[: round(0.05 * (docs - 20))])
    lengths = _ints(rng, 10, 100, docs)
    texts: list[str] = []
    originals: list[str] = []
    for i in range(docs):
        if i in dups:
            texts.append(originals[int(rng.integers(0, len(originals)))] + " dup")
        else:
            originals.append(" ".join(rng.choice(VOCAB, lengths[i])))
            texts.append(originals[-1])
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(docs, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, docs, LANG_P),
            "source": [f"src{i % 20}" for i in range(docs)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    emb = rng.standard_normal((vecs, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(vecs, dtype=np.int64),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": _ints(rng, 0, 10, vecs, np.int32),
        }
    )
    return out


def generate(out_dir: str, seed: int, sf: float, docs: int, vecs: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet`` (one row group)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf, docs, vecs).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
