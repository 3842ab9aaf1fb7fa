"""Seeded fixture generator for the benchmark.

Writes the ten tables the engine registers (``engine.TABLES``) as one
single-row-group parquet file each, with the schemas, physical types,
value domains and row counts per scale factor of the fixture tables
described in FIXTURES.md / TESTDATA.md.  The same ``(seed, sf)`` always
gives byte-identical values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

DAY_US = 86_400_000_000


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, domain: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(domain), size=n, p=p)
    return pa.array(np.asarray(domain, dtype=object)[idx].tolist(), type=pa.string())


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every fixture table at scale ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng([seed, int(round(sf * 1_000_000))])
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_user = max(15, int(15_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), type=pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), type=pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pkeys = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pkeys, type=pa.int64()),
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (pkeys % 1000) / 10.0, 2)),
        }
    )
    day0, n_days = _us("1995-01-01"), 2404
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _ts(day0 + rng.integers(0, n_days + 1, n_ord) * DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), type=pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), type=pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
            "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_line), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_line), 2)),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts(day0 + DAY_US + rng.integers(0, 2498, n_line) * DAY_US),
        }
    )
    evt_ts = np.sort(_us("2024-01-01") + rng.integers(0, 30 * DAY_US, n_evt))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), type=pa.int64()),
            "ts": _ts(evt_ts),
            "user_id": pa.array(rng.integers(0, n_user, n_evt), type=pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_evt),
            "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
        }
    )
    texts: list[str] = []
    lens = rng.integers(10, 101, n_doc)
    dup_of = rng.integers(0, n_doc, n_doc)
    is_dup = rng.random(n_doc) < 0.05
    words = np.asarray(WORDS, dtype=object)
    for i in range(n_doc):
        texts.append(" ".join(words[rng.integers(0, len(WORDS), lens[i])]))
    for i in np.flatnonzero(is_dup):
        # a near-duplicate: another document's text plus one marker token
        texts[i] = texts[dup_of[i]] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), type=pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), type=pa.int64()),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), type=pa.int32()),
        }
    )
    return out


def write_fixtures(out_dir: str, seed: int, sf: float) -> str:
    """Write every table under ``out_dir`` and return it (an ``sf_dir``)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
    return out_dir
