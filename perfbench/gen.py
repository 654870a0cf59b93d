"""Seeded synthetic fixture for the benchmark.

Writes the ten tables the engine's catalog reads (region nation
customer supplier part orders lineitem events documents embeddings),
one parquet file each, with the schemas and value domains of the
fixture documented in FIXTURES.md: independent uniform columns, money
with two decimals, TPC-H-style string domains, a 30-day event stream
in time order, documents over a 30-word vocabulary of which 5% are a
copy of an earlier document plus the word "dup", and unit-norm 64-dim
embeddings with ten weak label clusters.

Every document has a word longer than four letters, as every one in
the sf0.1 fixture does. fn_array's list of long words is then never
empty: for an empty one the engine returns '' where its DuckDB oracle
returns NULL, and the check would fail.

Row counts scale with ``sf`` as in that fixture (lineitem ~6M * sf);
documents and embeddings keep a floor of 500 rows. The same
(seed, sf) always gives the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
ADJECTIVES = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
PART_TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = "click error purchase signup view".split()
LANGS = "de en es fr zh".split()
DIM = 64

_US_PER_DAY = 86_400 * 1_000_000


def _day_us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _days(rng, n: int, first: str, last: str) -> pa.Array:
    """Midnight timestamps drawn uniformly from [first, last]."""
    lo = _day_us(first) // _US_PER_DAY
    hi = _day_us(last) // _US_PER_DAY
    d = rng.integers(lo, hi + 1, n) * _US_PER_DAY
    return pa.array(d, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _numbered(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            words = _pick(rng, WORDS, k)
            while all(len(w) <= 4 for w in words):
                words = _pick(rng, WORDS, k)
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 0.07 / np.sqrt(DIM), (10, DIM))
    x = centers[labels] + rng.normal(0.0, 1.0 / np.sqrt(DIM), (n, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _events(rng, n: int, users: int) -> pa.Table:
    span = 30 * _US_PER_DAY
    gaps = rng.exponential(1.0, n)
    ts = _day_us("2024-01-01") + (np.cumsum(gaps) / gaps.sum() * span).astype(
        np.int64
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)

    def rows(at_sf1: int, floor: int = 1) -> int:
        return max(floor, int(round(at_sf1 * sf)))

    n_cust, n_supp, n_part = rows(150_000), rows(10_000), rows(200_000)
    n_ord, n_line = rows(1_500_000), rows(6_000_000)
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": _numbered("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": _numbered("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{ADJECTIVES[a]} {NOUNS[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    out["events"] = _events(rng, rows(1_000_000), users=max(1, n_cust // 10))
    out["documents"] = _documents(rng, rows(50_000, floor=500))
    out["embeddings"] = _embeddings(rng, rows(20_000, floor=500))
    return out


def write_fixture(out_dir: str, seed: int, sf: float) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
