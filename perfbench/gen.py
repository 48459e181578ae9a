"""Seeded input generator for the benchmark.

Writes the tables the benchmark reads (TPC-H-ish star schema, ``events``,
``documents``; schemas as in TESTDATA.md) as one parquet
file per table. Every value comes from ``numpy.random.default_rng(seed)``,
so one seed always gives byte-identical inputs, and every table is written
in a seeded row order, so no query can lean on file order.

``amplify`` adds id-shifted copies of ``documents``.
The shift is a multiple of 4, so the ``doc_id % 4`` corpus/incoming split
of the streaming capstones keeps every copy on its original's side. Each
document copy gets one seed-chosen extra token, which makes the copies
near-duplicates (not exact ones) of their original.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = ("blue", "hot", "large", "ring", "bolt", "steel", "green", "nut")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")

STAR = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    """``n`` uniform dates in [start, end] as datetime64[us]."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _star(rng, sf: float) -> dict[str, dict]:
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    keys = np.arange
    return {
        "region": {
            "r_regionkey": keys(5, dtype=np.int32),
            "r_name": list(REGIONS),
        },
        "nation": {
            "n_nationkey": keys(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": keys(25, dtype=np.int32) % 5,
        },
        "customer": {
            "c_custkey": keys(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        },
        "supplier": {
            "s_suppkey": keys(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": keys(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(PART_WORDS, n_part), rng.choice(PART_WORDS, n_part)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900 + (keys(n_part) % 1000) / 10, 2),
        },
        "orders": {
            "o_orderkey": keys(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord).tolist(),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(("A", "N", "R"), n_line).tolist(),
            "l_linestatus": rng.choice(("F", "O"), n_line).tolist(),
            "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        },
    }


def _events(rng, sf: float) -> dict:
    n, n_users = int(1_000_000 * sf), int(15_000 * sf)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n).tolist(),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _documents(rng, sf: float) -> dict:
    """Bag-of-words documents of 10-100 tokens. About 5% re-use an earlier
    document plus the token ``dup`` (near-duplicates) and 0.2% repeat one
    verbatim (exact duplicates), so every dedup operator finds work."""
    n = int(50_000 * sf)
    texts: list[str] = []
    kinds = rng.random(n)
    for i in range(n):
        if i > 10 and kinds[i] < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and kinds[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    langs = rng.choice(LANGS, n, p=(0.4, 0.15, 0.15, 0.15, 0.15))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _amplify(rng, cols: dict, id_col: str, copies: int) -> dict:
    """Append ``copies - 1`` id-shifted copies. The shift is the smallest
    multiple of 4 above the largest id, so ``id % 4`` is preserved."""
    ids = cols[id_col]
    shift = (int(ids.max()) // 4 + 1) * 4
    out = {k: [v] for k, v in cols.items()}
    for c in range(1, copies):
        out[id_col].append(ids + c * shift)
        for k, v in cols.items():
            if k == id_col:
                continue
            if k == "text":
                token = f"tok{int(rng.integers(0, 10_000)):04d}"
                v = [f"{t} {token}" for t in v]
            elif k == "n_chars":
                v = np.array([len(t) for t in out["text"][-1]], dtype=np.int64)
            out[k].append(v)
    return {
        k: np.concatenate(parts) if isinstance(parts[0], np.ndarray) else sum(parts, [])
        for k, parts in out.items()
    }


def _write(path: str, cols: dict, rng) -> int:
    n = len(next(iter(cols.values())))
    order = rng.permutation(n)
    arrays = {}
    for k, v in cols.items():
        if isinstance(v, np.ndarray):
            arrays[k] = pa.array(v[order])
        else:
            arrays[k] = pa.array([v[i] for i in order], pa.string())
    pq.write_table(pa.table(arrays), path)
    return os.path.getsize(path)


def generate(
    out_dir: str, seed: int, tables: tuple[str, ...], sf: float, amplify: int = 1
) -> dict[str, int]:
    """Write ``tables`` at scale ``sf`` under ``out_dir``; returns the
    bytes written per table. The same ``(seed, tables, sf, amplify)``
    always yields the same files."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    cols: dict[str, dict] = {}
    if any(t in STAR for t in tables):
        cols.update(_star(rng, sf))
    if "events" in tables:
        cols["events"] = _events(rng, sf)
    if "documents" in tables:
        cols["documents"] = _amplify(rng, _documents(rng, sf), "doc_id", amplify)
    return {
        t: _write(os.path.join(out_dir, f"{t}.parquet"), cols[t], rng) for t in tables
    }
