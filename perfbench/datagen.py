"""Deterministic fixture tables for the benchmark.

Builds the ten tables the engine's catalog binds (``sources.catalog.
TABLE_NAMES``) with the schemas and value domains of the project's
fixture set (FIXTURES.md): a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``. Row counts scale like the fixtures
(lineitem = 6M x sf). A workload's directory holds, as one
single-row-group parquet file each, only the tables its ops read, so
that ``register_tables`` binds no table the workload never scans.

The data seed is fixed: every benchmark seed reads the same tables, so
two seeds do the same work in a different order. A generated directory
is stamped and reused; a stamp from another generator version, scale or
table list makes it regenerate.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
GENERATOR_VERSION = "1"

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in µs


def _days(rng: np.random.Generator, n: int, lo: int, hi: int) -> pa.Array:
    """Midnight timestamps ``lo..hi`` days after 1995-01-01 (µs, naive)."""
    us = _EPOCH_1995 + rng.integers(lo, hi + 1, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
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
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0,
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, 0, 2404),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, n_line, 1, 2499),
        }
    )
    ts0 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": pa.array(
                np.sort(ts0 + rng.integers(0, 30 * _DAY_US, n_evt)), pa.timestamp("us")
            ),
            "user_id": rng.integers(0, max(15, n_evt * 3 // 200), n_evt),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)],
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(k))])
        for k in rng.integers(10, 101, n_doc)
    ]
    # near-duplicates (an existing text plus a marker word) and a few
    # exact duplicates, so the dedup operators have work that matches
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    for i in rng.choice(n_doc, max(1, n_doc // 600), replace=False):
        texts[i] = texts[(i + 1) % n_doc]
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    emb = rng.normal(0.0, 1.0, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return out


def _stamp(sf: float, names: tuple[str, ...]) -> str:
    src = open(os.path.abspath(__file__), "rb").read()
    return f"{GENERATOR_VERSION}:{sf}:{DATA_SEED}:{','.join(names)}:{hashlib.sha1(src).hexdigest()}"


def ensure(root: str, sf: float, names: tuple[str, ...], tag: str) -> str:
    """Return ``<root>/<tag>``, holding the tables ``names`` at scale
    ``sf``; generate it first unless a complete copy from this generator
    is already there. Every table is generated, so a table's rows do not
    depend on which others are written."""
    d = os.path.join(root, tag)
    stamp = os.path.join(d, ".stamp")
    want = _stamp(sf, names)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return d
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, t in _tables(sf).items():
        if name not in names:
            continue
        pq.write_table(
            t, os.path.join(tmp, f"{name}.parquet"), compression="snappy",
            row_group_size=max(1, t.num_rows),
        )
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(want)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d


def describe(d: str) -> dict[str, dict[str, int]]:
    """Rows and bytes of every generated table."""
    return {
        f[: -len(".parquet")]: {
            "rows": pq.ParquetFile(os.path.join(d, f)).metadata.num_rows,
            "bytes": os.path.getsize(os.path.join(d, f)),
        }
        for f in sorted(os.listdir(d))
        if f.endswith(".parquet")
    }
