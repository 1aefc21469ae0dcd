"""Seeded generator for the query workloads' input tables.

Writes the ten tables the query registry reads (``catalog.TESTDATA_TABLES``)
as one parquet file each, with the column names, types and value domains
of the driver test data (TESTDATA.md), at a chosen scale factor. Row
counts depend on the scale factor only; the seed changes values, never
sizes, so the work per pass is the same for every seed.
"""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["small", "red", "blue", "hot", "green", "large", "cold", "shiny"]
P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "spring", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark data column order join small big line customer query window "
    "stream sort filter group vector"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_EPOCH = dt.datetime(1995, 1, 1)
_ORDER_SPAN_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_EVENT_T0 = dt.datetime(2024, 1, 1)
_EVENT_SPAN_S = 30 * 86400


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (TPC-H proportions;
    documents and embeddings have a floor of 500 rows, as in the
    driver data)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1500, int(1_500_000 * sf)),
        "lineitem": max(6000, int(6_000_000 * sf)),
        "events": max(1000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(base: dt.datetime, offsets: np.ndarray) -> pa.Array:
    us = (offsets.astype("int64") * 86_400_000_000) + int(
        (base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000
    )
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; one in ten is a near copy of an earlier one
    (a few words swapped), so the dedup operators find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 3):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            words.append("dup")
        else:
            k = int(rng.integers(8, 100))
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), k)]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{j}" for j in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors drawn around ten label centres."""
    labels = rng.integers(0, 10, n)
    centres = rng.normal(size=(10, dim))
    vecs = centres[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def generate(out_dir: str | Path, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns the row counts."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(
                    rng.integers(0, len(P_ADJ), npart),
                    rng.integers(0, len(P_NOUN), npart),
                )
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, npart)],
            "p_type": [P_TYPES[j] for j in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
        }
    )
    no = n["orders"]
    order_day = rng.integers(0, _ORDER_SPAN_DAYS, no)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000, 500_000, no),
            "o_orderdate": _days(_EPOCH, order_day),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    l_order = np.sort(rng.integers(0, no, nl))
    first = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    run_start = np.repeat(first, np.diff(np.r_[first, nl]))
    qty = rng.integers(1, 51, nl).astype("float64")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(np.arange(nl) - run_start + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 3000, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100,
            "l_tax": rng.integers(0, 9, nl) / 100,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, nl)],
            "l_shipdate": _days(
                _EPOCH, order_day[l_order] + rng.integers(1, 122, nl)
            ),
        }
    )
    ne = n["events"]
    offs_us = np.sort(rng.integers(0, _EVENT_SPAN_S * 1_000_000, ne))
    t0_us = int((_EVENT_T0 - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(offs_us + t0_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(50, nc // 10), ne), pa.int64()),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, ne)],
            "value": _money(rng, 0.01, 490.0, ne),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])

    for name, tbl in tables.items():
        pq.write_table(tbl, out / f"{name}.parquet")
    return {name: tbl.num_rows for name, tbl in tables.items()}
