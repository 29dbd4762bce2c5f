"""Seeded analytics tables for analytics-mix, written as parquet.

Same table names, column names and physical types as the repo's testdata
(tables.TABLES: a TPC-H-like star schema plus events, documents and
embeddings), at a fixed size a warm pass over the mix finishes in a few
seconds on 4 cores. Everything is a function of the seed.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 3_000,
    "supplier": 200,
    "part": 4_000,
    "orders": 30_000,
    "events": 20_000,
    "users": 300,
    "documents": 1_000,
    "embeddings": 400,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
VOCAB = (
    "vector column customer table scan spark value data join big key slow "
    "stream row line group filter window merge a batch small agg hash query "
    "the order part fast sort"
).split()
LANGS = ["en", "en", "en", "en", "es", "fr", "de", "zh"]
DIM, LABELS = 64, 10

DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01
EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _props(rng, n: int) -> list[str]:
    """'{"k": n}' documents, about 3% of them broken the ways ingest sees:
    prefix-corrupted, trailing garbage, truncated. pipeline_flagship's
    validity gate has to drop exactly those."""
    out = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    for i in np.flatnonzero(rng.random(n) < 0.03):
        out[i] = rng.choice(["x" + out[i], out[i] + "junk", out[i][:-2]])
    return out


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    s = SIZES
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = s["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        }
    )
    n = s["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = s["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n), rng.choice(NOUN, n))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1),
        }
    )
    n = s["orders"]
    order_day = rng.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, s["customer"], n), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _ts(EPOCH_1995_US + order_day * DAY_US),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )
    lines = rng.integers(1, 8, n)
    okey = np.repeat(np.arange(n), lines)
    m = len(okey)
    starts = np.cumsum(lines) - lines
    linenumber = np.arange(m) - np.repeat(starts, lines) + 1
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, s["part"], m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s["supplier"], m), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": rng.integers(1, 51, m).astype(float),
            "l_extendedprice": _money(rng, 900.0, 105000.0, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], m),
            "l_linestatus": rng.choice(["F", "O"], m),
            "l_shipdate": _ts(EPOCH_1995_US + (order_day[okey] + rng.integers(1, 122, m)) * DAY_US),
        }
    )
    n = s["events"]
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, s["users"], n), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": _money(rng, 0.0, 560.0, n),
            "props": _props(rng, n),
        }
    )
    n = s["documents"]
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and rng.random() < 0.05:  # near duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(20, 81)))))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n),
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    n = s["embeddings"]
    labels = rng.integers(0, LABELS, n)
    centers = rng.normal(0.0, 1.0, (LABELS, DIM))
    vecs = (centers[labels] + rng.normal(0.0, 0.3, (n, DIM))).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write(tabs: dict[str, pa.Table], directory: Path) -> None:
    directory.mkdir(parents=True, exist_ok=True)
    for name, table in tabs.items():
        pq.write_table(table, directory / f"{name}.parquet")
