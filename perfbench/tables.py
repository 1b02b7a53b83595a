"""Seeded synthetic tables for the headline queries.

The queries read one parquet file per table, `<dir>/<name>.parquet`, with
the schemas of `xmltoldmigration_spark.tables.TABLE_NAMES`.  These tables
are small (60,000 lineitems), made with numpy from one seed, and written
with pyarrow, so making them costs about a second and no Spark job.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}
WORDS = ("the a fast slow big small data row column table key value join sort "
         "merge hash scan filter group agg window part order line batch stream "
         "spark query customer dup").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "fr", "es", "de", "zh"]
DIM = 64


def _days(rng, n, start="1992-01-01", days=3650):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def _documents(rng) -> pa.Table:
    """Random word sequences; one in five is an edited copy of an earlier
    one, so the near-duplicate queries find pairs."""
    n = SIZES["documents"]
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    s = SIZES
    t = {}
    t["region"] = pa.table({"r_regionkey": np.arange(5, dtype=np.int32),
                            "r_name": [f"REGION_{i}" for i in range(5)]})
    t["nation"] = pa.table({"n_nationkey": np.arange(25, dtype=np.int32),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    n = s["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n), 2),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n)],
    })
    n = s["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n), 2),
    })
    n = s["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(n)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(10, 55, n)],
        "p_type": [f"TYPE{k}" for k in rng.integers(0, 25, n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2000, n), 2),
    })
    n = s["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, s["customer"], n).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000, 450000, n), 2),
        "o_orderdate": _days(rng, n),
        "o_orderpriority": [("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[k]
                            for k in rng.integers(0, 5, n)],
    })
    n = s["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, s["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, s["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, s["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, n),
    })
    n = s["events"]
    # 30 days of events from 150 users, ordered by time
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + rng.integers(0, 30 * 86400 * 10**6, n).astype("timedelta64[us]"))
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 150, n).astype(np.int64),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0, 200, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    t["documents"] = _documents(rng)
    n = s["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, DIM))
    vecs = centers[labels] + rng.normal(0, 0.5, (n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_tables(out: Path, seed: int) -> None:
    """One parquet file per table under `out`."""
    out.mkdir(parents=True, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, out / f"{name}.parquet")
