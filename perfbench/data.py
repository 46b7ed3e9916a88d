"""Seeded input generation for the benchmark workloads.

Everything the program sees is made here from the run's seed with
numpy: the TPC-H-style tables, the corpus tables, the append batches
and the duplicate documents.  The column layout and value
distributions follow the repository's synthetic test tables, so the
library's oracles and index configurations apply unchanged.  The same
seed always gives the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data query scan join filter group sort hash merge table column row "
    "key value part line order customer spark stream batch window agg vector "
    "fast slow big small"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _dates(rng: np.random.Generator, n: int, days: int) -> np.ndarray:
    return EPOCH_1995 + rng.integers(0, days, n).astype("timedelta64[D]")


def tpch_sizes(n_orders: int) -> dict[str, int]:
    return {
        "orders": n_orders,
        "lineitem": n_orders * 4,
        "customer": max(100, n_orders // 10),
        "part": max(100, n_orders * 2 // 15),
        "supplier": max(10, n_orders // 150),
    }


def tpch_tables(rng: np.random.Generator, n_orders: int) -> dict[str, pa.Table]:
    """customer, orders and lineitem at n_orders orders (4 lineitems per
    order); lineitem keys range over the part and supplier counts of
    tpch_sizes."""
    n = tpch_sizes(n_orders)
    n_cust = n["customer"]
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
            "o_orderdate": _dates(rng, n_orders, 2404),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )
    lineitem = lineitem_rows(rng, n["lineitem"], n_orders, n["part"], n["supplier"])
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def lineitem_rows(
    rng: np.random.Generator, n: int, n_orders: int, n_part: int, n_supp: int
) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _dates(rng, n, 2499),
        }
    )


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(8, 100, n)
    words = np.array(VOCAB)
    return [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]


def documents(
    rng: np.random.Generator,
    n_unique: int,
    exact_share: float,
    near_share: float,
    first_id: int = 0,
) -> tuple[pa.Table, dict]:
    """n_unique random-vocabulary documents plus exact copies and
    near-duplicates (one word in ~12 replaced) of seed-drawn originals,
    shuffled into one id space starting at first_id."""
    texts = _texts(rng, n_unique)
    n_exact = int(round(n_unique * exact_share))
    n_near = int(round(n_unique * near_share))
    for src in rng.integers(0, n_unique, n_exact):
        texts.append(texts[src])
    for src in rng.integers(0, n_unique, n_near):
        toks = texts[src].split()
        for i in rng.choice(len(toks), max(1, len(toks) // 12), replace=False):
            toks[i] = VOCAB[rng.integers(0, len(VOCAB))]
        texts.append(" ".join(toks))
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    n = len(texts)
    table = pa.table(
        {
            "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 5}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return table, {
        "documents_rows": n,
        "exact_duplicates": n_exact,
        "near_duplicates": n_near,
        "duplicate_share": round((n_exact + n_near) / n, 4),
    }


def embeddings(rng: np.random.Generator, n: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    """Unit vectors scattered around n_labels random centres."""
    centres = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    v = centres[labels] * 0.15 + rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )


def events(rng: np.random.Generator, n: int, n_users: int, days: int = 30) -> pa.Table:
    ts = np.sort(rng.integers(0, days * DAY_US, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.uniform(0, 200, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str, files: dict[str, int] | None = None) -> None:
    """One parquet per table at <out_dir>/<name>.parquet; a table listed
    in `files` becomes a directory of that many part files instead, so
    appends can land beside them as new files."""
    for name, t in tables.items():
        k = (files or {}).get(name)
        if not k:
            write_table(t, f"{out_dir}/{name}.parquet")
            continue
        step = -(-t.num_rows // k)
        for i in range(k):
            write_table(t.slice(i * step, step), f"{out_dir}/{name}.parquet/part-{i:05d}.parquet")


def dir_files(path: str) -> dict[str, int]:
    """Size of every file under path, by file path."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            out[p] = os.path.getsize(p)
    return out


def dir_bytes(path: str) -> int:
    return sum(dir_files(path).values())
