"""Seeded input generators for the benchmark.

Every table is built from ``numpy.random.Generator(PCG64(seed))`` and
written with pyarrow, so the same seed gives byte-identical inputs and the
program under test only ever sees the generated files.

The shapes follow the repository's TPC-H-like fixtures (same column names
and physical types, keys from 0, ``(l_orderkey, l_linenumber)`` not
unique), so ``__spark_entry__.queries()`` specs over these tables and
their ``oracle_sql()`` run unchanged on them.  Documents are word streams
over a 31-word vocabulary; a tenth of them are one-word edits of an
earlier long document, which gives the dedup operators near-duplicate
pairs at Jaccard >= 0.8 and leaves chance pairs far below every
threshold the workloads use.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "key agg row scan slow fast table value part hash a the line sort "
    "window merge batch data column join small customer query big stream "
    "group order filter spark vector"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_WEIGHTS = [0.44, 0.15, 0.14, 0.14, 0.13]

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _write(table: pa.Table, out_dir: str, name: str) -> dict:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(lo, hi, n).astype("int64") * _DAY_US


def write_tpch(out_dir: str, seed: int, n_customers: int) -> dict:
    """nation, customer, orders, lineitem and ``customer_csv``
    (a customer key plus a CSV list of 1-3 distinct nation keys, the
    column a ``middle`` junction fans out).  Orders are 10 per customer
    and lineitems 4 per order, as in TPC-H.  Returns rows and bytes per
    table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n_orders = 10 * n_customers
    n_items = 4 * n_orders
    stats = {}
    stats["nation"] = _write(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }), out_dir, "nation")

    ck = np.arange(n_customers, dtype="int64")
    nk = rng.integers(0, 25, n_customers).astype("int32")
    stats["customer"] = _write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(nk, pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_customers)],
    }), out_dir, "customer")

    # 1-3 distinct nation keys per customer: its own key plus two
    # distinct non-zero offsets from it
    n_keys = rng.integers(1, 4, n_customers)
    off_a = rng.integers(1, 25, n_customers)
    off_b = rng.integers(1, 24, n_customers)
    off_b = off_b + (off_b >= off_a)
    csv = [
        ",".join(str((int(k) + o) % 25) for o in (0, int(a), int(b))[:m])
        for k, a, b, m in zip(nk, off_a, off_b, n_keys)
    ]
    stats["customer_csv"] = _write(pa.table({
        "c_custkey": ck, "nk_csv": csv,
    }), out_dir, "customer_csv")

    stats["orders"] = _write(pa.table({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_customers, n_orders).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_orders), 2),
        "o_orderdate": _days(rng, 0, 2404, n_orders),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    }), out_dir, "orders")

    qty = rng.integers(1, 51, n_items).astype("float64")
    stats["lineitem"] = _write(pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_items).astype("int64"),
        "l_partkey": rng.integers(0, 20 * n_customers // 15 + 1, n_items).astype("int64"),
        "l_suppkey": rng.integers(0, n_customers // 15 + 1, n_items).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, n_items), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_items), 2),
        "l_discount": rng.integers(0, 11, n_items) / 100.0,
        "l_tax": rng.integers(0, 9, n_items) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_items)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_items)],
        "l_shipdate": _days(rng, 1, 2499, n_items),
    }), out_dir, "lineitem")
    return stats


def make_documents(seed: int, n_docs: int, dup_share: float = 0.1) -> pa.Table:
    """``documents``: doc_id, text, lang, source, n_chars.  Exactly
    ``round(dup_share * n_docs)`` documents, none in the first fifth, copy
    an earlier original (not a copy) of at least 60 words with one word
    replaced; the rest are originals of 20-90 words."""
    rng = np.random.Generator(np.random.PCG64(seed))
    vocab = np.array(VOCAB)
    copies = set(rng.choice(np.arange(n_docs // 5, n_docs),
                            size=round(dup_share * n_docs), replace=False))
    texts: list[str] = []
    long_ids: list[int] = []
    for i in range(n_docs):
        if i in copies and long_ids:
            words = texts[long_ids[rng.integers(0, len(long_ids))]].split()
            pos = int(rng.integers(0, len(words)))
            words[pos] = VOCAB[(VOCAB.index(words[pos]) + 1) % len(VOCAB)]
        else:
            words = list(vocab[rng.integers(0, len(vocab), rng.integers(20, 91))])
            if len(words) >= 60:
                long_ids.append(i)
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_WEIGHTS)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
