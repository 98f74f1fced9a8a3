"""Seeded input generator.

Every table a run reads is made here from ``--seed``: the TPC-H-shaped
tables (same schemas and value domains as the project's sf0.1 test data),
the documents/embeddings tables the traced run's registry probes read, the
refreshable ``stock`` table and its generations, and the server config.
The same seed gives the same tables. Client keys come from seeded streams
in ``workloads.make_clients``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts at sf0.1, the scale of the serving workloads
N_CUSTOMER = 15_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_PART = 20_000
N_SUPPLIER = 1_000
N_DOCS = 5_000
N_EMB = 2_000
N_STOCK = 150_000

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "a the spark line column order small sort fast value scan hash slow group "
    "batch agg filter query big key window row part table stream merge data "
    "vector join customer dup"
).split()

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _customer(rng, n):
    cust = np.arange(n.customer, dtype=np.int64)
    return pa.table({
        "c_custkey": cust,
        "c_name": [f"Customer#{k:09d}" for k in cust],
        "c_nationkey": rng.integers(0, 25, n.customer, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n.customer),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n.customer)]),
    })


def _orders(rng, n):
    return pa.table({
        "o_orderkey": np.arange(n.orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n.customer, n.orders, dtype=np.int64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n.orders)]),
        "o_totalprice": _money(rng, 1000, 500_000, n.orders),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n.orders) * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n.orders)]),
    })


def _lineitem(rng, n):
    k = n.lineitem
    return pa.table({
        "l_orderkey": rng.integers(0, n.orders, k, dtype=np.int64),
        "l_partkey": rng.integers(0, n.part, k, dtype=np.int64),
        "l_suppkey": rng.integers(0, n.supplier, k, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, k, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, k)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, k)]),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, k) * DAY_US),
    })


def _documents(rng, n):
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(8, 100))])
        for _ in range(n.docs)
    ]
    # a few exact duplicates, as in real crawls, so the dedup operators
    # have something to find
    for i in rng.choice(n.docs, 12, replace=False):
        texts[i] = texts[(i + 1) % n.docs]
    return pa.table({
        "doc_id": np.arange(n.docs, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n.docs, p=LANG_P)]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n.docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n):
    return pa.table({
        "vec_id": np.arange(n.emb, dtype=np.int64),
        "embedding": pa.array(
            list((rng.standard_normal((n.emb, 64)) * 0.13).astype(np.float32)),
            type=pa.list_(pa.float32()),
        ),
        "label": rng.integers(0, 10, n.emb, dtype=np.int32),
    })


_TABLES = {
    "customer": _customer, "orders": _orders, "lineitem": _lineitem,
    "documents": _documents, "embeddings": _embeddings,
}


@dataclass(frozen=True)
class Sizes:
    customer: int
    orders: int
    lineitem: int
    part: int
    supplier: int
    docs: int
    emb: int


def sizes(sf: float) -> Sizes:
    """Row counts at scale factor ``sf``."""
    full = (N_CUSTOMER, N_ORDERS, N_LINEITEM, N_PART, N_SUPPLIER, N_DOCS, N_EMB)
    return Sizes(*(max(1, round(n * sf / 0.1)) for n in full))


def make_tables(seed: int, names: list[str], sf: float = 0.1) -> dict[str, pa.Table]:
    """Each table draws from its own stream of ``seed``, so a table is the
    same whichever others are made with it."""
    ids = list(_TABLES)
    n = sizes(sf)
    return {t: _TABLES[t](np.random.default_rng([seed, ids.index(t)]), n) for t in names}


@dataclass
class Stock:
    """The refreshable table. Generation ``g`` holds, for every sku,
    ``qty = (base_qty + 7 g) mod 1000`` and ``price_cents = base_price + g``,
    so any row a client reads names its generation and can be checked
    against it without asking the server."""

    base_qty: np.ndarray
    base_price: np.ndarray

    def expected(self, sku: int, gen: int) -> tuple[int, int]:
        return int((self.base_qty[sku] + 7 * gen) % 1000), int(self.base_price[sku] + gen)

    def table(self, gen: int) -> pa.Table:
        return pa.table({
            "sku": np.arange(N_STOCK, dtype=np.int64),
            "gen": np.full(N_STOCK, gen, dtype=np.int64),
            "qty": (self.base_qty + 7 * gen) % 1000,
            "price_cents": self.base_price + gen,
        })

    def publish(self, path: str, gen: int) -> None:
        """Write generation ``gen`` beside ``path``, then rename it over
        ``path`` so a reader never sees a half-written file."""
        tmp = f"{path}.g{gen}.tmp"
        pq.write_table(self.table(gen), tmp)
        os.replace(tmp, path)


def make_stock(seed: int) -> Stock:
    rng = np.random.default_rng([seed, len(_TABLES)])
    return Stock(
        base_qty=rng.integers(0, 1000, N_STOCK, dtype=np.int64),
        base_price=rng.integers(100, 100_000, N_STOCK, dtype=np.int64),
    )


def write_tables(tables: dict[str, pa.Table], data_dir: str) -> None:
    os.makedirs(data_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(data_dir, f"{name}.parquet"))


def server_config(
    path: str, data_dir: str, read_only: bool, refreshable: bool, spark_conf: dict[str, str]
) -> None:
    """The YAML config ``python -m roapi_spark -c`` reads. Ports are 0 and
    the bound ones are read from the server's start-up lines."""
    lines = [
        "addr: 127.0.0.1:0",
        f"read_only: {'true' if read_only else 'false'}",
        "tables:",
    ]
    for name in ("orders", "customer"):
        lines += [f"  - name: {name}", f"    uri: {os.path.join(data_dir, name + '.parquet')}"]
    if refreshable:
        # longer than any run: every reload in the run is one the writer asked for
        lines += [
            "  - name: stock",
            f"    uri: {os.path.join(data_dir, 'stock.parquet')}",
            "    reload_interval: 3600",
        ]
    if spark_conf:
        lines.append("spark:")
        lines += [f'  "{k}": "{v}"' for k, v in spark_conf.items()]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
