"""Seeded input generators. The seed changes which URLs, documents and links
are drawn; the shapes stay fixed, so every seed is the same workload."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

HOT_HOSTS = ("hot0.example.org", "hot1.example.org")

# crawl corpus politeness: wide enough that a round schedules about a
# thousand URLs, so per-URL work is visible beside the fixed per-round cost,
# and the rounds' sizes vary little between seeds
CRAWL_BUDGETS = {HOT_HOSTS[0]: 120, HOT_HOSTS[1]: 120, "*": 10}


def crawl_corpus(seed: int, n_docs: int, n_hosts: int):
    """A ``make_web_corpus`` corpus (its shape, drawn from ``seed``) with
    CRAWL_BUDGETS as its politeness table."""
    from warcbase_spark.fixtures import make_web_corpus

    corpus = make_web_corpus(n_docs=n_docs, n_hosts=n_hosts, seed=seed)
    corpus.politeness = [{"host": h, "budget": b} for h, b in CRAWL_BUDGETS.items()]
    return corpus


# analytics: a web-text table and a TPC-H-like star, of the shapes the
# registry's queries read (the tables of the repository's test data, at
# sf0.01 for the TPC-H part)
WORDS = (
    "a the data row column table scan join merge sort hash group agg filter "
    "window batch stream spark query key value line part order customer "
    "vector small big fast slow"
).split()
LANGS = ("en", "en", "en", "fr", "es", "zh", "de")
N_SOURCES = 20
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _timestamps(rng, n: int, lo: str, hi: str) -> pa.Array:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((hi_d - lo_d).astype(int)), n)
    return pa.array((lo_d + days).astype("datetime64[us]"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def analytics_tables(seed: int, n_docs: int, n_customers: int) -> dict[str, pa.Table]:
    """``documents`` (``n_docs`` texts over a 30-word vocabulary, a tenth of
    them near-copies of an earlier text with a few words replaced, so the
    dedup queries find pairs) and ``customer``/``orders``/``lineitem`` with 10
    orders per customer and 4 line items per order."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), 3):
                toks[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            toks = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(20, 90)))]
        texts.append(" ".join(toks))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n_c = n_customers
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, n_c, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, len(SEGMENTS), n_c)],
    })
    n_o = 10 * n_c
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, n_o, 1000.0, 500000.0),
        "o_orderdate": _timestamps(rng, n_o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, len(PRIORITIES), n_o)],
    })
    n_l = 4 * n_o
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 200, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 10, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(float),
        "l_extendedprice": _money(rng, n_l, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100, 2),
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n_l)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n_l)],
        "l_shipdate": _timestamps(rng, n_l, "1995-01-02", "2001-12-01"),
    })
    return {"documents": documents, "customer": customer, "orders": orders, "lineitem": lineitem}
