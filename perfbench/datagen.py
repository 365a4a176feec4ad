"""Seeded input generators for the benchmark.

``write_tables`` writes the ten registry tables (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one parquet file each, with the column names, types and
value distributions of the engine's test tables. Row counts scale with
``sf`` the way the test tables do (lineitem is about 6M x sf rows).

``store_documents`` yields the synthetic documents the vector-store
workload ingests.

The same seed always gives the same bytes on disk and the same
documents; nothing here reads outside the directory it is given.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a the row scan slow fast table value part hash merge batch spark "
    "line sort window key agg order data column join small customer "
    "query big stream filter group vector"
).split()
_ADJ = "red small hot old large blue cold new".split()
_NOUN = "plate widget ring rod bolt gizmo gear anvil".split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n, lo=10, hi=100) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    words = np.array(_WORDS)
    return [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]


def _write(path: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(cols, schema=schema), path)


def write_tables(out_dir: str, sf: float, seed: int) -> int:
    """Write the ten tables under ``out_dir``; return the bytes written."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def p(name):
        return os.path.join(out_dir, f"{name}.parquet")

    _write(p("region"), {"r_regionkey": np.arange(5), "r_name": _REGIONS},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(
        p("nation"),
        {"n_nationkey": np.arange(25),
         "n_name": [f"NATION_{i}" for i in range(25)],
         "n_regionkey": np.arange(25) % 5},
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]),
    )

    n_cust = max(10, int(150_000 * sf))
    _write(
        p("customer"),
        {"c_custkey": np.arange(n_cust),
         "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
         "c_nationkey": rng.integers(0, 25, n_cust),
         "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
         "c_mktsegment": rng.choice(_SEGMENTS, n_cust)},
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]),
    )

    n_supp = max(5, int(10_000 * sf))
    _write(
        p("supplier"),
        {"s_suppkey": np.arange(n_supp),
         "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
         "s_nationkey": rng.integers(0, 25, n_supp),
         "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)},
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]),
    )

    n_part = max(20, int(200_000 * sf))
    _write(
        p("part"),
        {"p_partkey": np.arange(n_part),
         "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part),
                                               rng.choice(_NOUN, n_part))],
         "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
         "p_type": rng.choice(_TYPES, n_part),
         "p_size": rng.integers(1, 51, n_part),
         "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)},
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                   ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]),
    )

    n_ord = max(100, int(1_500_000 * sf))
    _write(
        p("orders"),
        {"o_orderkey": np.arange(n_ord),
         "o_custkey": rng.integers(0, n_cust, n_ord),
         "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
         "o_totalprice": _money(rng, n_ord, 1000, 500_000),
         "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
         "o_orderpriority": rng.choice(_PRIORITIES, n_ord)},
        pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                   ("o_orderstatus", s), ("o_totalprice", f64),
                   ("o_orderdate", ts), ("o_orderpriority", s)]),
    )

    n_li = 4 * n_ord
    _write(
        p("lineitem"),
        {"l_orderkey": rng.integers(0, n_ord, n_li),
         "l_partkey": rng.integers(0, n_part, n_li),
         "l_suppkey": rng.integers(0, n_supp, n_li),
         "l_linenumber": rng.integers(1, 8, n_li),
         "l_quantity": rng.integers(1, 51, n_li).astype(float),
         "l_extendedprice": _money(rng, n_li, 900, 105_000),
         "l_discount": rng.integers(0, 11, n_li) / 100,
         "l_tax": rng.integers(0, 9, n_li) / 100,
         "l_returnflag": rng.choice(["A", "N", "R"], n_li),
         "l_linestatus": rng.choice(["F", "O"], n_li),
         "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")},
        pa.schema([("l_orderkey", i64), ("l_partkey", i64),
                   ("l_suppkey", i64), ("l_linenumber", i32),
                   ("l_quantity", f64), ("l_extendedprice", f64),
                   ("l_discount", f64), ("l_tax", f64),
                   ("l_returnflag", s), ("l_linestatus", s),
                   ("l_shipdate", ts)]),
    )

    n_ev = max(100, int(1_000_000 * sf))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    _write(
        p("events"),
        {"event_id": np.arange(n_ev),
         "ts": start + offsets.astype("timedelta64[us]"),
         "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev),
         "event_type": rng.choice(_EVENT_TYPES, n_ev),
         "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
         "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                   ("event_type", s), ("value", f64), ("props", s)]),
    )

    n_doc = max(50, int(50_000 * sf))
    texts = _texts(rng, n_doc)
    # a few exact re-posts, as crawled corpora have
    for i in rng.choice(n_doc, max(1, n_doc // 500), replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))]
    _write(
        p("documents"),
        {"doc_id": np.arange(n_doc), "text": texts,
         "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
         "source": [f"src{i % 20}" for i in range(n_doc)],
         "n_chars": [len(t) for t in texts]},
        pa.schema([("doc_id", i64), ("text", s), ("lang", s),
                   ("source", s), ("n_chars", i64)]),
    )

    n_emb = max(50, min(2000, int(50_000 * sf)))
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        p("embeddings"),
        {"vec_id": np.arange(n_emb), "embedding": list(vecs),
         "label": rng.integers(0, 10, n_emb)},
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                   ("label", i32)]),
    )
    return sum(
        os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir)
    )


#: Spark DDL schema of the rows ``store_documents`` returns.
STORE_DOC_SCHEMA = (
    "target string, option1 string, option2 string, option3 string, "
    "option4 string, option5 string"
)


def store_documents(rng: np.random.Generator, n: int, first_id: int) -> list[tuple]:
    """``n`` fresh store rows: a text ``target`` (unique through its id
    prefix) and five metadata columns."""
    texts = _texts(rng, n, 6, 30)
    langs = rng.choice(_LANGS, n, p=_LANG_P)
    return [
        (f"doc{first_id + i} {t}", str(langs[i]), f"src{(first_id + i) % 20}",
         None, None, None)
        for i, t in enumerate(texts)
    ]
