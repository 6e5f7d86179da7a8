"""Deterministic benchmark inputs, generated inside the checkout.

Base tables have the schemas and value distributions of the engine's
ten fixture tables (TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``) at a chosen scale factor; row counts
match the fixtures at sf0.01 and sf0.1. They are always generated from
the same fixed seed, so every run of the benchmark reads the same base
tables; the run seed only decides what the workloads do with them
(call order, the stream's duplicates, file split and file order).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Seed of the base tables; part of the on-disk stamp, so changing it
#: (or the generator) regenerates cached data.
DATA_SEED = 42
GENERATOR_VERSION = 1

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["SMALL", "LARGE", "STANDARD", "PROMO", "ECONOMY", "MEDIUM"]
ADJ = ["blue", "old", "new", "large", "hot", "cold", "red", "small"]
NOUN = ["anvil", "gizmo", "bolt", "plate", "rod", "ring", "gear", "widget"]
ETYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_W = [0.41, 0.15, 0.15, 0.15, 0.14]
DAY_US = 86_400_000_000
TS = pa.timestamp("us")

SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()),
                         ("r_name", pa.string())]),
    "nation": pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                         ("n_regionkey", pa.int32())]),
    "customer": pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                           ("c_nationkey", pa.int32()),
                           ("c_acctbal", pa.float64()),
                           ("c_mktsegment", pa.string())]),
    "supplier": pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                           ("s_nationkey", pa.int32()),
                           ("s_acctbal", pa.float64())]),
    "part": pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                       ("p_brand", pa.string()), ("p_type", pa.string()),
                       ("p_size", pa.int32()),
                       ("p_retailprice", pa.float64())]),
    "orders": pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                         ("o_orderstatus", pa.string()),
                         ("o_totalprice", pa.float64()), ("o_orderdate", TS),
                         ("o_orderpriority", pa.string())]),
    "lineitem": pa.schema([("l_orderkey", pa.int64()),
                           ("l_partkey", pa.int64()),
                           ("l_suppkey", pa.int64()),
                           ("l_linenumber", pa.int32()),
                           ("l_quantity", pa.float64()),
                           ("l_extendedprice", pa.float64()),
                           ("l_discount", pa.float64()),
                           ("l_tax", pa.float64()),
                           ("l_returnflag", pa.string()),
                           ("l_linestatus", pa.string()),
                           ("l_shipdate", TS)]),
    "events": pa.schema([("event_id", pa.int64()), ("ts", TS),
                         ("user_id", pa.int64()), ("event_type", pa.string()),
                         ("value", pa.float64()), ("props", pa.string())]),
    "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())]),
    "embeddings": pa.schema([("vec_id", pa.int64()),
                             ("embedding", pa.list_(pa.float32())),
                             ("label", pa.int32())]),
}


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.array(values)[rng.integers(0, len(values), n)]


def generate(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf`` (sf0.1: 15k customers, 150k
    orders, ~600k lineitems, 100k events, 5k documents, 2k vectors;
    documents/embeddings keep their fixture floor of 500 rows)."""
    rng = np.random.default_rng(DATA_SEED)
    m = sf / 0.1
    n_cust, n_supp, n_part = int(15000 * m), int(1000 * m), int(20000 * m)
    n_ord, n_ev, n_user = int(150000 * m), int(100000 * m), int(1500 * m)
    n_doc, n_emb = max(500, int(5000 * m)), max(500, int(2000 * m))
    cols: dict[str, dict] = {}

    cols["region"] = {"r_regionkey": np.arange(5), "r_name": REGIONS}
    nk = np.arange(25)
    cols["nation"] = {"n_nationkey": nk,
                      "n_name": [f"NATION_{i}" for i in nk],
                      "n_regionkey": nk % 5}

    k = np.arange(n_cust)
    cols["customer"] = {
        "c_custkey": k, "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": rng.integers(0, 25, n_cust),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    }
    k = np.arange(n_supp)
    cols["supplier"] = {
        "s_suppkey": k, "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": rng.integers(0, 25, n_supp),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }
    k = np.arange(n_part)
    cols["part"] = {
        "p_partkey": k,
        "p_name": np.char.add(np.char.add(_pick(rng, ADJ, n_part), " "),
                              _pick(rng, NOUN, n_part)),
        "p_brand": [f"Brand#{b}" for b in rng.integers(0, 25, n_part)],
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part),
        "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 2),
    }

    ok = np.arange(n_ord)
    odate = (np.datetime64("1995-01-01", "us").astype("int64")
             + rng.integers(0, 2404, n_ord) * DAY_US)
    cols["orders"] = {
        "o_orderkey": ok, "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["O", "P", "F"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    }
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    first = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype("float64")
    cols["lineitem"] = {
        "l_orderkey": np.repeat(ok, lines),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": np.arange(n_li) - first + 1,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": (np.repeat(odate, lines)
                       + rng.integers(1, 96, n_li) * DAY_US
                       ).astype("datetime64[us]"),
    }

    ts = (np.datetime64("2024-01-01", "us").astype("int64")
          + rng.integers(0, 30 * DAY_US, n_ev))
    cols["events"] = {
        "event_id": np.arange(n_ev),
        "ts": np.sort(ts).astype("datetime64[us]"),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": _pick(rng, ETYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)],
    }

    n_tok = rng.integers(10, 101, n_doc)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(n_tok.sum()))]
    texts = [" ".join(c) for c in np.split(words, np.cumsum(n_tok)[:-1])]
    cols["documents"] = {
        "doc_id": np.arange(n_doc), "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_W),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": [len(t) for t in texts],
    }
    emb = rng.standard_normal((n_emb, 64)).astype("float32")
    cols["embeddings"] = {"vec_id": np.arange(n_emb),
                          "embedding": list(emb),
                          "label": rng.integers(0, 10, n_emb)}

    return {name: pa.table({f.name: pa.array(cols[name][f.name]).cast(f.type)
                            for f in SCHEMAS[name]}, schema=SCHEMAS[name])
            for name in TABLES}


def ensure(out_dir: str, sf: float) -> str:
    """Write the tables to ``out_dir`` unless a matching stamp shows
    they are already there; returns ``out_dir``."""
    stamp = os.path.join(out_dir, "_STAMP")
    want = f"sf={sf} seed={DATA_SEED} v={GENERATOR_VERSION}"
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == want:
                return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(stamp, "w") as f:
        f.write(want)
    return out_dir
