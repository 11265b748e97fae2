"""Seeded tables for the ``catalog_batch`` workload.

Writes the ten tables the catalog queries read (``region nation customer
supplier part orders lineitem events documents embeddings``, one parquet
each) with the schemas of the engine's test tables, at about the size of
their 0.01 scale factor: 500 documents, 500 embeddings, 10,000 events,
60,000 line items.  Value ranges follow the repository's own scale-factor
generator (``tools/gen_sf.py``); everything derives from
``numpy.random.default_rng(seed)``, so one seed gives byte-identical
tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOC = 500
N_EMB = 500
N_EVT = 10_000
N_LI = 60_000
N_ORD = 15_000
N_PART = 2_000
N_CUST = 1_500
N_SUPP = 100
N_USERS = 150

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.150, 0.149, 0.148, 0.141]
ADJ = "large hot blue red green cold dim shiny".split()
NOUN = "ring bolt gear cog pin rod cap hub".split()
TYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
SEGS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENTS = ["signup", "purchase", "view", "click", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n: int, span: int):
    return (np.datetime64("1995-01-01", "us")
            + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]"))


def tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    out = {}
    n_words = rng.integers(8, 97, N_DOC)
    words = np.array(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    offs = np.concatenate(([0], np.cumsum(n_words)))
    texts = [" ".join(words[offs[i]:offs[i + 1]]) for i in range(N_DOC)]
    out["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOC), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, N_DOC, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, N_DOC)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, N_EMB)
    centers = rng.normal(0.0, 0.08, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.07, (N_EMB, 64))).clip(-0.4, 0.4)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_EMB), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (
        rng.random(N_EVT) * span_us).astype("int64").astype("timedelta64[us]")
    ts.sort()
    out["events"] = pa.table({
        "event_id": pa.array(range(N_EVT), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVT), pa.int64()),
        "event_type": pa.array(rng.choice(EVENTS, N_EVT), pa.string()),
        "value": pa.array(np.round(rng.random(N_EVT) * 560.21, 2), pa.float64()),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVT)],
                          pa.string()),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORD, N_LI), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LI), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LI), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LI), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, N_LI).astype("float64")),
        "l_extendedprice": pa.array(np.round(900.0 + rng.random(N_LI) * 104100.0, 2)),
        "l_discount": pa.array(np.round(rng.random(N_LI) * 0.1, 2)),
        "l_tax": pa.array(np.round(rng.random(N_LI) * 0.08, 2)),
        "l_returnflag": pa.array(rng.choice(["R", "A", "N"], N_LI)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], N_LI)),
        "l_shipdate": pa.array(_days(rng, N_LI, 2500), pa.timestamp("us")),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORD), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORD), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], N_ORD)),
        "o_totalprice": pa.array(np.round(1000.0 + rng.random(N_ORD) * 499000.0, 2)),
        "o_orderdate": pa.array(_days(rng, N_ORD, 2400), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIOS, N_ORD)),
    })
    adj, noun = rng.integers(0, len(ADJ), N_PART), rng.integers(0, len(NOUN), N_PART)
    out["part"] = pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[n]}" for a, n in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(0, 25, N_PART)]),
        "p_type": pa.array(rng.choice(TYPES, N_PART)),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + rng.random(N_PART) * 99.9, 2)),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(N_CUST), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUST)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": pa.array(np.round(-1000.0 + rng.random(N_CUST) * 11000.0, 2)),
        "c_mktsegment": pa.array(rng.choice(SEGS, N_CUST)),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPP), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPP)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
        "s_acctbal": pa.array(np.round(-1000.0 + rng.random(N_SUPP) * 11000.0, 2)),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    return out


def write_tables(out_dir: str, seed: int) -> int:
    """Write every table under ``out_dir``; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables(np.random.default_rng(seed)).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
