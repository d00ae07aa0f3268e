"""Seeded generators for the tables the benchmark workloads read.

The tables follow the shape of the engine's test data (see TESTDATA.md),
so every registered query, and the example pipeline, run on them
unchanged.  ``write_warehouse`` writes the relational star schema and
the ``events`` stream.  ``write_corpus`` writes the two corpus tables:

- ``documents(doc_id bigint, text string, lang string, source string,
  n_chars bigint)``: ``words`` (default 10-99, as in the test corpus)
  words drawn from a 30-word vocabulary; about
  5% of documents are near copies of an earlier one (one word swapped,
  " dup" appended), so the dedup lines have real clusters to find.
- ``embeddings(vec_id bigint, embedding array<float>, label int)``:
  unit-norm 64-d Gaussian vectors with a uniform 0-9 label.

The same seed always writes byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
DIM = 64
NEAR_DUP_P = 0.05


def documents(rng: np.random.Generator, n: int, words: tuple[int, int]) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < NEAR_DUP_P:
            toks = texts[int(rng.integers(i))].split()
            toks[int(rng.integers(len(toks)))] = VOCAB[int(rng.integers(len(VOCAB)))]
            texts.append(" ".join(toks) + " dup")
        else:
            k = int(rng.integers(words[0], words[1] + 1))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(len(VOCAB), size=k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[j] for j in rng.choice(len(LANGS), size=n, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    m = rng.standard_normal((n, DIM)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(m), type=pa.list_(pa.float32())),
            "label": rng.integers(10, size=n).astype(np.int32),
        }
    )


REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
COLORS = ("red", "blue", "green", "black", "white", "small", "large", "shiny")
NOUNS = ("ring", "widget", "bolt", "gear", "panel", "valve")
PART_TYPES = ("ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
DAY_US = 86_400_000_000


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def warehouse(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    """A TPC-H-shaped star schema plus an ``events`` stream.

    ``scale`` 0.01 gives the test corpus's sf0.01 sizes: 1,500 customers,
    15,000 orders, about 60,000 line items and 10,000 events."""
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_events, n_users = int(1_500_000 * scale), int(1_000_000 * scale), int(15_000 * scale)

    cust = np.arange(n_cust, dtype=np.int64)
    supp = np.arange(n_supp, dtype=np.int64)
    part = np.arange(n_part, dtype=np.int64)
    orders = np.arange(n_ord, dtype=np.int64)
    order_date = np.datetime64("1995-01-01", "us").astype(np.int64) + rng.integers(2400, size=n_ord) * DAY_US
    lines_per_order = rng.integers(1, 8, size=n_ord)
    l_order = np.repeat(orders, lines_per_order)
    n_line = len(l_order)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per_order]).astype(np.int32)
    quantity = rng.integers(1, 51, size=n_line).astype(np.float64)
    l_part = rng.integers(n_part, size=n_line)
    price = np.round(900.0 + (part % 1000) * 0.1, 2)
    l_shipdate = order_date[l_order] + rng.integers(1, 122, size=n_line) * DAY_US
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(len(REGIONS)), pa.int32()), "r_name": list(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % len(REGIONS) for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": cust,
                "c_name": [f"Customer#{i:09d}" for i in cust],
                "c_nationkey": rng.integers(25, size=n_cust).astype(np.int32),
                "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": [SEGMENTS[j] for j in rng.integers(len(SEGMENTS), size=n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": supp,
                "s_name": [f"Supplier#{i:09d}" for i in supp],
                "s_nationkey": rng.integers(25, size=n_supp).astype(np.int32),
                "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": part,
                "p_name": [
                    f"{COLORS[a]} {NOUNS[b]}"
                    for a, b in zip(rng.integers(len(COLORS), size=n_part), rng.integers(len(NOUNS), size=n_part))
                ],
                "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, size=n_part)],
                "p_type": [PART_TYPES[j] for j in rng.integers(len(PART_TYPES), size=n_part)],
                "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
                "p_retailprice": price,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": orders,
                "o_custkey": rng.integers(n_cust, size=n_ord),
                "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(3, size=n_ord)],
                "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": pa.array(order_date, type=pa.timestamp("us")),
                "o_orderpriority": [PRIORITIES[j] for j in rng.integers(len(PRIORITIES), size=n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": l_order,
                "l_partkey": l_part,
                "l_suppkey": rng.integers(n_supp, size=n_line),
                "l_linenumber": l_linenumber,
                "l_quantity": quantity,
                "l_extendedprice": np.round(quantity * price[l_part], 2),
                "l_discount": rng.integers(0, 11, size=n_line) / 100.0,
                "l_tax": rng.integers(0, 9, size=n_line) / 100.0,
                "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(3, size=n_line)],
                "l_linestatus": [("F", "O")[j] for j in rng.integers(2, size=n_line)],
                "l_shipdate": pa.array(l_shipdate, type=pa.timestamp("us")),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n_events, dtype=np.int64),
                # about one event every 4 minutes over the month, so users
                # have both short gaps and 30-minute session breaks
                "ts": pa.array(
                    np.datetime64("2024-01-01", "us").astype(np.int64)
                    + np.cumsum(rng.integers(1, 480_000_000, size=n_events)),
                    type=pa.timestamp("us"),
                ),
                "user_id": rng.integers(n_users, size=n_events),
                "event_type": [EVENT_TYPES[j] for j in rng.integers(len(EVENT_TYPES), size=n_events)],
                "value": _cents(rng, 0.0, 100.0, n_events),
                "props": [f'{{"k": {j}}}' for j in rng.integers(100, size=n_events)],
            }
        ),
    }


def write_warehouse(out_dir: str, seed: int, scale: float) -> None:
    """Write one parquet file per warehouse table into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in warehouse(np.random.default_rng(seed), scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_corpus(
    out_dir: str, seed: int, n_docs: int, n_vecs: int, words: tuple[int, int] = (10, 99)
) -> None:
    """Write documents.parquet and embeddings.parquet (one row group each,
    like the test corpus) into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    pq.write_table(documents(rng, n_docs, words), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings(rng, n_vecs), os.path.join(out_dir, "embeddings.parquet"))
