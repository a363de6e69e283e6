"""Seeded input generation: documents, embeddings and events tables with the
schemas and value distributions of the engine's sf-scaled test tables.

Every table is a pure function of (seed, size), so a seed names one input
set exactly. The generators use NumPy only; nothing here touches Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
N_SOURCES = 20
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
DIM = 64


def documents(seed: int, n: int, id_offset: int = 0) -> pd.DataFrame:
    """n documents of 10-100 vocabulary words; 5 % are near-duplicates (an
    earlier document plus the token ``dup``), as in the test corpora."""
    rng = np.random.default_rng([seed, 1, id_offset])
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    vocab = np.array(VOCAB)
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(vocab[words], cuts)]
    dup = np.flatnonzero(rng.random(n) < 0.05)
    for i in dup[dup > 0]:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(id_offset, id_offset + n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(seed: int, n: int) -> pd.DataFrame:
    """n unit-norm 64-dim float32 vectors with a label in 0..9."""
    rng = np.random.default_rng([seed, 2])
    x = rng.standard_normal((n, DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(x),
        "label": rng.integers(0, 10, size=n).astype(np.int32),
    })


def events(seed: int, n: int, n_users: int) -> pd.DataFrame:
    """n time-ordered events over 30 days from 2024-01-01."""
    rng = np.random.default_rng([seed, 3])
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, size=n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, size=n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, size=n),
        "value": np.round(rng.exponential(50.0, size=n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
    })


def _star_schema(seed: int, n: int) -> dict[str, pa.Table]:
    """The TPC-H-shaped tables at n rows each. No measured registry entry
    reads them, but ``register_views`` registers every table of the layout."""
    rng = np.random.default_rng([seed, 4])
    ids = np.arange(n, dtype=np.int64)
    day = np.datetime64("1995-01-01T00:00:00", "us") + (ids * 86_400_000_000).astype("timedelta64[us]")
    money = np.round(rng.uniform(1.0, 1000.0, size=n), 2)
    return {
        "region": pa.table({"r_regionkey": pa.array(ids[:5] % 5, pa.int32()),
                            "r_name": [f"R{i}" for i in range(min(n, 5))]}),
        "nation": pa.table({"n_nationkey": pa.array(ids % 25, pa.int32()),
                            "n_name": [f"N{i}" for i in ids],
                            "n_regionkey": pa.array(ids % 5, pa.int32())}),
        "customer": pa.table({"c_custkey": ids, "c_name": [f"C{i}" for i in ids],
                              "c_nationkey": pa.array(ids % 25, pa.int32()),
                              "c_acctbal": money, "c_mktsegment": ["AUTO"] * n}),
        "supplier": pa.table({"s_suppkey": ids, "s_name": [f"S{i}" for i in ids],
                              "s_nationkey": pa.array(ids % 25, pa.int32()),
                              "s_acctbal": money}),
        "part": pa.table({"p_partkey": ids, "p_name": [f"P{i}" for i in ids],
                          "p_brand": ["B1"] * n, "p_type": ["T1"] * n,
                          "p_size": pa.array(ids % 50, pa.int32()),
                          "p_retailprice": money}),
        "orders": pa.table({"o_orderkey": ids, "o_custkey": ids,
                            "o_orderstatus": ["F"] * n, "o_totalprice": money,
                            "o_orderdate": day, "o_orderpriority": ["1-URGENT"] * n}),
        "lineitem": pa.table({"l_orderkey": ids, "l_partkey": ids, "l_suppkey": ids,
                              "l_linenumber": pa.array(np.ones(n), pa.int32()),
                              "l_quantity": money, "l_extendedprice": money,
                              "l_discount": np.zeros(n), "l_tax": np.zeros(n),
                              "l_returnflag": ["N"] * n, "l_linestatus": ["O"] * n,
                              "l_shipdate": day}),
    }


def write_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int,
                 n_events: int, n_users: int) -> str:
    """Write the ten-table layout ``queries.register_views`` reads under
    out_dir: documents, embeddings and events at the given sizes, the
    star-schema tables as 25-row stand-ins."""
    os.makedirs(out_dir, exist_ok=True)
    emb = embeddings(seed, n_vecs)
    tables = {
        **_star_schema(seed, 25),
        "documents": pa.Table.from_pandas(documents(seed, n_docs), preserve_index=False),
        "embeddings": pa.table({
            "vec_id": emb["vec_id"],
            "embedding": pa.array(emb["embedding"].tolist(), type=pa.list_(pa.float32())),
            "label": emb["label"],
        }),
        "events": pa.Table.from_pandas(events(seed, n_events, n_users), preserve_index=False),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
