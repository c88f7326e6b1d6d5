"""Input tables for the query workloads.

The registered queries read ``events``, ``documents`` and
``embeddings`` parquet files from an ``sf_dir``. The benchmark writes
its own copies, shaped like the sf0.1 test data (100k events over 30
days, 5000 documents over a 31-word vocabulary with ~5% near-duplicate
copies, 2000 unit-norm 64-d embeddings in 10 labels), so it runs from a
bare checkout. The content is fixed: the query workloads vary only
their sweep order with the seed.

The calibration tables (``lineitem``, ``orders``, ``customer``) feed
``bench.calibration_suite``'s scan and join probes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
N_VECS = 2_000
DIM = 64
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
QUERY_TABLES = ("events", "documents", "embeddings")
CALIBRATION_TABLES = ("lineitem", "orders", "customer")


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def events(rng: np.random.Generator) -> pa.Table:
    start_us = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    span_us = 30 * 86_400 * 1_000_000
    ts_us = start_us + np.sort(rng.integers(0, span_us, N_EVENTS))
    ts = pa.array(ts_us, pa.int64()).cast(pa.timestamp("us"))
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": ts,
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)]),
            "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
        }
    )


def documents(rng: np.random.Generator) -> pa.Table:
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, N_DOCS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lengths]
    # near-duplicates: a copy of another document plus a marker token;
    # a few exact copies
    for i in np.flatnonzero(rng.random(N_DOCS) < 0.05):
        texts[i] = texts[int(rng.integers(0, N_DOCS))] + " dup"
    for i in np.flatnonzero(rng.random(N_DOCS) < 0.002):
        texts[i] = texts[int(rng.integers(0, N_DOCS))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, N_DOCS, p=LANG_P)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, N_DOCS)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator) -> pa.Table:
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(size=(10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    x = 0.6 * centers[labels] + rng.normal(size=(N_VECS, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def calibration_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_li, n_ord, n_cust = 600_000, 150_000, 15_000
    return {
        "lineitem": pa.table(
            {
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_li), 2)),
            }
        ),
        "orders": pa.table(
            {
                "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord), pa.int64()),
                "o_totalprice": pa.array(np.round(rng.uniform(800, 550_000, n_ord), 2)),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
                "c_mktsegment": pa.array(
                    np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                        rng.integers(0, 5, n_cust)
                    ]
                ),
            }
        ),
    }


def write_query_tables(out_dir: str) -> None:
    """Write the three query tables (same bytes for every call)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    _write(out_dir, "events", events(rng))
    _write(out_dir, "documents", documents(rng))
    _write(out_dir, "embeddings", embeddings(rng))


def write_calibration_tables(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in calibration_tables(np.random.default_rng(DATA_SEED)).items():
        _write(out_dir, name, table)
