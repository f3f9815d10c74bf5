"""Seeded generator for the analytical tables the ``queries`` workload reads.

The operator registry reads ``{sf_dir}/{table}.parquet``. This module writes
those tables from a seed so the benchmark needs no data outside its own
checkout. Shapes follow the repository's test data at the same scale factor:

- ``documents``: ``doc_id, text, lang, source, n_chars``; 10-100 words drawn
  from a 31-word vocabulary, 5% near-duplicates (an earlier document plus the
  word ``dup``) and a few exact duplicates.
- ``embeddings``: ``vec_id, embedding (64 x float32, unit norm), label``;
  10 weakly separated label clusters.
- ``lineitem``: the TPC-H columns the aggregation queries use.
- ``events``: ``event_id, ts, user_id, event_type, value, props``; 30 days of
  time-ordered events.

Each table is written as ``parts`` Parquet files inside a directory named
``{table}.parquet``, so Spark and DuckDB read it as one table and the
benchmark can time its set-up in equal slices.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
DIM = 64

# rows per table at scale factor 1
ROWS_PER_SF = {
    "documents": 50_000,
    "embeddings": 20_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
TABLES = tuple(ROWS_PER_SF)


def _documents(rng: np.random.Generator, lo: int, hi: int, prior: list[str]) -> pa.Table:
    ids = np.arange(lo, hi, dtype=np.int64)
    texts: list[str] = []
    vocab = np.array(VOCAB)
    for i in ids:
        r = rng.random()
        if r < 0.05 and prior:
            texts.append(prior[rng.integers(0, len(prior))] + " dup")
        elif r < 0.052 and prior:
            texts.append(prior[rng.integers(0, len(prior))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
        prior.append(texts[-1])
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), len(ids), p=LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, lo: int, hi: int, centers: np.ndarray) -> pa.Table:
    n = hi - lo
    label = rng.integers(0, len(centers), n).astype(np.int32)
    v = centers[label] + rng.normal(0.0, 1.0, (n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), DIM).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {"vec_id": np.arange(lo, hi, dtype=np.int64), "embedding": emb, "label": label}
    )


def _lineitem(rng: np.random.Generator, lo: int, hi: int, n_total: int) -> pa.Table:
    n = hi - lo
    n_orders = max(1, n_total // 4)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 2100.0, n) * qty, 2)
    day0 = np.datetime64("1995-01-02", "D")
    ship = day0 + rng.integers(0, 2500, n).astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
            "l_partkey": rng.integers(0, max(1, n_total // 30), n).astype(np.int64),
            "l_suppkey": rng.integers(0, max(1, n_total // 600), n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )


def _events(rng: np.random.Generator, lo: int, hi: int, n_total: int) -> pa.Table:
    n = hi - lo
    span_us = 30 * 86_400 * 1_000_000
    # time-ordered across slices: slice k covers its share of the 30 days
    t0 = span_us * lo // n_total
    t1 = span_us * hi // n_total
    ts = np.sort(rng.integers(t0, t1, n)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    return pa.table(
        {
            "event_id": np.arange(lo, hi, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": rng.integers(0, max(1, n_total // 66), n).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def slices(out_dir: str, sf: float, seed: int, parts: int) -> list[Callable[[], None]]:
    """Callables that write every table under ``out_dir``, one slice each.

    Slice ``k`` writes part ``k`` of every table, so the slices are equal in
    size. They share one random stream: run them in order."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 0.6, (10, DIM))
    sizes = {t: max(parts, int(round(r * sf))) for t, r in ROWS_PER_SF.items()}
    prior_docs: list[str] = []
    for t in TABLES:
        os.makedirs(os.path.join(out_dir, f"{t}.parquet"), exist_ok=True)

    def write(k: int) -> None:
        for t, n in sizes.items():
            lo, hi = n * k // parts, n * (k + 1) // parts
            if t == "documents":
                tbl = _documents(rng, lo, hi, prior_docs)
            elif t == "embeddings":
                tbl = _embeddings(rng, lo, hi, centers)
            elif t == "lineitem":
                tbl = _lineitem(rng, lo, hi, n)
            else:
                tbl = _events(rng, lo, hi, n)
            pq.write_table(tbl, os.path.join(out_dir, f"{t}.parquet", f"part-{k:03d}.parquet"))

    return [functools.partial(write, k) for k in range(parts)]
