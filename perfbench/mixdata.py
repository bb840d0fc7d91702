"""Generated tables for the analytics workload.

The queries of the mix read four tables: ``lineitem``,
``events``, ``documents`` and ``embeddings``. This writes them with the
schemas and value model of the repository's synthetic test tables
(TESTDATA.md, FIXTURES.md §1) at their sf0.01 row counts: uniform
TPC-H-style keys, a 30-token vocabulary with 5% near-duplicate documents (a copy of
an earlier document plus one or two ``dup`` tokens), unit-norm 64-dim
float embeddings and a month of time-sorted events over 150 users.

The data is fixed (``DATA_SEED``): the workload seed only shuffles the
query order, so the DuckDB result digests stored in ``digests.json``
stay valid. The input digest stored beside them guards that: a
generator change that alters a single byte fails the run before any
query executes.
"""

from __future__ import annotations

import datetime
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20250126
TABLES = ("lineitem", "events", "documents", "embeddings")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _ts_us(start: datetime.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def lineitem(rng: np.random.Generator, n: int = 60_000) -> pa.Table:
    days = rng.integers(0, (datetime.date(2001, 11, 4) - datetime.date(1995, 1, 2)).days + 1, n)
    return pa.table(
        {
            "l_orderkey": rng.integers(0, 15_000, n, dtype=np.int64),
            "l_partkey": rng.integers(0, 2_000, n, dtype=np.int64),
            "l_suppkey": rng.integers(0, 100, n, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": _ts_us(datetime.datetime(1995, 1, 2), days * 86_400_000_000),
        }
    )


def events(rng: np.random.Generator, n: int = 10_000) -> pa.Table:
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts_us(datetime.datetime(2024, 1, 1), offsets),
            "user_id": rng.integers(0, 150, n, dtype=np.int64),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents(rng: np.random.Generator, n: int = 500) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
            texts.append(" ".join(words))
    lang_p = [0.44, 0.14, 0.14, 0.14, 0.14]
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=lang_p)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int = 500, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n, dtype=np.int32),
        }
    )


def generate(out_dir: str) -> None:
    """Write ``<out_dir>/<table>.parquet`` for the four tables."""
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    for name, make in (("lineitem", lineitem), ("events", events), ("documents", documents), ("embeddings", embeddings)):
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"))


def _norm(v):
    """Integral floats as ints: the oracle compares cells with ``==``
    (1 == 1.0), so a digest must not tell them apart either."""
    if isinstance(v, float) and v.is_integer():
        return int(v)
    if isinstance(v, tuple):
        return tuple(_norm(x) for x in v)
    return v


def result_digest(pdf) -> str:
    """sha256 of a result frame in the oracle's canonical form
    (columns by name, rows order-free), the same for Spark and DuckDB
    frames that ``oracle.compare_frames`` calls equal."""
    from kompactor_spark.oracle import canon_rows

    rows = sorted(repr(tuple(_norm(v) for v in r)) for r in canon_rows(pdf))
    h = hashlib.sha256(repr(sorted(pdf.columns)).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return h.hexdigest()
