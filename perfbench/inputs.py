"""Seeded input generators. The same seed gives the same files.

Streams are written as one parquet file per micro-batch (the file source
reads them with ``maxFilesPerTrigger=1``). Every row of the timed replay
carries a distinct ``order_id``; an extra ``dup_share`` of rows repeats the
(key, event_time) of a first-arrival row from the previous file with a new
``order_id`` and price, so first-writer-wins has a known answer. A sentinel file with an event
time far past the data advances the watermark so the end-of-input flush
drains every buffer.

The batch tables follow the shapes of the repository's synthetic TPC-H-ish
test tables (TESTDATA.md) (events, documents, embeddings, orders, lineitem), scaled by ``sf``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import avro

ORDER_FIELDS = ("order_id", "electronic_id", "user_id", "price", "time")
SENTINEL_PREFIX = "sentinel-"
T0_MS = 1_700_000_000_000  # 2023-11-14T22:13:20Z
SENTINEL_GAP_MS = 1000 * 3_600_000
_PRODUCTS = np.array(["HDTV-2333", "SPEAKER-9000", "LAPTOP-4421", "PHONE-1101", "CAMERA-7752"])


@dataclass(frozen=True)
class StreamShape:
    """Traffic parameters of one replay."""

    batches: int  # data files, one micro-batch each
    rows_per_batch: int  # first-arrival rows per file
    advance_ms: int  # event-time advance per file
    disorder_ms: int  # a row arrives at most this far behind the event-time front
    dup_share: float  # extra rows per file repeating a (key, event_time) of the previous file's first arrivals
    keys: int  # distinct user_id values
    zipf: float  # key-popularity exponent; 0 = uniform

    def dups_per_batch(self) -> int:
        return int(round(self.dup_share * self.rows_per_batch))


def order_batches(shape: StreamShape, seed: int) -> list[dict[str, np.ndarray]]:
    """The replay's files in arrival order, then one sentinel file holding
    one row per key. Each file is a dict of ElectronicOrder columns."""
    rng = np.random.default_rng(seed)
    n = shape.batches * shape.rows_per_batch
    step = shape.advance_ms / shape.rows_per_batch
    lag = max(1, int(shape.disorder_ms / step))
    # Nominal event times are distinct; a row's arrival slot trails its
    # nominal slot by at most `lag` rows, which bounds disorder in event time.
    arrival = np.argsort(np.arange(n) + rng.integers(0, lag, n), kind="stable")
    times = T0_MS + (arrival * step).astype(np.int64)
    if shape.zipf > 0:
        weights = 1.0 / np.arange(1, shape.keys + 1) ** shape.zipf
        keys = rng.choice(shape.keys, size=n, p=weights / weights.sum())
    else:
        keys = rng.integers(0, shape.keys, n)
    cols = {
        "order_id": np.array([f"o{seed}-{i}" for i in range(n)], dtype=object),
        "electronic_id": _PRODUCTS[rng.integers(0, len(_PRODUCTS), n)],
        "user_id": np.array([f"u{k}" for k in keys], dtype=object),
        "price": np.round(rng.uniform(1, 2000, n), 2),
        "time": times,
    }
    out = []
    r = shape.rows_per_batch
    for b in range(shape.batches):
        batch = {c: v[b * r : (b + 1) * r] for c, v in cols.items()}
        if b > 0 and shape.dups_per_batch():
            # Duplicates repeat first arrivals of the previous file only, so
            # a duplicate trails the event-time front by at most one file.
            prev = {c: v[(b - 1) * r : b * r] for c, v in cols.items()}
            pick = rng.choice(r, size=shape.dups_per_batch(), replace=False)
            dup = {c: prev[c][pick] for c in ORDER_FIELDS}
            dup["order_id"] = np.array([f"{o}-dup" for o in dup["order_id"]], dtype=object)
            dup["price"] = np.round(dup["price"] + 0.5, 2)
            perm = rng.permutation(r + len(pick))
            batch = {c: np.concatenate([batch[c], dup[c]])[perm] for c in ORDER_FIELDS}
        out.append(batch)
    end = int(times.max()) + SENTINEL_GAP_MS
    out.append(
        {
            "order_id": np.array([f"{SENTINEL_PREFIX}{k}" for k in range(shape.keys)], dtype=object),
            "electronic_id": np.full(shape.keys, _PRODUCTS[0]),
            "user_id": np.array([f"u{k}" for k in range(shape.keys)], dtype=object),
            "price": np.zeros(shape.keys),
            "time": np.full(shape.keys, end, dtype=np.int64),
        }
    )
    return out


def _order_table(batch: dict[str, np.ndarray]) -> pa.Table:
    return pa.table(
        {
            "order_id": pa.array(batch["order_id"], pa.string()),
            "electronic_id": pa.array(batch["electronic_id"], pa.string()),
            "user_id": pa.array(batch["user_id"], pa.string()),
            "price": pa.array(batch["price"], pa.float64()),
            "time": pa.array(batch["time"], pa.int64()),
            "event_time": pa.array(batch["time"] * 1000, pa.timestamp("us", tz="UTC")),
        }
    )


def _kafka_table(batch: dict[str, np.ndarray]) -> pa.Table:
    values = [
        avro.encode(o, e, u, float(p), int(t))
        for o, e, u, p, t in zip(*(batch[c] for c in ORDER_FIELDS))
    ]
    return pa.table(
        {
            "key": pa.array([u.encode() for u in batch["user_id"]], pa.binary()),
            "value": pa.array(values, pa.binary()),
        }
    )


def write_stream(batches: list[dict[str, np.ndarray]], directory: str, kafka: bool) -> None:
    """One parquet file per batch. `kafka=True` writes Kafka-shaped
    (key, Avro value) rows. The file source takes files in modification-time
    order at millisecond resolution, so the files get mtimes one second apart
    in arrival order."""
    os.makedirs(directory, exist_ok=True)
    for i, batch in enumerate(batches):
        table = _kafka_table(batch) if kafka else _order_table(batch)
        path = os.path.join(directory, f"part-{i:05d}.parquet")
        pq.write_table(table, path)
        mtime = T0_MS // 1000 + i
        os.utime(path, (mtime, mtime))


# ---------------------------------------------------------------- batch tables

_WORDS = np.array(
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch".split()
)
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_TS_US = pa.timestamp("us")


def _days(rng, n: int, start: str, end: str) -> pa.Array:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), _TS_US)


def batch_tables(sf: float, documents: int, seed: int) -> dict[str, pa.Table]:
    """events, embeddings, orders and lineitem at scale factor `sf` (row
    counts follow TESTDATA.md: lineitem = 6M x sf), and
    `documents` documents."""
    rng = np.random.default_rng(seed)
    tables: dict[str, pa.Table] = {}

    n = int(1_000_000 * sf)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(span_us, n, replace=False)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), _TS_US),
            "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n), pa.int64()),
            "event_type": pa.array(np.array(["click", "view", "purchase", "signup", "error"])[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )

    n = documents
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # near duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(_WORDS[rng.integers(0, len(_WORDS), rng.integers(10, 101))]))
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(_LANGS[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    n = int(20_000 * sf)
    vec = rng.standard_normal((n, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )

    n_orders = int(1_500_000 * sf)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, int(150_000 * sf), n_orders), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_orders), 2), pa.float64()),
            "o_orderdate": _days(rng, n_orders, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_orders)]
            ),
        }
    )

    n = int(6_000_000 * sf)
    qty = rng.integers(1, 51, n).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, int(10_000 * sf), n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
            "l_returnflag": pa.array(np.array(["N", "R", "A"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04"),
        }
    )
    return tables


def write_tables(tables: dict[str, pa.Table], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
