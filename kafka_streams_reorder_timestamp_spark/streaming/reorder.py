"""Streaming event-time re-sequencer — the reference's core operator.

Reproduces the Kafka Streams reorder processor
(reference: src/main/java/org/example/Application.java):

- ingest half (Application.java:86-94): buffer each record in
  persistent state keyed by event timestamp; a record whose event
  timestamp is already buffered is DROPPED (first-writer-wins dedup,
  Application.java:89-93);
- stream-time punctuation (Application.java:65-69, grace at :144):
  a timer in the EVENT-TIME domain, here an event-time timeout that
  fires when the watermark passes `first-buffered-event-time + grace`;
- ordered flush (Application.java:72-83): on fire, emit the ENTIRE
  buffer sorted ascending by event time and clear it (flush-all, not
  flush-older-than-watermark — SURVEY §2.1 note 4). A straggler that
  arrives after its epoch was flushed lands in the next flush batch,
  exactly like the reference.

Deliberate divergences (SURVEY §2.1 notes 2-3, §7.4 risk 3): output
rows keep their original columns — we do not overwrite the record key
with the synthetic store key nor restamp records with the punctuation
timestamp; the reference's own test asserts values+order only, which
this operator preserves.

Spark-first shape: state lives in the Structured Streaming state store
(RocksDB provider — same durability model as the reference's RocksDB
KV store), transport is Arrow-batched `applyInPandasWithState`, and
eviction/timers ride the engine's watermark. The per-key buffer is the
only Python-side logic; everything before/after is ordinary DataFrame
code.

State is BATCH-oriented, never per-row: each micro-batch's new rows
are kept as ONE Arrow IPC record batch (the engine's own columnar
format, schema derived once from the input's), so every Spark type
round-trips the buffer with its nulls. The dedup seen-set is read
zero-copy from the buffered batches' event-time column, and flush is
one table `take` in event-time order.

Parallelism: with `key_cols` the order is restored per key group (the
reference orders per Kafka partition; its demo runs 1 partition). With
`key_cols=None` a constant grouping key yields one global order at
parallelism 1 — the same trade-off the reference makes (SURVEY §7.4
risk 2).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_GLOBAL_KEY = "__reorder_key"

# State per key group: when the pending punctuation fires (epoch ms),
# and one Arrow IPC record batch (body only, no schema message) per
# ingest batch.
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("fire_at_ms", T.LongType()),
        T.StructField("chunks", T.ArrayType(T.BinaryType())),
    ]
)


def _grace_ms(grace: str) -> int:
    """Parse '10 hours' / '30 seconds' / '5 minutes' → milliseconds."""
    qty, _, unit = grace.strip().partition(" ")
    unit = unit.rstrip("s")
    factor = {
        "millisecond": 1,
        "second": 1000,
        "minute": 60_000,
        "hour": 3_600_000,
        "day": 86_400_000,
    }[unit]
    return int(float(qty) * factor)


def reorder_stream(
    df: DataFrame,
    ts_col: str,
    grace: str = "10 hours",
    key_cols: Sequence[str] | None = None,
    watermark_delay: str | None = None,
) -> DataFrame:
    """Re-sequence a streaming DataFrame by event time.

    Parameters
    ----------
    df: streaming DataFrame; `ts_col` must be TimestampType.
    ts_col: event-time column (the Avro `time` field analog).
    grace: punctuation interval in event time (Application.java:144).
    key_cols: restore order within these key groups; None = one global
        order (single state group — the reference's 1-partition demo).
    watermark_delay: watermark lag on `ts_col`; defaults to `grace`,
        matching the reference where grace IS the lateness horizon.
        Records later than this are dropped by the engine — a stronger
        late-data policy than the reference, which buffers arbitrarily
        late records for the next flush (SURVEY §2.1 note 4 sanctions
        adopting watermark semantics and documenting the difference);
        stragglers WITHIN the horizon land in the next flush exactly
        like the reference.
    """
    if watermark_delay is None:
        watermark_delay = grace

    out_schema = df.schema
    columns = [f.name for f in out_schema.fields]
    # Timestamps stay naive µs, as the pandas batches carry them.
    arrow_schema = to_arrow_schema(out_schema, timestamp_utc=False)
    grace_ms = _grace_ms(grace)

    def decode(chunk: bytes) -> pa.RecordBatch:
        return pa.ipc.read_record_batch(pa.py_buffer(chunk), arrow_schema)

    def handle(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # Punctuation: drain the whole buffer in event-time order
            # (Application.java:72-83) and clear. The next record to
            # arrive re-registers a timer, which is observationally the
            # reference's periodic schedule (a periodic fire over an
            # empty store forwards nothing).
            _, chunks = state.get
            state.remove()
            table = pa.Table.from_batches(map(decode, chunks), arrow_schema)
            order = np.argsort(_micros(table.column(ts_col)), kind="stable")
            yield table.take(order).to_pandas()
            return

        fire_at_ms, chunks = state.get if state.exists else (0, [])
        chunks = list(chunks)
        seen = np.concatenate(
            [np.empty(0, "int64")] + [_micros(decode(c).column(ts_col)) for c in chunks]
        )

        for pdf in pdfs:
            new = _dedup_batch(pdf, ts_col, seen)
            if new is None:
                continue
            batch = pa.RecordBatch.from_pandas(
                new, schema=arrow_schema, preserve_index=False
            )
            chunks.append(batch.serialize().to_pybytes())
            seen = np.concatenate([seen, _micros(batch.column(ts_col))])

        if not chunks:
            return

        if fire_at_ms == 0:
            # First buffered record after a flush schedules the next
            # punctuation one grace later in event time.
            fire_at_ms = int(seen.min()) // 1000 + grace_ms
        state.update((fire_at_ms, chunks))
        # The engine clears timeout info on every invocation, so it is
        # re-armed here each time; event-time timeouts must be set
        # strictly later than the current watermark.
        state.setTimeoutTimestamp(max(fire_at_ms, state.getCurrentWatermarkMs() + 1))
        return
        yield  # pragma: no cover — makes `handle` a generator

    # A NULL event time cannot be placed on the event-time axis (no
    # watermark comparison, no buffer sort key) — drop the record, the
    # analog of Kafka Streams' GENERIC invalid-timestamp handling
    # (LogAndSkipOnInvalidTimestamp). The reference itself never hits
    # this: its extractor (Application.java:99) returns the
    # non-nullable Avro `time` long directly, so NULL is an edge only
    # this engine's nullable-column inputs can produce. Pinned by
    # tests/test_reorder_stream.py::test_all_null_event_time_rows_are_dropped.
    stream = df.filter(F.col(ts_col).isNotNull()).withWatermark(
        ts_col, watermark_delay
    )
    if key_cols:
        grouped = stream.groupBy(*key_cols)
    else:
        stream = stream.withColumn(_GLOBAL_KEY, F.lit(0))
        grouped = stream.groupBy(_GLOBAL_KEY)

    out = grouped.applyInPandasWithState(
        handle,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return out.select(*columns)


def _micros(ts) -> np.ndarray:
    """Epoch-µs int64 view of a µs timestamp column (never null here)."""
    return np.asarray(ts, dtype="datetime64[us]").view("int64")


def _dedup_batch(
    pdf: pd.DataFrame, ts_col: str, seen: np.ndarray
) -> pd.DataFrame | None:
    """Vectorized first-writer-wins (Application.java:89-93): drop rows
    whose event timestamp is already buffered or duplicated earlier in
    this batch."""
    if pdf.empty:
        return None
    micros = pd.Series(_micros(pdf[ts_col]))
    keep = (~micros.duplicated()) & (~micros.isin(seen))
    if not keep.any():
        return None
    return pdf.loc[keep.values]
