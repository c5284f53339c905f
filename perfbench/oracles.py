"""Output oracles. Each returns a list of error strings; empty means correct.

Stream oracle (first-writer-wins re-sequencing, Application.java:86-94):
  - exactly one output row per distinct (key, event_time) of the input,
    sentinel rows excluded;
  - that row equals the first-arriving input row with its (key, event_time);
  - within one sink file, each key's rows are in non-decreasing event time
    (a file is written by one task in one micro-batch, so a key's rows in it
    come from one flush).

Batch oracle: the query result equals its registry DuckDB oracle under the
canonical form of ``parity.py`` (sorted columns, cells normalised, rows
sorted).
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

from .inputs import ORDER_FIELDS, SENTINEL_PREFIX

_MAX_REPORTED = 5


def first_arrivals(batches: list[dict[str, np.ndarray]], keyed: bool) -> dict[tuple, tuple]:
    """(key, time) -> the first input row carrying it, in arrival order."""
    first: dict[tuple, tuple] = {}
    for batch in batches:
        for row in zip(*(batch[c] for c in ORDER_FIELDS)):
            if row[0].startswith(SENTINEL_PREFIX):
                continue
            first.setdefault((row[2] if keyed else "", int(row[4])), _norm(row))
    return first


def _norm(row) -> tuple:
    return (str(row[0]), str(row[1]), str(row[2]), float(row[3]), int(row[4]))


def check_stream(
    expected: dict[tuple, tuple], files: list[list[tuple]], keyed: bool
) -> tuple[list[str], dict[str, int]]:
    """Check sink `files` (each a list of ElectronicOrder tuples in file order)
    against `expected` from `first_arrivals`. Returns (errors, counts)."""
    errors: list[str] = []
    seen: Counter = Counter()
    flushes = emitted = sentinels = 0
    for fi, rows in enumerate(files):
        last: dict[str, int] = {}
        for row in rows:
            row = _norm(row)
            key = row[2] if keyed else ""
            if key not in last:
                flushes += 1
            elif row[4] < last[key]:
                errors.append(f"file {fi}: key {key!r} goes back in event time {last[key]} -> {row[4]}")
            last[key] = row[4]
            if row[0].startswith(SENTINEL_PREFIX):
                sentinels += 1
                continue
            emitted += 1
            kt = (key, row[4])
            seen[kt] += 1
            want = expected.get(kt)
            if want is None:
                errors.append(f"unexpected row {row}")
            elif row != want:
                errors.append(f"row {row} is not the first arrival {want}")
    dups = [kt for kt, n in seen.items() if n > 1]
    missing = [kt for kt in expected if kt not in seen]
    errors += [f"(key, event_time) {kt} emitted {seen[kt]} times" for kt in dups]
    errors += [f"(key, event_time) {kt} never emitted" for kt in missing]
    if len(errors) > _MAX_REPORTED:
        errors = errors[:_MAX_REPORTED] + [f"... {len(errors) - _MAX_REPORTED} more"]
    counts = {"emitted": emitted, "sentinels_emitted": sentinels, "flushes": flushes, "missing": len(missing)}
    return errors, counts


def check_batch(spark_df: pd.DataFrame, oracle_df: pd.DataFrame, canon) -> list[str]:
    """`canon` is parity.py's canonical form, shared so this check and the
    parity sweep agree on what equal means."""
    if len(spark_df) != len(oracle_df):
        return [f"{len(spark_df)} rows, oracle has {len(oracle_df)}"]
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return [f"columns {sorted(spark_df.columns)} != oracle {sorted(oracle_df.columns)}"]
    if not canon(spark_df).equals(canon(oracle_df)):
        return ["values differ from the oracle"]
    return []
