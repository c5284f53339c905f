"""Streaming port of the reference's topology test plus the edge cases
it lacks (duplicate event timestamps, straggler within grace).

ApplicationTest.java:104-127 pipes 12 out-of-order records through the
TopologyTestDriver and asserts the sorted value list. Here the same
records flow through a file source → reorder_stream → parquet sink
with Trigger.AvailableNow; the run's trailing no-data micro-batch
advances the watermark and fires the punctuation timer, the analog of
pipeInput advancing stream time and firing punctuation synchronously.
"""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_streams_reorder_timestamp_spark.schemas import ELECTRONIC_ORDER
from kafka_streams_reorder_timestamp_spark.streaming import reorder_stream
from tests.test_reorder_batch import EXPECTED_ORDER_IDS, GOLDEN_INPUT, ts

STREAM_SCHEMA = T.StructType(
    ELECTRONIC_ORDER.fields + [T.StructField("event_time", T.TimestampType(), True)]
)


def write_input(spark, rows, path, n):
    df = spark.createDataFrame(rows, schema=ELECTRONIC_ORDER).withColumn(
        "event_time", F.timestamp_millis(F.col("time"))
    )
    df.coalesce(1).write.mode("append").parquet(str(path))
    assert spark.read.parquet(str(path)).count() == n


def run_once(spark, in_dir, out_dir, ckpt):
    src = spark.readStream.schema(STREAM_SCHEMA).parquet(str(in_dir))
    out = reorder_stream(src, ts_col="event_time", grace="10 hours")
    q = (
        out.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return q


def read_output(out_dir) -> pd.DataFrame:
    """Concatenate sink part-files preserving within-file row order
    (each flush is one task writing one file, so file order IS emission
    order)."""
    # Filenames are UUID-random; modification time orders the flushes.
    parts = sorted(glob.glob(f"{out_dir}/part-*.parquet"), key=os.path.getmtime)
    frames = [pq.read_table(p).to_pandas() for p in parts]
    frames = [f for f in frames if len(f)]
    if not frames:
        return pd.DataFrame(columns=[f.name for f in STREAM_SCHEMA.fields])
    return pd.concat(frames, ignore_index=True)


def test_golden_reorder_stream(spark, tmp_path):
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"

    # All 12 golden records in one run. The data batch buffers them
    # (timer at first_ts + 10h = 11-04T09:00); after the batch the
    # watermark advances to 11-05T00:00 - grace = 11-04T14:00, past the
    # timer, so the trailing no-data batch fires punctuation: the whole
    # buffer drains in event-time order.
    write_input(spark, GOLDEN_INPUT, in_dir, 12)
    run_once(spark, in_dir, out_dir, ckpt)
    got = read_output(out_dir)
    assert list(got["order_id"]) == EXPECTED_ORDER_IDS
    # Values are untouched (no key rewriting, no restamping).
    golden = {r[0]: r for r in GOLDEN_INPUT}
    for _, row in got.iterrows():
        exp = golden[row["order_id"]]
        assert (row["electronic_id"], row["user_id"], row["price"], row["time"]) == (
            exp[1],
            exp[2],
            exp[3],
            exp[4],
        )


def test_duplicate_timestamp_dropped(spark, tmp_path):
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    dup = ("13-dup", "one", "impostor", 999.0, GOLDEN_INPUT[3][4])  # same ts as "4"
    write_input(spark, GOLDEN_INPUT + [dup], in_dir, 13)
    run_once(spark, in_dir, out_dir, ckpt)
    got = read_output(out_dir)
    # first-writer-wins: the duplicate-timestamp record is dropped
    # (Application.java:89-93)
    assert list(got["order_id"]) == EXPECTED_ORDER_IDS
    assert "13-dup" not in set(got["order_id"])


def test_straggler_lands_in_next_flush(spark, tmp_path):
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    write_input(spark, GOLDEN_INPUT, in_dir, 12)
    run_once(spark, in_dir, out_dir, ckpt)
    assert list(read_output(out_dir)["order_id"]) == EXPECTED_ORDER_IDS

    # Straggler: within the grace horizon (watermark is 11-04T14:00)
    # but older than already-flushed records — it arrived after its
    # epoch's flush, so it is buffered for the NEXT flush, reordered
    # only locally (SURVEY §2.1 note 4, the reference's exact behavior).
    straggler = ("0-late", "one", "tardy", 1.0, ts("2021-11-04T18:00:00Z"))
    write_input(spark, [straggler], in_dir, 13)
    run_once(spark, in_dir, out_dir, ckpt)
    assert len(read_output(out_dir)) == 12  # no new flush yet

    # A later record advances the watermark past the new timer; the
    # second flush drains straggler AND the fresh record (flush-all,
    # Application.java:73-81 drains the entire store).
    late_sentinel = ("13", "one", "closer", 5.0, ts("2021-11-06T00:00:00Z"))
    write_input(spark, [late_sentinel], in_dir, 14)
    run_once(spark, in_dir, out_dir, ckpt)
    got = read_output(out_dir)
    assert len(got) == 14
    assert list(got["order_id"])[12:] == ["0-late", "13"]


def test_arrival_behind_watermark_is_dropped(spark, tmp_path):
    """A record older than the watermark is dropped by the engine, as
    the `grace` entry of the `reorder_stream` docstring says: unlike
    the reference, which buffers arbitrarily late records for the next
    flush, it is counted in `numRowsDroppedByWatermark` and never
    reaches the buffer."""
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    write_input(spark, GOLDEN_INPUT, in_dir, 12)
    run_once(spark, in_dir, out_dir, ckpt)
    assert list(read_output(out_dir)["order_id"]) == EXPECTED_ORDER_IDS

    # The watermark now stands at 11-05T00:00 - grace = 11-04T14:00;
    # this record is a day behind it.
    late = ("0-behind", "one", "too-late", 1.0, ts("2021-11-03T13:00:00Z"))
    write_input(spark, [late], in_dir, 13)
    q = run_once(spark, in_dir, out_dir, ckpt)
    progress = q.recentProgress
    assert sum(p.numInputRows for p in progress) == 1
    dropped = sum(
        op.numRowsDroppedByWatermark for p in progress for op in p.stateOperators
    )
    assert dropped == 1

    # Two later records fire the next flush (as in the restart test):
    # only they come out; the late record was never buffered.
    fresh = [
        ("13", "one", "closer", 5.0, ts("2021-11-06T00:00:00Z")),
        ("14", "one", "closer", 6.0, ts("2021-11-07T00:00:00Z")),
    ]
    write_input(spark, fresh, in_dir, 15)
    run_once(spark, in_dir, out_dir, ckpt)
    got = list(read_output(out_dir)["order_id"])
    assert got == EXPECTED_ORDER_IDS + ["13", "14"]


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Restarting from the checkpoint neither reprocesses consumed
    input nor re-emits flushed output — the exactly-once contract of
    checkpointing + an idempotent sink (SURVEY §2.2: the reference only
    configures idempotence, `enable.idempotence=true` in
    configuration/dev.properties:4-5; Structured Streaming's
    checkpoint gives the processing-side guarantee)."""
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    write_input(spark, GOLDEN_INPUT, in_dir, 12)
    run_once(spark, in_dir, out_dir, ckpt)
    assert list(read_output(out_dir)["order_id"]) == EXPECTED_ORDER_IDS

    # Restart with NO new input: the source offset log shows everything
    # consumed, the state store holds no unflushed rows — zero output.
    run_once(spark, in_dir, out_dir, ckpt)
    got = read_output(out_dir)
    assert len(got) == 12, "restart re-emitted flushed rows"

    # Restart with two new records (the second advances the watermark
    # past the first's flush timer): exactly those two appear once, in
    # event-time order, golden prefix untouched.
    fresh = [
        ("13", "one", "closer", 5.0, ts("2021-11-06T00:00:00Z")),
        ("14", "one", "closer", 6.0, ts("2021-11-07T00:00:00Z")),
    ]
    write_input(spark, fresh, in_dir, 14)
    run_once(spark, in_dir, out_dir, ckpt)
    got = read_output(out_dir)
    assert list(got["order_id"])[:12] == EXPECTED_ORDER_IDS
    assert list(got["order_id"])[12:] == ["13", "14"]


CHANGELOG_CONF = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"


@pytest.mark.parametrize("first_mode", ["false", "true"])
def test_buffer_survives_checkpoint_mode_switch(spark, tmp_path, first_mode):
    """Rows buffered under one RocksDB checkpoint mode are flushed, once
    and in order, after a restart under the other: `get_spark` turns
    changelog checkpointing on, and a checkpoint written without it
    (or with it, switched off) keeps its state. Each commit of the
    second run writes that mode's file: `<v>.changelog` or `<v>.zip`."""
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    default = spark.conf.get(CHANGELOG_CONF)
    assert default == "true"
    second_mode = "true" if first_mode == "false" else "false"
    base = ts("2021-11-04T00:00:00Z")
    hour = 3_600_000
    buffered = [
        (str(h), "one", "buffered", 1.0, base + h * hour) for h in (2, 1, 3)
    ]
    try:
        spark.conf.set(CHANGELOG_CONF, first_mode)
        write_input(spark, buffered, in_dir, 3)
        run_once(spark, in_dir, out_dir, ckpt)
        assert len(read_output(out_dir)) == 0  # buffered, no flush yet
        first_versions = len(glob.glob(f"{ckpt}/commits/[0-9]*"))

        spark.conf.set(CHANGELOG_CONF, second_mode)
        sentinel = ("sentinel", "one", "closer", 5.0, base + 33 * hour)
        write_input(spark, [sentinel], in_dir, 4)
        run_once(spark, in_dir, out_dir, ckpt)
        assert list(read_output(out_dir)["order_id"]) == ["1", "2", "3", "sentinel"]

        # State store versions are batch ids + 1; every commit of the
        # second run wrote the second mode's file in every partition.
        last_version = len(glob.glob(f"{ckpt}/commits/[0-9]*"))
        suffix = "changelog" if second_mode == "true" else "zip"
        partitions = glob.glob(f"{ckpt}/state/0/[0-9]*")
        assert partitions and last_version > first_versions
        for part in partitions:
            for v in range(first_versions + 1, last_version + 1):
                assert os.path.exists(f"{part}/{v}.{suffix}"), (part, v, suffix)
    finally:
        spark.conf.set(CHANGELOG_CONF, default)


def test_keyed_reorder_orders_per_key(spark, tmp_path):
    """key_cols restores order WITHIN each key group (the reference
    orders per Kafka partition; keyed grouping is the parallel-scale
    path, SURVEY §7.4 risk 2). Two electronic_ids interleaved
    out-of-order must each come out chronologically."""
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    rows_a = [(f"a{i}", "dev-A", f"u{i}", 1.0 * i, t) for i, t in
              [(1, ts("2021-11-04T02:00:00Z")), (2, ts("2021-11-04T01:00:00Z")),
               (3, ts("2021-11-04T03:00:00Z"))]]
    rows_b = [(f"b{i}", "dev-B", f"u{i}", 2.0 * i, t) for i, t in
              [(1, ts("2021-11-04T01:30:00Z")), (2, ts("2021-11-04T00:30:00Z"))]]
    sentinel = [("zz", "dev-A", "s", 0.0, ts("2021-11-06T00:00:00Z")),
                ("zz2", "dev-B", "s", 0.0, ts("2021-11-06T00:00:00Z"))]
    write_input(spark, rows_a + rows_b + sentinel, in_dir, 7)

    src = spark.readStream.schema(STREAM_SCHEMA).parquet(str(in_dir))
    out = reorder_stream(
        src, ts_col="event_time", grace="10 hours", key_cols=["electronic_id"]
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = read_output(out_dir)
    by_key = {
        k: list(g.sort_index()["order_id"]) for k, g in got.groupby("electronic_id")
    }
    # flush-all drains the sentinels too, ordered last within their key
    assert by_key["dev-A"] == ["a2", "a1", "a3", "zz"]
    assert by_key["dev-B"] == ["b2", "b1", "zz2"]


def test_null_payload_columns_survive_flush(spark, tmp_path):
    """Nullable payload columns of every common type must round-trip the
    state buffer with their values and nulls: a null in a long column
    must not crash the flush, a NaT in a secondary timestamp column must
    come back null, not a min-int64 sentinel, and date / decimal /
    binary / array payloads must neither crash the buffer nor change."""
    import datetime as _dt
    from decimal import Decimal

    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("event_time", T.TimestampType()),
            T.StructField("qty", T.LongType()),
            T.StructField("seen_at", T.TimestampType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("note", T.StringType()),
            T.StructField("day", T.DateType()),
            T.StructField("amount", T.DecimalType(12, 2)),
            T.StructField("blob", T.BinaryType()),
            T.StructField("tags", T.ArrayType(T.LongType())),
        ]
    )
    base = ts("2021-11-04T00:00:00Z")
    rows = [
        ("b", base + 7_200_000, None, None, None, None, None, None, None, None),
        ("a", base + 3_600_000, 7, base, 1.5, "x",
         _dt.date(2021, 11, 3), Decimal("1234567890.12"), b"\x00\xffab", [3, -1, 2]),
        ("zz", base + 86_400_000, 1, None, 0.0, "sentinel",
         _dt.date(2021, 11, 5), Decimal("0.01"), b"", []),
    ]
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"

    def _to_dt(ms):
        return (
            None
            if ms is None
            else _dt.datetime.fromtimestamp(ms / 1000, _dt.timezone.utc).replace(
                tzinfo=None
            )
        )

    df = spark.createDataFrame(
        [(r[0], _to_dt(r[1]), r[2], _to_dt(r[3])) + r[4:] for r in rows],
        schema=schema,
    )
    df.coalesce(1).write.parquet(str(in_dir))

    src = spark.readStream.schema(schema).parquet(str(in_dir))
    out = reorder_stream(src, ts_col="event_time", grace="10 hours")
    q = (
        out.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = read_output(out_dir)
    assert list(got["id"]) == ["a", "b", "zz"]
    b = got[got["id"] == "b"].iloc[0]
    assert pd.isna(b["qty"]) and pd.isna(b["seen_at"]) and pd.isna(b["score"])
    for col in ("note", "day", "amount", "blob", "tags"):
        assert b[col] is None or pd.isna(b[col]), col
    a = got[got["id"] == "a"].iloc[0]
    assert a["qty"] == 7 and a["score"] == 1.5 and a["note"] == "x"
    assert pd.Timestamp(a["seen_at"]).value // 1_000_000 == base
    assert a["day"] == _dt.date(2021, 11, 3)
    assert a["amount"] == Decimal("1234567890.12")
    assert bytes(a["blob"]) == b"\x00\xffab"
    assert list(a["tags"]) == [3, -1, 2]
    zz = got[got["id"] == "zz"].iloc[0]
    assert bytes(zz["blob"]) == b"" and list(zz["tags"]) == []
    assert zz["amount"] == Decimal("0.01")


def test_empty_stream_terminates_cleanly(spark, tmp_path):
    """A source that delivers zero rows (schema-only parquet) must run
    one no-data micro-batch and terminate — no output rows, no timer
    crash, checkpoint committed (round-11 degenerate-input gate)."""
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    write_input(spark, [], in_dir, 0)
    run_once(spark, in_dir, out_dir, ckpt)
    got = read_output(out_dir)
    assert len(got) == 0
    # a second empty run resumes from the checkpoint without error
    run_once(spark, in_dir, out_dir, ckpt)
    assert len(read_output(out_dir)) == 0


def test_all_null_event_time_rows_are_dropped(spark, tmp_path):
    """Rows whose event time is NULL cannot be placed on the event-time
    axis: they have no watermark comparison and no buffer sort key.
    `reorder_stream` removes them with an explicit `isNotNull` filter
    ahead of the watermark, so they never reach the state store —
    never a crash."""
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    # `time` is non-nullable in ELECTRONIC_ORDER; the NULL lives in the
    # extracted event_time column (the shape a bad payload produces
    # after timestamp extraction fails).
    null_row = ("14-null-ts", "one", "ghost", 1.0, GOLDEN_INPUT[0][4])
    rows = GOLDEN_INPUT + [null_row]
    df = spark.createDataFrame(rows, schema=ELECTRONIC_ORDER).withColumn(
        "event_time",
        F.when(
            F.col("order_id") != "14-null-ts",
            F.timestamp_millis(F.col("time")),
        ),
    )
    df.coalesce(1).write.mode("append").parquet(str(in_dir))
    run_once(spark, in_dir, out_dir, ckpt)
    got = read_output(out_dir)
    assert list(got["order_id"]) == EXPECTED_ORDER_IDS
    assert "14-null-ts" not in set(got["order_id"])


def test_reorder_stream_events_table_volume(spark, tmp_path):
    """The streaming re-sequencer over realistic volume: the sf0.01
    events table (10000 rows) written in a deterministically SHUFFLED
    order, flushed across multiple grace epochs. Checks the operator's
    three invariants at volume, not just on the 12-row fixture:
    first-arrival dedup per event timestamp, per-flush chronological
    order, and completeness (every distinct timestamp emitted once)."""
    from kafka_streams_reorder_timestamp_spark.sources import load_table
    from kafka_streams_reorder_timestamp_spark.streaming import reorder_stream

    ev = (
        load_table(spark, "/root/testdata/sf0.01", "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    # deterministic shuffle: order by a hash of the row id
    shuffled = ev.orderBy(F.md5(F.col("event_id").cast("string")))
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    shuffled.coalesce(1).write.parquet(str(in_dir))

    src = spark.readStream.schema(ev.schema).parquet(str(in_dir))
    out = reorder_stream(src, ts_col="ts", grace="10 hours")
    q = (
        out.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = read_output(out_dir)
    src_pdf = ev.toPandas()
    n_distinct_ts = src_pdf["ts"].nunique()

    # completeness + dedup: one row per distinct event timestamp, except
    # timestamps still inside the final (unflushed) grace window
    assert got["ts"].is_unique
    assert len(got) >= n_distinct_ts * 0.9
    assert set(got["ts"]).issubset(set(src_pdf["ts"]))

    # per-flush chronological order: within each sink file (one flush
    # writes one task file) timestamps are non-decreasing
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    for part in sorted(_glob.glob(f"{out_dir}/part-*.parquet"),
                       key=_os.path.getmtime):
        pdf = _pq.read_table(part).to_pandas()
        if len(pdf):
            assert pdf["ts"].is_monotonic_increasing


def test_reorder_stream_volume_100k(spark, tmp_path, volume_sf_dir):
    """Throughput/volume pin at 100k rows (the sf0.1 events table,
    deterministically shuffled): the keyed re-sequencer must ingest,
    dedup, and flush 100k rows through real streaming state within a
    CI-safe budget, emitting every surviving row exactly once in
    per-key event-time order. The 1M-row variant of this topology is
    `test_reorder_keyed_throughput_floor_1m`; SCALE.md records the
    measured re-sequencer throughput.

    The wall-clock budget assertion only runs when
    SPARK_GRAFT_PERF_ASSERT=1: on a loaded host (this sandbox records
    multi-second steal-time spikes) a timing failure is noise, not a
    correctness signal — the functional assertions always run."""
    import time

    from kafka_streams_reorder_timestamp_spark.sources import load_table
    from kafka_streams_reorder_timestamp_spark.streaming import reorder_stream

    ev = (
        load_table(spark, volume_sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    shuffled = ev.orderBy(F.md5(F.col("event_id").cast("string")))
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    shuffled.coalesce(4).write.parquet(str(in_dir))

    src = spark.readStream.schema(ev.schema).parquet(str(in_dir))
    out = reorder_stream(src, ts_col="ts", grace="10 hours", key_cols=["user_id"])
    t0 = time.perf_counter()
    q = (
        out.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    dt = time.perf_counter() - t0

    got = read_output(out_dir)
    src_pdf = ev.select("user_id", "ts").toPandas()
    n_distinct = src_pdf.drop_duplicates().shape[0]
    # completeness + per-key dedup: one row per distinct (user, ts)
    assert len(got) == len(got.drop_duplicates(["user_id", "ts"]))
    assert len(got) >= n_distinct * 0.9  # final grace window may hold back
    # per-key event-time order within each flush file
    import glob as _glob

    import pyarrow.parquet as _pq

    for part in sorted(_glob.glob(f"{out_dir}/part-*.parquet")):
        pdf = _pq.read_table(part).to_pandas()
        if len(pdf):
            assert pdf.groupby("user_id")["ts"].apply(
                lambda s: s.is_monotonic_increasing
            ).all()
    # volume sanity: 100k rows must stream through well under the CI
    # budget (measured ~3-9 s on local[32]; 60 s leaves 6x headroom).
    # Env-gated: timing on a loaded shared host is not a correctness
    # signal, so it must not flake the suite by default.
    if os.environ.get("SPARK_GRAFT_PERF_ASSERT") == "1":
        assert dt < 60, f"100k-row reorder took {dt:.1f}s"


def test_reorder_keyed_throughput_floor_1m(spark, tmp_path, volume_sf_dir):
    """Streaming-throughput regression gate, ON BY DEFAULT since round
    7: the keyed re-sequencer must sustain >= 10k rows/s over 1M rows
    (measured ~40-113k rows/s keyed on local[32] across rounds 5-6,
    including loaded-host runs — the 10k default floor leaves ~4-10x
    headroom, so only a genuine state-codec or per-batch regression
    trips it, not machine variance). The strict 20k floor from round 5
    still applies when SPARK_GRAFT_PERF_ASSERT=1. Input = sf0.1 events
    replicated 10x with disjoint event_ids and second-shifted
    timestamps (no dedup collapse), deterministically shuffled. The
    result is recorded in SCALE.md.

    Flake guards (the headroom above is measured on a 32-core host
    class): hosts with few cores auto-skip the FLOOR (the completeness
    checks still run), and SPARK_GRAFT_PERF_SKIP=1 skips it
    explicitly on a known-loaded CI host."""
    import time

    from kafka_streams_reorder_timestamp_spark.sources import load_table
    from kafka_streams_reorder_timestamp_spark.streaming import reorder_stream

    ev = load_table(spark, volume_sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    rep = spark.range(10).select(F.col("id").alias("_rep"))
    big = ev.crossJoin(rep).select(
        (F.col("event_id") + F.col("_rep") * 10_000_000).alias("event_id"),
        (F.col("ts") + F.make_interval(secs=F.col("_rep"))).alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    n_in = big.count()
    assert n_in == 1_000_000
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ck"
    big.orderBy(F.md5(F.col("event_id").cast("string"))).coalesce(8).write.parquet(
        str(in_dir)
    )

    src = spark.readStream.schema(big.schema).parquet(str(in_dir))
    out = reorder_stream(src, ts_col="ts", grace="10 hours", key_cols=["user_id"])
    t0 = time.perf_counter()
    q = (
        out.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    dt = time.perf_counter() - t0
    rate = n_in / dt
    # completeness sanity so a fast-but-wrong run can't pass
    got = read_output(out_dir)
    assert len(got) >= n_in * 0.9
    if os.environ.get("SPARK_GRAFT_PERF_SKIP") == "1":
        pytest.skip("SPARK_GRAFT_PERF_SKIP=1: throughput floor waived")
    if (os.cpu_count() or 0) < 16 and os.environ.get(
        "SPARK_GRAFT_PERF_ASSERT"
    ) != "1":
        pytest.skip(
            f"only {os.cpu_count()} cores: the 10k floor's headroom is "
            "measured on a 32-core host class (completeness already "
            "checked above); set SPARK_GRAFT_PERF_ASSERT=1 to force"
        )
    floor = 20_000 if os.environ.get("SPARK_GRAFT_PERF_ASSERT") == "1" else 10_000
    assert rate >= floor, (
        f"keyed reorder {rate:,.0f} rows/s < {floor // 1000}k floor ({dt:.1f}s)"
    )
