"""The benchmark's workloads: set-up, timed work, output checks and metrics.

Every workload runs in one process against one ``local[4]`` session.

Set-up (``setup_s``) is the session start, plus the median of three input
writes, plus one primer that pays the one-time costs (JIT, code generation,
Python worker start, RocksDB load): a short replay through the same topology
for the streams, and one noop pass over the queries for ``batch_mix``.

Timed work is a closed loop. A stream replay is one ``availableNow`` query
over the input files with ``maxFilesPerTrigger=1``, so each file enters only
after the previous micro-batch commits; ``batch_mix`` runs one pass over its
queries with a noop sink. The number of replays or passes is fixed by
``--seconds`` and the workload's nominal replay or pass time, never by how
fast the run goes; each replay runs on a fresh checkpoint and sink. Stream
figures are medians over replays; ``batch_mix`` figures take each query at
its best over the passes.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from . import avro, inputs, oracles, trace
from .inputs import ORDER_FIELDS, StreamShape
from .metrics import BATCH_QUERIES, Metrics

SETUP_REPS = 3


@dataclass(frozen=True)
class StreamSpec:
    shape: StreamShape  # the timed replay
    primer: StreamShape  # the one-time warm-up replay
    grace: str
    # Kafka-shaped (key, Avro value) input and output, reordered per user_id;
    # otherwise order rows in parquet, reordered in one global order.
    kafka: bool
    replay_s: float  # nominal replay time on a 4-core host; sets the replay count


@dataclass(frozen=True)
class BatchSpec:
    sf: float
    documents: int
    pass_s: float  # nominal pass time on a 4-core host; sets the pass count


def repeats(seconds: float, nominal_s: float) -> int:
    """Replays or passes that fill `seconds` at the nominal speed. The count
    does not depend on the measured speed, so a faster program gets no more
    samples than a slower one."""
    return max(1, round(seconds / nominal_s))


# Traffic parameters per scale. "full" is the benchmark; "tiny" is the
# self-test's.
#
# The reorder topology arms a key's timer one grace past its first buffered
# row, and the eviction watermark trails the newest event time by one grace,
# so a key flushes once event time has moved about two graces past its first
# buffered row and a batch brings no data for it. Rows are dropped as late
# against the previous batch's watermark; a row, or a duplicate of a first
# arrival from the previous file, trails that by more than one grace only if
# the grace is below the disorder. Every grace here is well above it.
STREAMS = {
    "full": {
        # One global order, 10 h grace. 8 files of 12.5k rows advance event
        # time by 62.5 min each (8.3 h in all), so no timer fires before the
        # sentinel and the buffer reaches ~100k rows.
        "reorder_deep": StreamSpec(
            shape=StreamShape(8, 12_500, 3_750_000, 600_000, 0.02, 1, 0.0),
            primer=StreamShape(1, 500, 3_750_000, 600_000, 0.02, 1, 0.0),
            grace="10 hours",
            kafka=False,
            replay_s=14.0,
        ),
        # 2,000 Zipf(1.0) keys; 5 files of 1,500 rows advance event time by
        # 20 s each under a 10 s grace. From the second file on, every data
        # batch flushes the keys that went quiet (~50 rows in the second
        # batch, ~400-600 in later ones), so 5 of the replay's 7 micro-batches
        # emit rows; hot keys keep buffering until the sentinel drain.
        "reorder_avro_keyed": StreamSpec(
            shape=StreamShape(5, 1_500, 20_000, 4_000, 0.02, 2_000, 1.0),
            primer=StreamShape(1, 500, 20_000, 4_000, 0.02, 50, 1.0),
            grace="10 seconds",
            kafka=True,
            replay_s=14.0,
        ),
    },
    "tiny": {
        "reorder_deep": StreamSpec(
            shape=StreamShape(3, 300, 600_000, 120_000, 0.05, 1, 0.0),
            primer=StreamShape(1, 100, 600_000, 120_000, 0.05, 1, 0.0),
            grace="10 hours",
            kafka=False,
            replay_s=1.0,
        ),
        "reorder_avro_keyed": StreamSpec(
            shape=StreamShape(5, 200, 20_000, 4_000, 0.05, 200, 1.0),
            primer=StreamShape(1, 100, 20_000, 4_000, 0.05, 40, 1.0),
            grace="10 seconds",
            kafka=True,
            replay_s=1.0,
        ),
    },
}
BATCH = {
    "full": BatchSpec(sf=0.02, documents=300, pass_s=7.0),
    "tiny": BatchSpec(sf=0.002, documents=60, pass_s=1.0),
}
WORKLOADS = ("reorder_deep", "reorder_avro_keyed", "batch_mix")


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    seconds: float
    scale: str
    tracer: trace.Tracer
    sampler: object
    session_start_s: float
    traced: bool


@dataclass
class Outcome:
    e2e: Metrics
    layers: Metrics
    attempted: int
    failed: int
    errors: list[str]


def _p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ------------------------------------------------------------------ streams


def _replay(ctx: Context, spec: StreamSpec, in_dir: str, out_dir: str, name: str) -> tuple[float, list[dict]]:
    """One closed-loop replay; returns (wall s, progress records)."""
    from pyspark.sql import types as T

    from kafka_streams_reorder_timestamp_spark.schemas import ELECTRONIC_ORDER
    from kafka_streams_reorder_timestamp_spark.sources.kafka import decode_value, encode_value
    from kafka_streams_reorder_timestamp_spark.streaming.reorder import reorder_stream

    spark = ctx.spark
    if spec.kafka:
        schema = T.StructType([T.StructField("key", T.BinaryType()), T.StructField("value", T.BinaryType())])
    else:
        schema = T.StructType(ELECTRONIC_ORDER.fields + [T.StructField("event_time", T.TimestampType())])
    t0 = time.perf_counter()
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    if spec.kafka:
        src = decode_value(src, spark)
    out = reorder_stream(src, ts_col="event_time", grace=spec.grace, key_cols=["user_id"] if spec.kafka else None)
    if spec.kafka:
        out = encode_value(out, spark, key_col="user_id")
    query = (
        out.writeStream.queryName(name)
        .format("parquet")
        .option("path", os.path.join(out_dir, "sink"))
        .option("checkpointLocation", os.path.join(out_dir, "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    wall = time.perf_counter() - t0
    if query.exception() is not None:
        raise RuntimeError(str(query.exception()))
    return wall, [json.loads(p.json) for p in query.recentProgress]


def read_sink(sink: str, kafka: bool) -> list[tuple[int, list[tuple]]]:
    """(batch id, rows in file order) per committed sink file, from the file
    sink's metadata log. A compacted log entry repeats every earlier file, so
    a file belongs to the first batch that lists it."""
    logs = glob.glob(os.path.join(sink, "_spark_metadata", "[0-9]*"))
    files, seen = [], set()
    for log in sorted(logs, key=lambda p: int(os.path.basename(p).split(".")[0])):
        batch = int(os.path.basename(log).split(".")[0])
        with open(log) as f:
            lines = f.read().splitlines()[1:]  # the first line is the log version
        for line in lines:
            path = json.loads(line)["path"].removeprefix("file:")
            if path not in seen:
                seen.add(path)
                files.append((batch, _sink_rows(path, kafka)))
    return files


def _sink_rows(path: str, kafka: bool) -> list[tuple]:
    table = pq.read_table(path)
    if not kafka:
        return list(zip(*(table.column(c).to_pylist() for c in ORDER_FIELDS)))
    rows = []
    for key, value in zip(table.column("key").to_pylist(), table.column("value").to_pylist()):
        row = avro.decode(value)
        if key != row[2]:
            raise ValueError(f"sink key {key!r} is not the record's user_id {row[2]!r}")
        rows.append(row)
    return rows


def run_stream(ctx: Context, name: str) -> Outcome:
    spec = STREAMS[ctx.scale][name]
    tracer, spark = ctx.tracer, ctx.spark
    in_dir = os.path.join(ctx.work, "input")
    writes = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        with tracer.span("sources.input_write"):
            batches = inputs.order_batches(spec.shape, ctx.seed)
            inputs.write_stream(batches, _fresh(in_dir), spec.kafka)
        writes.append(time.perf_counter() - t0)
    primer_in = _fresh(os.path.join(ctx.work, "primer-input"))
    inputs.write_stream(inputs.order_batches(spec.primer, ctx.seed + 1), primer_in, spec.kafka)
    t0 = time.perf_counter()
    with tracer.span("setup.primer"):
        _replay(ctx, spec, primer_in, _fresh(os.path.join(ctx.work, "primer")), "primer")
    prime_s = time.perf_counter() - t0
    rows_in = sum(len(b["time"]) for b in batches)

    untraced_wall = None
    if ctx.traced:
        # One replay with the tracer off gives the overhead baseline.
        tracer.enabled = False
        untraced_wall, _ = _replay(ctx, spec, in_dir, _fresh(os.path.join(ctx.work, "untraced")), "untraced")
        tracer.enabled = True

    walls, progress, stage_rows, replay_dirs, errors = [], [], [], [], []
    attempted = failed = 0
    cpu0 = ctx.sampler.cpu()
    t_start = time.perf_counter()
    for _ in range(repeats(ctx.seconds, spec.replay_s)):
        attempted += 1
        out_dir = _fresh(os.path.join(ctx.work, f"replay-{attempted}"))
        first_stage = trace.last_stage_id(spark) if ctx.traced else 0
        t_wall = time.time()
        try:
            with tracer.span("stream", replay=attempted):
                wall, prog = _replay(ctx, spec, in_dir, out_dir, f"{name}-{attempted}")
        except Exception as e:  # a failed replay is a failed operation
            failed += 1
            errors.append(f"replay {attempted}: {type(e).__name__}: {e}"[:500])
            break
        walls.append(wall)
        progress.append(prog)
        replay_dirs.append(out_dir)
        if ctx.traced:
            tracer.add_batches(prog, tracer.add("replay", t_wall, t_wall + wall, replay=attempted))
            stage_rows.append(trace.stages_after(spark, first_stage))
    t_end = time.perf_counter()
    cpu1 = ctx.sampler.cpu()

    expected = oracles.first_arrivals(batches, spec.kafka)
    counts: dict[str, int] = {}
    emitted_by_batch: list[dict[int, int]] = []
    for i, out_dir in enumerate(replay_dirs, 1):
        try:
            files = read_sink(os.path.join(out_dir, "sink"), spec.kafka)
            errs, counts = oracles.check_stream(expected, [rows for _, rows in files], spec.kafka)
        except Exception as e:  # unreadable output counts as wrong output
            files, errs = [], [f"{type(e).__name__}: {e}"]
        if errs:
            failed += 1
            errors += [f"replay {i}: {err}" for err in errs]
        emitted_by_batch.append(_emitted_by_batch(files))

    e2e, layers = Metrics(), Metrics()
    batches_all = [p for prog in progress for p in prog]
    batch_ms = [p["durationMs"]["triggerExecution"] for p in batches_all]
    e2e.set("setup_s", ctx.session_start_s + _p50(writes) + prime_s)
    e2e.set("wall_s", _p50(walls), len(walls))
    e2e.set("rows_per_s", _p50([rows_in / w for w in walls]), len(walls))
    e2e.set("batch_ms_p50", _p50(batch_ms), len(batch_ms))
    if not (ctx.traced and walls):
        return Outcome(e2e, layers, attempted, failed, errors)

    n = len(walls)
    _common_layers(ctx, layers, writes, prime_s, rows_in, cpu0, cpu1, n, t_start, t_end, stage_rows)
    flush, ingest = [], []
    for prog, emitted in zip(progress, emitted_by_batch):
        for p in prog:
            (flush if emitted.get(p["batchId"], 0) else ingest).append(p["durationMs"]["triggerExecution"])

    def phase_p50(phase: str) -> float:
        return _p50([p["durationMs"].get(phase, 0) for p in batches_all])

    nb = len(batch_ms)
    layers.set("sources.latest_offset_ms_p50", phase_p50("latestOffset"), nb)
    layers.set("sources.get_batch_ms_p50", phase_p50("getBatch"), nb)
    map_side = [s["run_s"] for rows in stage_rows for s in rows if s["shuffle_write"] > 0]
    layers.set("sources.decode_stage_s", sum(map_side) / n, n)
    layers.set("reorder.add_batch_ms_p50", phase_p50("addBatch"), nb)
    layers.set("reorder.query_planning_ms_p50", phase_p50("queryPlanning"), nb)
    layers.set("reorder.ingest_batch_ms_p50", _p50(ingest), len(ingest))
    layers.set("reorder.flush_batch_ms_p50", _p50(flush), len(flush))

    # Exact counts, from the first replay.
    prog, emitted = progress[0], emitted_by_batch[0]
    ops = [p["stateOperators"][0] for p in prog if p["stateOperators"]]
    depth = cum_in = cum_out = 0
    for p in prog:
        cum_in += p["numInputRows"]
        cum_out += emitted.get(p["batchId"], 0)
        depth = max(depth, cum_in - cum_out)
    late = sum(o["numRowsDroppedByWatermark"] for o in ops)
    out_rows = sum(emitted.values())
    layers.set("reorder.buffer_rows_max", depth)
    layers.set("reorder.rows_emitted", out_rows)
    data_in = rows_in - spec.shape.keys  # the sentinel file holds one row per key
    layers.set("reorder.dup_dropped", data_in - counts.get("emitted", 0) - late)
    layers.set("reorder.flushes", counts.get("flushes", 0))
    layers.set("reorder.rows_dropped_by_watermark", late)
    layers.set("reorder.emit_ratio", out_rows / rows_in)
    custom = [o["customMetrics"] for o in ops]
    copied = sum(c.get("rocksdbBytesCopied", 0) for c in custom)
    layers.set("state.bytes_copied_sum", copied)
    layers.set("state.bytes_copied_per_input_row", copied / rows_in)
    layers.set("state.bytes_written_sum", sum(c.get("rocksdbTotalBytesWritten", 0) for c in custom))
    layers.set("state.sst_bytes_max", max((c.get("rocksdbSstFileSize", 0) for c in custom), default=0))
    layers.set("state.memory_used_bytes_max", max((o["memoryUsedBytes"] for o in ops), default=0))
    layers.set("state.rows_total_max", max((o["numRowsTotal"] for o in ops), default=0))

    # Times, per replay.
    all_ops = [p["stateOperators"][0] for p in batches_all if p["stateOperators"]]
    layers.set("state.commit_ms_sum", sum(o["commitTimeMs"] for o in all_ops) / n, n)
    layers.set("state.update_ms_sum", sum(o["allUpdatesTimeMs"] for o in all_ops) / n, n)
    layers.set("state.removal_ms_sum", sum(o["allRemovalsTimeMs"] for o in all_ops) / n, n)
    sync = sum(o["customMetrics"].get("rocksdbCommitFileSyncLatencyMs", 0) for o in all_ops)
    layers.set("state.file_sync_ms_sum", sync / n, n)
    layers.zero_unset(("operators.", "q."))
    layers.set("trace.overhead_s", _p50(walls) - untraced_wall)
    return Outcome(e2e, layers, attempted, failed, errors)


def _emitted_by_batch(files: list[tuple[int, list[tuple]]]) -> dict[int, int]:
    out: dict[int, int] = {}
    for batch, rows in files:
        out[batch] = out.get(batch, 0) + len(rows)
    return out


# ------------------------------------------------------------------ shared layers


def _common_layers(ctx, layers, writes, prime_s, rows_in, cpu0, cpu1, n, t_start, t_end, stage_rows) -> None:
    """Layers every workload reports; sums are per replay or pass."""
    peak_tree, peak_jvm, workers = ctx.sampler.peak(t_start, t_end)
    layers.set("session.start_s", ctx.session_start_s)
    layers.set("sources.input_write_s", _p50(writes), len(writes))
    layers.set("sources.input_rows", rows_in)
    layers.set("setup.primer_s", prime_s)
    worker_cpu = (cpu1["python"] - cpu0["python"]) / n
    layers.set("python.worker_cpu_s", worker_cpu, n)
    layers.set("python.cpu_per_row_us", worker_cpu / rows_in * 1e6, n)
    layers.set("python.workers_max", workers)
    layers.set("jvm.cpu_s", (cpu1["jvm"] - cpu0["jvm"]) / n, n)
    layers.set("peak_rss_mb", peak_tree)
    layers.set("jvm.rss_mb_max", peak_jvm)
    layers.set("driver.cpu_s", (cpu1["driver"] - cpu0["driver"]) / n, n)
    totals = trace.stage_totals([s for rows in stage_rows for s in rows])
    for key, value in totals.items():
        layers.set(f"stages.{key}", value if key == "run_cpu_ratio" else value / n, n)


# ------------------------------------------------------------------ batch mix


def _query_order(seed: int, pass_no: int) -> list[str]:
    rng = np.random.default_rng([seed, pass_no])
    return [BATCH_QUERIES[i] for i in rng.permutation(len(BATCH_QUERIES))]


def run_batch(ctx: Context) -> Outcome:
    import duckdb

    import kafka_streams_reorder_timestamp_spark.operators  # noqa: F401  (registers the queries)
    from kafka_streams_reorder_timestamp_spark.operators.registry import REGISTRY
    from parity import _canon

    spec = BATCH[ctx.scale]
    spark, tracer = ctx.spark, ctx.tracer
    sc = spark.sparkContext
    data = os.path.join(ctx.work, "tables")
    writes = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        with tracer.span("sources.input_write"):
            tables = inputs.batch_tables(spec.sf, spec.documents, ctx.seed)
            inputs.write_tables(tables, _fresh(data))
        writes.append(time.perf_counter() - t0)
    rows_in = sum(t.num_rows for t in tables.values())

    def run_query(q: str, tag: str, collect: bool = False):
        """Build and run `q` with the cache cleared; (build s, execute s, result)."""
        spark.catalog.clearCache()
        sc.setJobGroup(f"batch_mix:{q}:build:{tag}", f"batch_mix {q} build")
        t0 = time.perf_counter()
        with tracer.span("operators.build", query=q):
            df = REGISTRY[q].builder(spark, data)
        t1 = time.perf_counter()
        sc.setJobGroup(f"batch_mix:{q}:exec:{tag}", f"batch_mix {q} exec")
        result = None
        with tracer.span("collect" if collect else "noop_write", query=q):
            if collect:
                result = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        return t1 - t0, time.perf_counter() - t1, result

    # Primer: one noop pass pays the one-time costs. A query that raises
    # here raises in the timed passes too, which count it.
    errors = []
    failed = attempted = 0
    t0 = time.perf_counter()
    with tracer.span("setup.primer"):
        for q in _query_order(ctx.seed, 0):
            try:
                run_query(q, "primer")
            except Exception as e:  # keep priming the rest
                errors.append(f"{q} (primer): {type(e).__name__}: {e}"[:500])
    prime_s = time.perf_counter() - t0

    def one_pass(order_no: int, tag: str, per_query: dict) -> float:
        nonlocal attempted, failed
        first_stage = trace.last_stage_id(spark) if tracer.enabled else 0
        start = time.perf_counter()
        with tracer.span("pass", tag=tag):
            for q in _query_order(ctx.seed, order_no):
                attempted += 1
                try:
                    with tracer.span("query", query=q, pass_tag=tag):
                        build_s, exec_s, _ = run_query(q, tag)
                except Exception as e:  # a raising query is a failed operation
                    failed += 1
                    errors.append(f"{q} (pass {tag}): {type(e).__name__}: {e}"[:500])
                    continue
                rec = per_query.setdefault(q, {k: [] for k in ("build_s", "exec_s", "build_jobs", "persisted_left", "stages")})
                rec["build_s"].append(build_s)
                rec["exec_s"].append(exec_s)
                if tracer.enabled:
                    rec["persisted_left"].append(sc._jsc.sc().getPersistentRDDs().size())
        wall = time.perf_counter() - start
        if tracer.enabled:
            # Attribute the pass's stages to queries through their job groups.
            stages = {st["id"]: st for st in trace.stages_after(spark, first_stage)}
            tracker = sc.statusTracker()
            for q, rec in per_query.items():
                sids: set[int] = set()
                for phase in ("build", "exec"):
                    jobs = tracker.getJobIdsForGroup(f"batch_mix:{q}:{phase}:{tag}")
                    if phase == "build":
                        rec["build_jobs"].append(len(jobs))
                    for job in jobs:
                        info = tracker.getJobInfo(job)
                        sids.update(info.stageIds if info else ())
                # A shuffle stage reused by a later job of the query keeps its id.
                rec["stages"] += [stages[sid] for sid in sorted(sids) if sid in stages]
        return wall

    untraced_wall = None
    if ctx.traced:
        # The first timed pass's query order, with the tracer off, gives the
        # overhead baseline.
        tracer.enabled = False
        untraced_wall = one_pass(1, "untraced", {})
        tracer.enabled = True

    per_query: dict[str, dict] = {}
    passes = repeats(ctx.seconds, spec.pass_s)
    cpu0 = ctx.sampler.cpu()
    t_start = time.perf_counter()
    walls = [one_pass(i, str(i), per_query) for i in range(1, passes + 1)]
    t_end = time.perf_counter()
    cpu1 = ctx.sampler.cpu()

    # Check pass, untimed: each query runs once more in the state the timed
    # passes left behind, and its collected result meets its DuckDB oracle.
    con = duckdb.connect()
    try:
        for name in tables:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{data}/{name}.parquet'")
        for q in _query_order(ctx.seed, passes + 1):
            attempted += 1
            try:
                _, _, result = run_query(q, "check", collect=True)
                errs = oracles.check_batch(result, con.execute(REGISTRY[q].oracle).fetch_df(), _canon)
            except Exception as e:  # a raising query is a failed operation
                errs = [f"{type(e).__name__}: {e}"[:500]]
            if errs:
                failed += 1
                errors += [f"{q} (check): {err}" for err in errs]
    finally:
        con.close()
        sc.setJobGroup("batch_mix:idle", "")

    # Each query at its best of the passes: on a shared 4-core VM the CPU
    # speed can flip between two levels for seconds at a time, and per-query
    # minima repeat across runs where pass totals do not.
    best = {q: min(b + x for b, x in zip(rec["build_s"], rec["exec_s"])) for q, rec in per_query.items()}
    best_pass = sum(best.values())
    e2e, layers = Metrics(), Metrics()
    e2e.set("setup_s", ctx.session_start_s + _p50(writes) + prime_s)
    e2e.set("wall_s", best_pass, len(walls))
    e2e.set("rows_per_s", rows_in / best_pass if best_pass else 0.0, len(walls))
    # A query execution is this workload's batch. The mean over queries, not
    # their median: the median follows the two middle queries alone, and
    # over ten runs on a shared 4-core VM it spread 0.32 where the sum
    # spread 0.22.
    e2e.set("batch_ms_p50", best_pass / len(best) * 1e3, len(best))
    if not (ctx.traced and walls):
        return Outcome(e2e, layers, attempted, failed, errors)

    n = len(walls)
    stage_rows = [rec["stages"] for rec in per_query.values()]
    _common_layers(ctx, layers, writes, prime_s, rows_in, cpu0, cpu1, n, t_start, t_end, stage_rows)
    layers.zero_unset(("sources.", "reorder.", "state."))
    for q, rec in per_query.items():
        for m in ("build_s", "exec_s", "build_jobs"):
            layers.set(f"q.{q}.{m}", _p50(rec[m]), len(rec[m]))
    for m in ("build_s", "exec_s", "build_jobs", "persisted_left"):
        layers.set(f"operators.{m}", sum(sum(r[m]) for r in per_query.values()) / n, n)
    layers.set("trace.overhead_s", _p50(walls) - untraced_wall)
    return Outcome(e2e, layers, attempted, failed, errors)
