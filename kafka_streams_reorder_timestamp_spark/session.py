"""SparkSession factory.

Centralizes the conf that matters at scale so every entry point (tests,
bench, driver contract) runs with the same, deliberately chosen
settings. On a real cluster only ``master`` and the memory sizing
change; the SQL conf below is sized by ``shuffle_partitions`` which
should be ~2-3x total cores on a large cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Worker threads for local mode: $SPARK_GRAFT_CPUS or all cores."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "kafka_streams_reorder_timestamp_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    Defaults encode the engine's performance posture:
      - AQE on (runtime coalescing, skew-join splitting, plan re-opt)
      - shuffle partitions sized to the machine, not the 200 default
      - UTC session timezone (oracle comparison + event-time sanity)
      - Arrow enabled for every pandas-UDF boundary
      - RocksDB state store for streaming state (same durability model
        as the reference's persistent KV store, Application.java:132-136)
        with changelog checkpointing: a micro-batch commit writes one
        changelog file per state partition, the analog of the
        reference's per-record RocksDB put, instead of a full snapshot.
        Spark snapshots the store every `minDeltasForSnapshot` batches
        (default 10) and uploads the snapshot from its background
        maintenance task, so recovery replays about that many
        changelogs (DEPLOY.md). An existing checkpoint switched in
        either direction keeps its state.
    """
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's 1MB coalesce floor collapses small-but-compute-heavy
        # shuffles (pairwise similarity, per-bucket joins) to one task.
        # A 64KB floor keeps those parallel; at cluster scale it only
        # affects stages shuffling < cores x 1MB — noise either way.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Driver testdata stores events.ts as TIMESTAMP(NANOS); Spark has
        # no nanos timestamp, so read as long and convert in the catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # SMJ -> shuffled-hash conversion is left to AQE ONLY (guide
        # §3.1): the runtime threshold converts from REAL post-shuffle
        # partition sizes, so a build side never exceeds the cap, and
        # AQE skew splitting still applies. The r13 snapshot also
        # shipped the static spark.sql.join.preferSortMergeJoin=false,
        # which picks SHJ from pre-runtime ESTIMATES — an executor-OOM
        # risk at scale (SHJ build does not spill) — and measured
        # SLOWER (r13 BENCH_AB median 1.095x over the join-heavy set;
        # r14 revert A/B confirms). Reverted to the default (true);
        # only the AQE runtime conversion below remains.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.ui.enabled", "false")
        # Pin BLAS/OpenMP to one thread per Python worker (guide §4):
        # Spark already supplies the parallelism as one task per core,
        # so a numpy matmul inside applyInPandas/mapInPandas that
        # spawns a cores-wide OpenBLAS pool oversubscribes the machine
        # by ~cores x concurrent-tasks (r13 driver bench: semdedup's
        # 8 concurrent block-matmul tasks each spinning a 32-thread
        # pool made it 2.7x SLOWER on 32 cores than on 8). The per-
        # task matrices here (and per-partition blocks at scale) are
        # far below the size where multi-threaded BLAS wins anyway.
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # PySpark's DataFrame-debugging wrapper captures the Python
        # call site on EVERY DataFrame/Column API call (getActiveSession
        # + conf.get + JVM origin set/clear ≈ 4 extra py4j round trips
        # per call). Plan construction runs inside every timed query, so
        # this is pure driver overhead in the hot path; disabling it
        # halves builder time on the expression-heavy queries (measured
        # r13: quality_classifier_scores builder ×5: 6.04s → 3.22s).
        # Cost: error messages lose the Python call-site line — the
        # JVM-side error class/context is unaffected.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        # Commits write changelogs, not snapshots (see the docstring).
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
