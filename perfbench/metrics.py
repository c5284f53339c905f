"""Metric names, units and direction, and the container workloads fill.

``E2E`` are what a user of the system sees and are measured with tracing off;
``LAYERS`` come from a traced run. Sums of time or work in ``LAYERS`` are per
replay (streams) or per pass (``batch_mix``). BENCHMARK.json lists the same
names; the self-test checks that they agree.
"""

from __future__ import annotations

BATCH_QUERIES = (
    "reorder_events",
    "dedup_clusters",
    "semdedup_clusters",
    "quality_classifier_confusion",
    "quality_selection_per_source",
    "dedup_lsh_recall_audit",
    "dedup_threshold_sweep",
    "customer_rfm_scores",
    "q1_pricing_summary",
    "bpe_tokenize_corpus",
    "dedup_simhash",
    "events_gap_fill_locf",
)

E2E = (
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("rows_per_s", "rows/s", "higher"),
    ("batch_ms_p50", "ms", "lower"),
)

LAYERS = (
    ("session.start_s", "s", "lower"),
    ("setup.primer_s", "s", "lower"),
    ("sources.input_write_s", "s", "lower"),
    ("sources.input_rows", "rows", "higher"),
    ("sources.latest_offset_ms_p50", "ms", "lower"),
    ("sources.get_batch_ms_p50", "ms", "lower"),
    ("sources.decode_stage_s", "s", "lower"),
    ("reorder.add_batch_ms_p50", "ms", "lower"),
    ("reorder.query_planning_ms_p50", "ms", "lower"),
    ("reorder.ingest_batch_ms_p50", "ms", "lower"),
    ("reorder.flush_batch_ms_p50", "ms", "lower"),
    ("reorder.buffer_rows_max", "rows", "lower"),
    ("reorder.rows_emitted", "rows", "higher"),
    ("reorder.dup_dropped", "rows", "lower"),
    ("reorder.flushes", "count", "lower"),
    ("reorder.rows_dropped_by_watermark", "rows", "lower"),
    ("reorder.emit_ratio", "ratio", "higher"),
    ("state.bytes_copied_sum", "bytes", "lower"),
    ("state.bytes_copied_per_input_row", "bytes/row", "lower"),
    ("state.bytes_written_sum", "bytes", "lower"),
    ("state.sst_bytes_max", "bytes", "lower"),
    ("state.memory_used_bytes_max", "bytes", "lower"),
    ("state.rows_total_max", "rows", "lower"),
    ("state.commit_ms_sum", "ms", "lower"),
    ("state.update_ms_sum", "ms", "lower"),
    ("state.removal_ms_sum", "ms", "lower"),
    ("state.file_sync_ms_sum", "ms", "lower"),
    ("python.worker_cpu_s", "s", "lower"),
    ("python.cpu_per_row_us", "us/row", "lower"),
    ("python.workers_max", "count", "lower"),
    ("stages.count", "count", "lower"),
    ("stages.tasks", "count", "lower"),
    ("stages.skipped", "count", "higher"),
    ("stages.run_s", "s", "lower"),
    ("stages.cpu_s", "s", "lower"),
    ("stages.run_cpu_ratio", "ratio", "lower"),
    ("stages.shuffle_read_bytes", "bytes", "lower"),
    ("stages.shuffle_write_bytes", "bytes", "lower"),
    ("stages.spill_bytes", "bytes", "lower"),
    ("stages.gc_s", "s", "lower"),
    ("operators.build_s", "s", "lower"),
    ("operators.exec_s", "s", "lower"),
    ("operators.build_jobs", "count", "lower"),
    ("operators.persisted_left", "count", "lower"),
    ("jvm.cpu_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("jvm.rss_mb_max", "MB", "lower"),
    ("driver.cpu_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("error_rate", "ratio", "lower"),
) + tuple(
    (f"q.{q}.{m}", unit, "lower")
    for q in BATCH_QUERIES
    for m, unit in (("build_s", "s"), ("exec_s", "s"), ("build_jobs", "count"))
)

UNITS = {name: unit for name, unit, _ in E2E + LAYERS}


class Metrics:
    """name -> (value, samples); the unit comes from the tables above."""

    def __init__(self):
        self.values: dict[str, tuple[float, int]] = {}

    def set(self, name: str, value: float, n: int = 1) -> None:
        if name not in UNITS:
            raise KeyError(f"unknown metric {name!r}")
        self.values[name] = (float(value), int(n))

    def zero_unset(self, prefixes: tuple[str, ...]) -> None:
        """Report layers a workload does not exercise as 0."""
        for name, _, _ in LAYERS:
            if name.startswith(prefixes) and name not in self.values:
                self.values[name] = (0.0, 0)
