"""PySpark-native analytics engine with the capabilities of
cloudpro-dev/kafka-streams-reorder-timestamp.

The reference (`/root/reference/`) is a Kafka Streams event-time
re-sequencer: it buffers out-of-order records in a persistent KV store
keyed by event timestamp and flushes them chronologically on a
stream-time punctuation every 10 hours of event time, dropping records
whose event timestamp was already buffered
(reference: src/main/java/org/example/Application.java:86-94, 72-83).

This package re-expresses those semantics Spark-first (DataFrame/SQL +
Structured Streaming + Catalyst) and extends them with the relational
core and large-scale training-data-pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing) that a 100 TB
deployment of such an engine needs.

Layout:
    session        SparkSession factory (scale-aware conf)
    schemas        fixed StructType schemas (no inference)
    config         .properties loader (mirror of StreamsUtils.java:16-27)
    sources        batch/stream readers, Kafka+Avro boundary, table catalog
    operators      batch operators: reorder, dedup, similarity, text,
                   multimodal, relational query builders
    streaming      stateful streaming reorder + window helpers
    functions      column-level helpers (vector math, hashing, text)
    plans          plan-inspection utilities (pushdown/broadcast asserts)
"""

import os
import sys

__version__ = "0.1.0"


def _reread_zip_directory_only_when_changed() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task (``pyspark/worker_util.py``, ``setup_spark_files``). Below
    Python 3.13 that eagerly re-reads the central directory of every
    zip on ``sys.path`` once per zipimporter; about 17 importers share
    ``pyspark.zip`` (1,328 entries), which costs ~0.3 s of CPU per task.
    Python 3.13 only drops the cache, so nothing is installed there.

    The ``(st_mtime_ns, st_size)`` stamp is kept on each importer, not
    per archive: every importer holds its own directory copy, so each
    one must re-read once the archive changes.
    """
    if sys.version_info >= (3, 13):
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or getattr(self, "_archive_stamp", None) != stamp:
            reread(self)
            self._archive_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_reread_zip_directory_only_when_changed()
