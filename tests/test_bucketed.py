"""Bucketed-storage tests: writing both fact tables bucketed on the
join key must remove every Exchange from the join plan (the co-located
join that makes orderkey joins survive 100 TB), while producing the
same rows as the shuffled join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_reorder_timestamp_spark import plans
from kafka_streams_reorder_timestamp_spark.sources import load_table
from kafka_streams_reorder_timestamp_spark.sources.bucketed import (
    bucketed_table,
    write_bucketed,
)

N_BUCKETS = 8


@pytest.fixture(scope="module")
def bucketed_facts(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    write_bucketed(orders, "orders_b", ["o_orderkey"], N_BUCKETS)
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b",
        ["o_orderkey"],
        N_BUCKETS,
    )
    yield "orders_b", "lineitem_b"
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def _joined(spark, bucketed_facts):
    o_t, l_t = bucketed_facts
    o = bucketed_table(spark, o_t).select("o_orderkey", "o_orderdate")
    li = bucketed_table(spark, l_t).select("o_orderkey", "l_quantity")
    return o.join(li, "o_orderkey")


def test_bucketed_join_has_no_exchange(spark, bucketed_facts):
    df = _joined(spark, bucketed_facts)
    # co-located buckets: the whole join plan must be exchange-free
    assert plans.shuffle_count(df) == 0, plans.physical_plan(df, "simple")


def test_bucketed_join_matches_shuffled_join(spark, sf_dir, bucketed_facts):
    got = _joined(spark, bucketed_facts).count()
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    assert got == o.join(li, "o_orderkey").count()


def test_bucketed_agg_has_no_exchange(spark, bucketed_facts):
    _, l_t = bucketed_facts
    li = bucketed_table(spark, l_t)
    agg = li.groupBy("o_orderkey").agg(F.sum("l_quantity").alias("q"))
    # group-by on the bucket key: partial agg IS the final agg
    assert plans.shuffle_count(agg) == 0, plans.physical_plan(agg, "simple")


def test_incremental_band_table_join(spark, sf_dir):
    """The production shape dedup_incremental_lsh's docstring claims:
    persist the corpus's LSH band rows ONCE as a table bucketed on the
    (band, bucket) join key; each day sign only the fresh batch and
    join against the stored table. Pins (a) the corpus side of the
    candidate join has NO exchange (bucketed scan feeds the join
    directly — at 100 TB the corpus index is the big side and must not
    re-shuffle per day), and (b) candidate pairs are identical to the
    from-scratch two-sided computation."""
    from kafka_streams_reorder_timestamp_spark.operators.dedup import (
        _incremental_split,
        minhash_band_rows,
    )
    from kafka_streams_reorder_timestamp_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    corpus, batch = _incremental_split(d)

    # "yesterday": sign the corpus once, store bucketed on the join key
    write_bucketed(
        minhash_band_rows(corpus, "text", "doc_id").withColumnRenamed(
            "doc_id", "corpus_doc"
        ),
        "corpus_bands_b",
        ["band", "bucket"],
        N_BUCKETS,
    )
    try:
        stored = bucketed_table(spark, "corpus_bands_b")
        batch_bands = minhash_band_rows(batch, "text", "doc_id").withColumnRenamed(
            "doc_id", "batch_doc"
        )
        # force the sort-merge path: at real scale NEITHER side fits a
        # broadcast, which is exactly when bucketing pays
        old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            cand = (
                batch_bands.join(stored, ["band", "bucket"])
                .select("batch_doc", "corpus_doc")
                .dropDuplicates(["batch_doc", "corpus_doc"])
            )
            plan = plans.physical_plan(cand, "simple")
            # exchanges: the round-robin repartition that widens the
            # batch before minhash_band_rows' signature UDF, the batch
            # side into the join, and the dropDuplicates agg; the
            # STORED side contributes none (bucketed scan)
            assert plans.shuffle_count(cand) == 3, plan
            assert "Bucketed: true" in plans.physical_plan(cand), plan
            got = {(r.batch_doc, r.corpus_doc) for r in cand.collect()}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)

        # from-scratch two-sided computation (what the registered query
        # builds internally) must produce the same candidate set
        fresh = {
            (r.batch_doc, r.corpus_doc)
            for r in batch_bands.join(
                minhash_band_rows(corpus, "text", "doc_id").withColumnRenamed(
                    "doc_id", "corpus_doc"
                ),
                ["band", "bucket"],
            )
            .select("batch_doc", "corpus_doc")
            .dropDuplicates()
            .collect()
        }
        assert got == fresh and len(got) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS corpus_bands_b")
