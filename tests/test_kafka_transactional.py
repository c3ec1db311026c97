"""Transactional Kafka sink: replayed micro-batches and failed partition
tasks must never duplicate or leak records (read-committed view)."""

from __future__ import annotations

import os
import shutil
import tempfile

from weather_flink_spark.sources.framed import decode_framed_json
from weather_flink_spark.streaming import fixtures as fx
from weather_flink_spark.streaming.jobs import run_bounded, tumbling_counts, with_event_time
from weather_flink_spark.streaming.kafka_transactional import (
    SpoolDirProducer,
    TransactionalKafkaSink,
    sorted_repr_kv,
    spool_producer_factory,
    write_exactly_once_kafka,
)

# executor-picklable helpers live in the product module (a closure defined
# in this test module cannot be imported by local-mode Python workers)
_factory_for = spool_producer_factory
_row_kv = sorted_repr_kv


def test_sink_skips_committed_batch(spark):
    base = os.path.join(tempfile.gettempdir(), "wfs_ktx_unit")
    shutil.rmtree(base, ignore_errors=True)
    spool = os.path.join(base, "spool")
    sink = TransactionalKafkaSink(
        "WeatherPresenceEvent", _factory_for(spool), _row_kv, os.path.join(base, "log")
    )
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").repartition(2)
    sink(df, 0)
    first = SpoolDirProducer.committed_records(spool)
    assert len(first) == 2 and all(r["topic"] == "WeatherPresenceEvent" for r in first)

    # replay of an already-committed batch id → nothing new, even with
    # different (poisoned) content
    sink(spark.createDataFrame([(99, "DUP")], "id long, v string"), 0)
    assert SpoolDirProducer.committed_records(spool) == first

    # a genuinely new batch appends
    sink(spark.createDataFrame([(3, "c")], "id long, v string").repartition(1), 1)
    assert len(SpoolDirProducer.committed_records(spool)) == 3


def test_failed_partition_aborts_transaction(spark):
    """A task that dies mid-send leaves NO visible records (abort), the
    batch is not marked committed, and the rerun emits exactly once."""
    base = os.path.join(tempfile.gettempdir(), "wfs_ktx_abort")
    shutil.rmtree(base, ignore_errors=True)
    spool = os.path.join(base, "spool")

    def poisoned_kv(row):
        if row["v"] == "BOOM":
            raise ValueError("serializer failure mid-partition")
        return _row_kv(row)

    sink = TransactionalKafkaSink(
        "t", _factory_for(spool), poisoned_kv, os.path.join(base, "log")
    )
    bad = spark.createDataFrame([(1, "ok"), (2, "BOOM")], "id long, v string").coalesce(1)
    try:
        sink(bad, 0)
        raise AssertionError("poisoned batch should have failed")
    except Exception:
        pass
    assert SpoolDirProducer.committed_records(spool) == []  # abort → invisible
    assert sink.committed() == set()

    good = spark.createDataFrame([(1, "ok"), (2, "fixed")], "id long, v string").coalesce(1)
    sink(good, 0)
    assert len(SpoolDirProducer.committed_records(spool)) == 2
    assert sink.committed() == {0}


def test_exactly_once_under_checkpoint_replay(spark):
    """End-to-end twin of test_exactly_once.py: wipe the checkpoint so
    every micro-batch redelivers; the spool must not change."""
    base = os.path.join(tempfile.gettempdir(), "wfs_ktx_e2e")
    shutil.rmtree(base, ignore_errors=True)
    src = fx.write_value_files(spark, os.path.join(base, "src"), fx.json_framed_values(), 2)
    spool = os.path.join(base, "spool")
    log, ckpt = os.path.join(base, "log"), os.path.join(base, "ckpt")

    def run():
        raw = fx.read_value_stream(spark, src)
        agg = tumbling_counts(with_event_time(decode_framed_json(raw, known_magics=(0, 1))))
        writer = write_exactly_once_kafka(
            agg, "WeatherPresenceEvent", _factory_for(spool), _row_kv, log, ckpt
        )
        run_bounded(spark, writer, max_partitions=2)

    run()
    first = sorted(map(str, SpoolDirProducer.committed_records(spool)))
    assert first

    shutil.rmtree(ckpt)  # force full redelivery
    run()
    second = sorted(map(str, SpoolDirProducer.committed_records(spool)))
    assert second == first
