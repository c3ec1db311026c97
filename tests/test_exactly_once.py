"""Exactly-once sink: replayed micro-batches must not duplicate output."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from weather_flink_spark.sources.framed import decode_framed_json
from weather_flink_spark.streaming import fixtures as fx
from weather_flink_spark.streaming.exactly_once import IdempotentParquetSink, write_exactly_once
from weather_flink_spark.streaming.jobs import run_bounded, tumbling_counts, with_event_time


def _run(spark, src_dir: str, out_dir: str, ckpt: str) -> None:
    raw = fx.read_value_stream(spark, src_dir)
    agg = tumbling_counts(with_event_time(decode_framed_json(raw, known_magics=(0, 1))))
    run_bounded(spark, write_exactly_once(agg, out_dir, ckpt), max_partitions=2)


def test_exactly_once_under_replay(spark):
    base = os.path.join(tempfile.gettempdir(), "wfs_eo")
    shutil.rmtree(base, ignore_errors=True)
    src = fx.write_value_files(spark, os.path.join(base, "src"), fx.json_framed_values(), 2)
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")

    _run(spark, src, out, ckpt)
    sink = IdempotentParquetSink(out)
    first = sink.read(spark).drop("batch_id").collect()
    committed_after_first = sink.committed()
    assert len(first) > 0 and committed_after_first

    # simulate redelivery: wipe the checkpoint so every batch replays,
    # keeping the sink's commit log — output must not change
    shutil.rmtree(ckpt)
    _run(spark, src, out, ckpt)
    second = sink.read(spark).drop("batch_id").collect()
    assert sorted(map(str, second)) == sorted(map(str, first))
    assert sink.committed() == committed_after_first


def test_sink_skips_committed_batch(spark):
    base = os.path.join(tempfile.gettempdir(), "wfs_eo_unit")
    shutil.rmtree(base, ignore_errors=True)
    sink = IdempotentParquetSink(base)
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    sink(df, 0)
    sink(spark.createDataFrame([(99, "DUPLICATE")], "id long, v string"), 0)  # replay
    rows = sink.read(spark).collect()
    assert [(r["id"], r["v"]) for r in rows] == [(1, "a")]
