"""The one query lifecycle: ``streaming.jobs`` starts every query and
bounds every wait, and nothing else in the package does."""

from __future__ import annotations

import os
import tempfile
import time
from pathlib import Path

import pytest

from weather_flink_spark.session import STREAMING_CONFS
from weather_flink_spark.sources.framed import decode_framed_json
from weather_flink_spark.streaming import fixtures as fx
from weather_flink_spark.streaming.jobs import (
    run_bounded,
    run_to_memory,
    tumbling_counts,
    with_event_time,
)

PKG = Path(__file__).resolve().parent.parent / "weather_flink_spark"


def _fixture(spark, kind: str) -> str:
    d = os.path.join(tempfile.gettempdir(), f"wfs_test_lifecycle_{os.getpid()}_{kind}")
    return fx.write_value_files(spark, d, fx.json_framed_values(), n_files=1)


def test_bounded_run_timeout_raises_and_stops_query(spark):
    d = _fixture(spark, "timeout")
    name = f"slow_{os.getpid()}"

    def slow_batch(batch_df, batch_id: int) -> None:
        time.sleep(3)

    writer = (
        fx.read_value_stream(spark, d)
        .writeStream.foreachBatch(slow_batch)
        .queryName(name)
        .option("checkpointLocation", d + "_ckpt")
    )
    with pytest.raises(TimeoutError):
        run_bounded(spark, writer, timeout_s=0.5)
    assert name not in {q.name for q in spark.streams.active}


def test_start_stream_turns_off_the_41_confs(spark):
    """A session that has the two Spark 4.1 confs on (a foreign driver
    session can) gets them off, and a stateful plan still runs at
    ``max_partitions`` state partitions."""
    for k in STREAMING_CONFS:
        spark.conf.set(k, "true")
    try:
        raw = fx.read_value_stream(spark, _fixture(spark, "confs"))
        stream = with_event_time(decode_framed_json(raw, known_magics=(0, 1)))
        progress: list = []
        out = run_to_memory(
            tumbling_counts(stream), output_mode="update", progress_sink=progress, max_partitions=2
        )
        got = {k: spark.conf.get(k) for k in STREAMING_CONFS}
        assert got == dict.fromkeys(STREAMING_CONFS, "false")
    finally:
        for k, v in STREAMING_CONFS.items():
            spark.conf.set(k, v)
    assert out.count() > 0
    want = min(2, spark.sparkContext.defaultParallelism)
    assert {op["numShufflePartitions"] for p in progress for op in p["stateOperators"]} == {want}


def test_only_streaming_jobs_starts_or_awaits_queries():
    """Keeps the lifecycle from forking again: every query start and
    wait in the package goes through streaming/jobs.py."""
    jobs = PKG / "streaming" / "jobs.py"
    assert ".start()" in jobs.read_text() and "awaitTermination" in jobs.read_text()
    offenders = [
        f"{p.relative_to(PKG)}: {needle}"
        for p in sorted(PKG.rglob("*.py"))
        if p != jobs
        for needle in (".start()", "awaitTermination")
        if needle in p.read_text()
    ]
    assert offenders == []
