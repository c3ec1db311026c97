"""End-to-end job test: the reference's declared pipeline, assembled.

file fixture (Kafka wire shape) → magic-dispatch decode → observe tap →
3.5 s watermark → presence transitions → keyed JSON records → sink.
"""

from __future__ import annotations

import json
import os
import tempfile

from weather_flink_spark.sources.kafka import sink_options, source_options
from weather_flink_spark.streaming import fixtures as fx
from weather_flink_spark.streaming.weather_job import (
    JobConfig,
    build_sink,
    build_source,
    decode,
    execution_plan,
    run,
    with_logging_tap,
)


def test_kafka_option_builders_reproduce_reference_props():
    src = source_options("broker:9092")
    assert src["subscribe"] == "weatherData"
    assert src["kafka.group.id"] == "weather-processing-job"
    assert src["kafka.client.dns.lookup"] == "use_all_dns_ips"
    assert src["kafka.reconnect.backoff.ms"] == "1000"
    assert src["kafka.reconnect.backoff.max.ms"] == "5000"
    snk = sink_options("broker:9092")
    assert snk["topic"] == "WeatherPresenceEvent"


def test_job_config_merges_args_over_env(monkeypatch):
    monkeypatch.setenv("WEATHER_PRESENCE_GAP_MS", "10000")
    conf = JobConfig.from_env_and_args(["--presence.gap.ms=20000", "--trigger=availableNow"])
    assert conf.get("presence.gap.ms") == "20000"  # args win
    assert conf.get("trigger") == "availableNow"


def test_end_to_end_presence_pipeline(spark):
    d = os.path.join(tempfile.gettempdir(), "wfs_job_e2e")
    fx.write_value_files(spark, d, fx.json_framed_values(), n_files=1)
    conf = JobConfig(
        {
            "source.path": d,
            "payload.format": "json",
            "sink.table": "job_e2e_out",
            "trigger": "availableNow",
        }
    )
    q = run(spark, conf)
    q.awaitTermination(120)
    # observe() tap: poison frames dropped before the tap sees records
    total_tapped = sum(
        p["observedMetrics"]["tap"]["n_records"]
        for p in q.recentProgress
        if "tap" in p.get("observedMetrics", {})
    )
    assert total_tapped == 25

    out = spark.table("job_e2e_out").collect()
    assert len(out) > 0
    payloads = [json.loads(bytes(r["value"])) for r in out]
    # A4 shape: key = deviceId bytes; JSON carries transition fields
    assert {bytes(r["key"]).decode() for r in out} <= {"dev-0", "dev-1", "dev-2"}
    assert all({"deviceId", "transition", "at"} <= set(p) for p in payloads)
    assert {p["transition"] for p in payloads} <= {"online", "offline"}


def _job_conf(src: str, sink: str) -> JobConfig:
    return JobConfig(
        {"source.path": src, "payload.format": "json", "sink.table": sink, "trigger": "availableNow"}
    )


def _sink_rows(spark, table: str) -> list[tuple[bytes, bytes]]:
    return sorted((bytes(r["key"]), bytes(r["value"])) for r in spark.table(table).collect())


def test_run_caps_state_partitions_at_local_cores(spark):
    """The job's state store gets min(session partitions, cores)
    partitions, the session keeps its own value, and the sink rows equal
    the same plan started plainly at the session's count."""
    d = os.path.join(tempfile.gettempdir(), f"wfs_job_cap_{os.getpid()}")
    fx.write_value_files(spark, d, fx.json_framed_values(), n_files=1)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    q = run(spark, _job_conf(d, "job_cap_out"))
    assert q.awaitTermination(120)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    want = min(int(before), spark.sparkContext.defaultParallelism)
    ops = [op for p in q.recentProgress for op in p["stateOperators"]]
    assert ops and {op["numShufflePartitions"] for op in ops} == {want}

    conf = _job_conf(d, "job_cap_plain")
    plan = execution_plan(with_logging_tap(decode(build_source(spark, conf), conf)), conf)
    plain = build_sink(plan, conf).trigger(availableNow=True).outputMode("append").start()
    assert plain.awaitTermination(120)
    assert plain.recentProgress[0]["stateOperators"][0]["numShufflePartitions"] == int(before)
    rows = _sink_rows(spark, "job_cap_out")
    assert rows == _sink_rows(spark, "job_cap_plain") and len(rows) > 0


def _presence_two_legs(spark, base: str, n: int, resume) -> tuple[list, set[int]]:
    """A parquet-sink presence query over one file, stopped, then resumed
    from the same checkpoint after a second file lands in the source
    dir. Leg 1 starts plainly at ``n`` partitions; ``resume`` starts
    leg 2. Returns the sink rows and the partition counts leg 2
    reported."""
    from weather_flink_spark.plans.streaming_queries import _small_state
    from weather_flink_spark.sources.framed import decode_framed_json
    from weather_flink_spark.streaming.jobs import presence_transitions, with_event_time

    src, out, ckpt = (os.path.join(base, k) for k in ("src", "out", "ckpt"))
    values = fx.json_framed_values()
    fx.write_value_files(spark, src, values[::2], n_files=1)

    def writer():
        raw = fx.read_value_stream(spark, src)
        plan = presence_transitions(with_event_time(decode_framed_json(raw, known_magics=(0, 1))))
        return (
            plan.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
        )

    with _small_state(spark, n):
        assert writer().start().awaitTermination(120)
    fx.append_value_file(src, values[1::2], "part-00001.parquet")
    q = resume(writer())
    assert q.awaitTermination(120)
    parts = {op["numShufflePartitions"] for p in q.recentProgress for op in p["stateOperators"]}
    rows = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    return rows, parts


def test_resume_keeps_checkpoint_partition_count(spark):
    """A checkpoint begun at twice the partitions a fresh start_stream
    query would get (8 on a 4-core box) resumes at that count through
    start_stream, and emits what the same two legs emit when both start
    plainly."""
    import shutil

    from weather_flink_spark.streaming.jobs import start_stream

    cap = min(int(spark.conf.get("spark.sql.shuffle.partitions")), spark.sparkContext.defaultParallelism)
    n = 2 * cap
    base = tempfile.mkdtemp(prefix=f"wfs_job_resume_{os.getpid()}_")
    try:
        capped, parts = _presence_two_legs(spark, os.path.join(base, "a"), n, lambda w: start_stream(spark, w))
        plain, _ = _presence_two_legs(spark, os.path.join(base, "b"), n, lambda w: w.start())
    finally:
        shutil.rmtree(base, ignore_errors=True)
    assert parts == {n}
    assert capped == plain and len(capped) > 0
