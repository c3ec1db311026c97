"""The reference's end-to-end job, Spark-native (SURVEY.md §3).

``WeatherProcessingJob`` assembled: config → source → decode → logging
tap → event-time plan → presence sink. The reference left the plan
empty and the sink dangling (WeatherProcessingJobPlan.java:9-15); this
module wires the *declared* intent (§2-B): 3.5 s watermark (B1), the
presence derivation (B3), the JSON Kafka sink (A4/A5).

Layers map 1:1 to the reference's phases:
- ``JobConfig``            ≙ ParameterTool args ⊕ system props (:43-44)
- ``build_source``         ≙ getDataStream (:65-77, A1) — kafka or file
- ``decode``               ≙ WeatherKafkaAvroDeserializerSchema (A2)
- ``with_logging_tap``     ≙ the deviceId map tap (:81-84, A3) —
                             observe() metrics, no per-record Python
- ``execution_plan``       ≙ WeatherProcessingJobPlan.executionPlan (B2)
- ``build_sink``           ≙ getDronePresenceProducer (:87,93-100, A4/A5)
- ``run``                  ≙ execute (:89-92)
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_flink_spark.sources import kafka as ksrc
from weather_flink_spark.sources.framed import (
    SchemaRegistry,
    decode_framed_avro,
    decode_framed_json,
    to_presence_kafka_records,
)
from weather_flink_spark.streaming.jobs import presence_transitions, start_stream, with_event_time


@dataclass(frozen=True)
class JobConfig:
    """Flat key→string config, CLI args over env (the reference merges
    ParameterTool.fromArgs over fromSystemProperties)."""

    values: dict[str, str] = field(default_factory=dict)

    @classmethod
    def from_env_and_args(cls, args: list[str] | None = None) -> "JobConfig":
        conf: dict[str, str] = {
            k[len("WEATHER_") :].lower().replace("_", "."): v
            for k, v in os.environ.items()
            if k.startswith("WEATHER_")
        }
        for arg in args or []:
            if arg.startswith("--") and "=" in arg:
                k, _, v = arg[2:].partition("=")
                conf[k] = v
        return cls(conf)

    def get(self, key: str, default: str | None = None) -> str | None:
        return self.values.get(key, default)


def build_source(spark: SparkSession, conf: JobConfig) -> DataFrame:
    """A1: Kafka when configured, file fixture stream otherwise.

    The file path carries the same wire shape (value: binary), so every
    stage downstream is identical in tests and production.
    """
    servers = conf.get("kafka.bootstrap.servers")
    if servers:
        return ksrc.read_weather_stream(spark, servers)
    path = conf.get("source.path")
    if not path:
        raise ValueError("need kafka.bootstrap.servers or source.path")
    from weather_flink_spark.streaming.fixtures import read_value_stream

    return read_value_stream(spark, path)


def decode(raw: DataFrame, conf: JobConfig, registry: SchemaRegistry | None = None) -> DataFrame:
    """A2: magic-dispatched decode; Avro via the Python codec, JSON via
    pure expressions (the zero-Python hot path)."""
    if conf.get("payload.format", "json") == "avro":
        if registry is None:
            raise ValueError("avro decoding needs a SchemaRegistry")
        return decode_framed_avro(raw, registry)
    magics = tuple(int(m) for m in (conf.get("known.magics", "0,1")).split(","))
    return decode_framed_json(raw, known_magics=magics)


def with_logging_tap(decoded: DataFrame) -> DataFrame:
    """A3: the reference logs every deviceId then passes records through.

    Per-record driver logging is an anti-pattern at scale; ``observe``
    attaches named accumulator metrics evaluated inside the plan —
    visible per micro-batch via QueryProgress.observedMetrics without
    any extra pass or Python crossing.
    """
    return decoded.observe(
        "tap", F.count(F.lit(1)).alias("n_records"), F.approx_count_distinct("deviceId").alias("n_devices")
    )


def execution_plan(in_stream: DataFrame, conf: JobConfig) -> DataFrame:
    """B2: the processing plan the reference declared and never wrote —
    event-time (B1) + per-device presence transitions (B3)."""
    gap_ms = int(conf.get("presence.gap.ms", "30000"))
    events = with_event_time(in_stream)
    return presence_transitions(events, gap_ms=gap_ms)


def build_sink(result: DataFrame, conf: JobConfig):
    """A4+A5: presence records → keyed JSON → Kafka (or memory for tests)."""
    records = to_presence_kafka_records(result)
    servers = conf.get("kafka.bootstrap.servers")
    checkpoint = conf.get("checkpoint.dir", "/tmp/weather_job_ckpt")
    if servers:
        return ksrc.write_presence_stream(records, servers, checkpoint)
    return records.writeStream.format("memory").queryName(
        conf.get("sink.table", "presence_events")
    )


def run(spark: SparkSession, conf: JobConfig, registry: SchemaRegistry | None = None):
    """§3.1 phase 4: assemble and start. Returns the StreamingQuery."""
    raw = build_source(spark, conf)
    decoded = with_logging_tap(decode(raw, conf, registry))
    result = execution_plan(decoded, conf)
    writer = build_sink(result, conf)
    if conf.get("trigger", "availableNow") == "availableNow":
        writer = writer.trigger(availableNow=True)
    return start_stream(spark, writer.outputMode("append"))
