"""Framed-message Kafka model: 1 magic byte + payload (SURVEY.md §1.1).

Reproduces the reference's ingest semantics
(WeatherKafkaAvroDeserializerSchema.java:41-67):

- magic byte → writer-schema lookup in a registry (:44-46)
- records whose writer schema *name* differs from the reader's are
  dropped (:47-50)
- writer→reader resolving decode (:53)
- any decode error drops the record, the stream survives (:65-67)

Two decode paths:

1. ``decode_framed_json`` — pure Catalyst expressions for JSON payloads
   (chained ``when(magic == k, from_json(body, schema_k))``). This is
   the 100 TB hot path: no Python, whole-stage codegen, PERMISSIVE
   null-on-corrupt = drop-on-error.
2. ``decode_framed_avro`` — Arrow-batched ``mapInPandas`` over the
   pure-Python Avro codec (sources/avro_codec.py). It is the only Avro
   path: the job needs no spark-avro JAR on any deployment.

Works identically on batch and streaming DataFrames — both paths are
stateless row transforms.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from weather_flink_spark.sources.avro_codec import RecordSchema, decode_record, encode_record

# The reader schema of the reference's WeatherData record (provable
# fields per FIXTURES.md §1.1 + synthetic extras for evolution tests).
WEATHER_READER_SCHEMA = {
    "type": "record",
    "name": "WeatherData",
    "fields": [
        {"name": "deviceId", "type": "string"},
        {"name": "timestamp", "type": "long"},
        {"name": "temperature", "type": ["null", "double"], "default": None},
        {"name": "humidity", "type": ["null", "double"], "default": None},
        {"name": "station", "type": ["null", "string"], "default": None},
    ],
}

WEATHER_SPARK_SCHEMA = T.StructType(
    [
        T.StructField("deviceId", T.StringType(), False),
        T.StructField("timestamp", T.LongType(), False),
        T.StructField("temperature", T.DoubleType(), True),
        T.StructField("humidity", T.DoubleType(), True),
        T.StructField("station", T.StringType(), True),
    ]
)


@dataclass(frozen=True)
class SchemaRegistry:
    """magic byte → writer schema (the reference's SchemaRegistry)."""

    schemas: dict[int, dict]

    def writer(self, magic: int) -> RecordSchema | None:
        raw = self.schemas.get(magic)
        return RecordSchema.parse(raw) if raw else None


def frame(magic: int, payload: bytes) -> bytes:
    return bytes([magic]) + payload


def encode_framed(registry: SchemaRegistry, magic: int, record: dict) -> bytes:
    return frame(magic, encode_record(registry.writer(magic), record))


# ---------------------------------------------------------------------------
# path 1: JSON payloads, pure Catalyst
# ---------------------------------------------------------------------------


def decode_framed_json(
    df: DataFrame,
    known_magics: tuple[int, ...],
    reader_schema: T.StructType | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Magic-dispatched JSON decode, all in expressions (the hot path).

    Schema evolution works the Avro-resolving way but through JSON
    semantics: every registered writer version parses against the
    READER schema — fields the writer lacks come out null/default,
    unknown writer fields are ignored. Unknown magic → filtered
    (registry miss); corrupt body → from_json PERMISSIVE yields nulls →
    dropped. That is the reference's poison-pill tolerance with zero
    Python in the pipeline.
    """
    schema = reader_schema or WEATHER_SPARK_SCHEMA
    # first byte of the binary value = magic; body = rest, as UTF-8
    magic: Column = F.expr(f"cast(conv(hex(substring({value_col}, 1, 1)), 16, 10) as int)")
    body = F.decode(F.expr(f"substring({value_col}, 2, 2147483647)"), "UTF-8")
    return (
        df.select(magic.alias("_magic"), F.from_json(body, schema).alias("_parsed"))
        .filter(F.col("_magic").isin(*known_magics))
        .filter(F.col("_parsed").isNotNull())
        .select("_parsed.*")
        # PERMISSIVE parsing yields all-null structs for garbage: drop
        # records missing the required key fields (deviceId, timestamp)
        .filter(F.col("deviceId").isNotNull() & F.col("timestamp").isNotNull())
    )


# ---------------------------------------------------------------------------
# path 2: Avro payloads, Arrow-batched Python codec
# ---------------------------------------------------------------------------


def decode_framed_avro(
    df: DataFrame,
    registry: SchemaRegistry,
    reader_schema: dict | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Magic-dispatched Avro resolving decode via mapInPandas.

    Reproduces WeatherKafkaAvroDeserializerSchema end to end: registry
    lookup, schema-name guard, writer→reader resolution, drop-on-error.
    """
    reader_raw = reader_schema or WEATHER_READER_SCHEMA
    reader = RecordSchema.parse(reader_raw)
    out_schema = WEATHER_SPARK_SCHEMA if reader_schema is None else _to_spark_schema(reader_raw)
    schemas_ser = json.dumps({str(k): v for k, v in registry.schemas.items()})
    field_names = [f.name for f in reader.fields]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        writers: dict[int, RecordSchema | None] = {}
        raw = json.loads(schemas_ser)
        for batch in batches:
            rows = []
            for value in batch[value_col]:
                if value is None or len(value) < 1:
                    continue  # dropped: empty frame
                magic = value[0]
                if magic not in writers:
                    w = raw.get(str(magic))
                    writers[magic] = RecordSchema.parse(w) if w else None
                writer = writers[magic]
                if writer is None:
                    continue  # dropped: unknown magic (registry miss)
                if writer.name != reader.name:
                    continue  # dropped: schema-name guard (:47-50)
                try:
                    rows.append(decode_record(writer, reader, value[1:]))
                except Exception:
                    continue  # dropped: poison pill (:65-67)
            yield pd.DataFrame(rows, columns=field_names)

    return df.mapInPandas(decode, schema=out_schema)


def _to_spark_schema(avro_schema: dict) -> T.StructType:
    mapping = {
        "string": T.StringType(),
        "long": T.LongType(),
        "int": T.IntegerType(),
        "double": T.DoubleType(),
        "float": T.FloatType(),
        "boolean": T.BooleanType(),
        "bytes": T.BinaryType(),
    }
    fields = []
    for f in avro_schema["fields"]:
        ftype = f["type"]
        nullable = isinstance(ftype, list)
        base = [t for t in ftype if t != "null"][0] if nullable else ftype
        fields.append(T.StructField(f["name"], mapping[base], nullable))
    return T.StructType(fields)


# ---------------------------------------------------------------------------
# egress: the reference's presence-event serializer (A4)
# ---------------------------------------------------------------------------


def to_presence_kafka_records(df: DataFrame) -> DataFrame:
    """Row → keyed JSON Kafka record (WeatherPresenceSerializationSchema).

    key = deviceId bytes (:34-35); value = JSON with null fields omitted
    (:51); the payload keeps its ``timestamp`` field — Spark's Kafka sink
    cannot set the producer-record timestamp (documented delta, SURVEY.md
    §2-A A4).
    """
    return df.select(
        F.col("deviceId").cast("string").cast("binary").alias("key"),
        F.to_json(F.struct(*df.columns), {"ignoreNullFields": "true"})
        .cast("binary")
        .alias("value"),
    )
