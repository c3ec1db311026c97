"""Streaming semantics tests (SURVEY.md §5.2: crafted sequences, no oracle).

Covers the reference's ingest path (framed Avro/JSON decode with
schema-registry dispatch, name guard, poison-pill drop —
WeatherKafkaAvroDeserializerSchema.java:41-67), the declared event-time
intent (3.5 s watermark, B1), session/presence semantics (B3), and the
egress serializer shape (A4).
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import functions as F
from pyspark.sql import types as T

from weather_flink_spark.sources.framed import (
    decode_framed_avro,
    decode_framed_json,
    to_presence_kafka_records,
)
from weather_flink_spark.streaming import fixtures as fx
from weather_flink_spark.streaming.jobs import (
    presence_transitions,
    run_to_memory,
    session_windows,
    tumbling_counts,
    with_event_time,
)

N_GOOD = 25  # 24 in-order records + 1 late straggler


def _value_df(spark, values):
    schema = T.StructType([T.StructField("value", T.BinaryType())])
    return spark.createDataFrame([(v,) for v in values], schema)


# ---------------------------------------------------------------------------
# ingest path (batch — the decoders are mode-agnostic row transforms)
# ---------------------------------------------------------------------------


def test_avro_decode_drops_all_poison_keeps_all_good(spark):
    out = decode_framed_avro(_value_df(spark, fx.framed_values()), fx.REGISTRY)
    rows = out.collect()
    assert len(rows) == N_GOOD
    assert {r["deviceId"] for r in rows} == {"dev-0", "dev-1", "dev-2"}


def test_avro_schema_evolution_v0_reader_defaults(spark):
    """v0-written records (no temperature/humidity) resolve to null via reader defaults."""
    out = decode_framed_avro(_value_df(spark, fx.framed_values()), fx.REGISTRY)
    v0_magic_devices = {"dev-0", "dev-2"}  # burst 1 written with magic d%2==0
    rows = out.collect()
    v0_rows = [r for r in rows if r["temperature"] is None]
    assert len(v0_rows) == 12  # 12 v0-framed records
    assert {r["deviceId"] for r in v0_rows} <= v0_magic_devices | {"dev-1"}


def test_json_decode_drops_all_poison_keeps_all_good(spark):
    out = decode_framed_json(_value_df(spark, fx.json_framed_values()), known_magics=(0, 1))
    assert out.count() == N_GOOD


def test_presence_kafka_record_shape(spark):
    """A4: key = deviceId bytes, value = JSON with nulls omitted."""
    decoded = decode_framed_avro(_value_df(spark, fx.framed_values()), fx.REGISTRY)
    rec = to_presence_kafka_records(decoded).filter(F.col("key") == b"dev-1").first()
    payload = json.loads(bytes(rec["value"]))
    assert payload["deviceId"] == "dev-1"
    assert "station" not in payload  # dev-1 station is null → omitted (NON_NULL)
    assert isinstance(payload["timestamp"], int)


# ---------------------------------------------------------------------------
# event-time streaming
# ---------------------------------------------------------------------------


def test_tumbling_stream_complete_matches_batch_twin(spark):
    d = fx.write_value_files(
        spark,
        os.path.join(tempfile.gettempdir(), "wfs_test_tumb"),
        fx.framed_values(),
        n_files=2,
    )
    stream = with_event_time(decode_framed_avro(fx.read_value_stream(spark, d), fx.REGISTRY))
    got = run_to_memory(tumbling_counts(stream), output_mode="complete")
    batch = tumbling_counts(
        with_event_time(decode_framed_avro(_value_df(spark, fx.framed_values()), fx.REGISTRY))
    )
    key = lambda r: (r["window_start"], r["deviceId"])
    got_rows = {key(r): r["n_events"] for r in got.collect()}
    want_rows = {key(r): r["n_events"] for r in batch.collect()}
    assert got_rows == want_rows
    assert sum(want_rows.values()) == N_GOOD


def test_session_append_emits_only_watermark_closed_sessions(spark):
    d = fx.write_value_files(
        spark,
        os.path.join(tempfile.gettempdir(), "wfs_test_sess"),
        fx.framed_values(),
        n_files=1,
    )
    stream = with_event_time(decode_framed_avro(fx.read_value_stream(spark, d), fx.REGISTRY))
    got = run_to_memory(session_windows(stream), output_mode="append").collect()
    # final watermark = max event (BASE+65s) - 3.5s; only burst-1 sessions
    # (ending ≤ BASE+35s incl. 30s gap) are closed and emitted
    assert {(r["deviceId"], r["n_events"]) for r in got} == {
        ("dev-0", 4),
        ("dev-1", 4),
        ("dev-2", 4),
    }


def test_presence_transitions_single_batch_sequence(spark):
    d = fx.write_value_files(
        spark,
        os.path.join(tempfile.gettempdir(), "wfs_test_pres"),
        fx.framed_values(),
        n_files=1,
    )
    stream = with_event_time(decode_framed_avro(fx.read_value_stream(spark, d), fx.REGISTRY))
    rows = run_to_memory(presence_transitions(stream), output_mode="append").collect()
    by_dev = {}
    for r in sorted(rows, key=lambda r: r["at"]):
        by_dev.setdefault(r["deviceId"], []).append((r["transition"], r["at"]))
    b = fx.BASE_MS
    # dev-0: burst1 @b.. , straggler 55s joins burst2's session (gap 52s → new session @55s)
    assert by_dev["dev-0"] == [
        ("online", b),
        ("offline", b + 3_000 + 30_000),
        ("online", b + 55_000),
    ]
    # dev-1/2: online @t0, offline @t0+33s, online @t0+60s
    for dd in (1, 2):
        t0 = b + dd * 1_000
        assert by_dev[f"dev-{dd}"] == [
            ("online", t0),
            ("offline", t0 + 3_000 + 30_000),
            ("online", t0 + 60_000),
        ]


def test_late_data_query_accounting(spark):
    from weather_flink_spark.plans.registry import all_specs

    row = all_specs()["s_late_data"].fn(spark, "/root/testdata/sf0.001").first()
    assert row["n_dropped_late"] == 1  # the 5s-late straggler, beyond 3.5s bound
    assert row["n_window_updates"] >= 3


def test_rocksdb_state_store_provider_works(spark):
    """The beyond-memory state path: the same tumbling aggregation runs
    on the RocksDB state store provider (what a 100 TB deployment uses)
    and produces identical results to the default provider."""
    d = fx.write_value_files(
        spark, os.path.join(tempfile.gettempdir(), "wfs_test_rocks"), fx.json_framed_values(), 1
    )

    def run():
        stream = with_event_time(
            decode_framed_json(fx.read_value_stream(spark, d), known_magics=(0, 1))
        )
        out = run_to_memory(tumbling_counts(stream), output_mode="complete", max_partitions=2)
        return {(r["window_start"], r["deviceId"]): r["n_events"] for r in out.collect()}

    default_result = run()
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks_result = run()
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    assert rocks_result == default_result and len(rocks_result) > 0


def test_dedup_within_watermark_state_expires(spark):
    """Each device must emit once per burst: duplicates inside a burst
    collapse, and burst-2 re-emits because burst-1's key state expired
    with the watermark (plain dropDuplicates would suppress it)."""
    from weather_flink_spark.plans.registry import all_specs

    rows = all_specs()["s_dedup_within_watermark"].fn(spark, "/root/testdata/sf0.001").collect()
    per_dev: dict[str, int] = {}
    for r in rows:
        per_dev[str(r["deviceId"])] = per_dev.get(str(r["deviceId"]), 0) + 1
    for dev in ("dev-0", "dev-1", "dev-2"):
        assert per_dev[dev] == 2, per_dev  # one per burst — state expired between
    assert per_dev["dev-9"] == 1 and per_dev["dev-8"] == 1
    assert len(rows) == 8


def test_rate_limit_stream_throttles_bursts(spark):
    """The keyed throttle must admit at most M per (device, window),
    with contiguous kept_rank, and actually drop burst overflow."""
    from weather_flink_spark.plans.registry import all_specs

    rows = all_specs()["s_rate_limit"].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    seen: dict[tuple[str, int], list[int]] = {}
    for r in rows:
        seen.setdefault((r.deviceId, r.window_start), []).append(r.kept_rank)
        assert r.window_start <= r.timestamp < r.window_start + 10_000
    for key, ranks in seen.items():
        ranks.sort()
        assert ranks == list(range(1, len(ranks) + 1)), key
        assert len(ranks) <= 2
    # each fixture burst is 4 events inside one window: overflow dropped
    n_good_events = 24
    assert len(rows) < n_good_events
