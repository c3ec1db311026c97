"""Streaming registry entries (rows-only checks — SURVEY.md §2-C).

Each entry builds a real Structured Streaming pipeline: a file source
carrying the reference's Kafka wire shape (``value: binary``, framed
Avro/JSON — WeatherKafkaAvroDeserializerSchema.java:41-67), event-time
transforms with the declared 3.5 s watermark
(WeatherProcessingJob.java:66), availableNow execution into a memory
sink, and returns the sink contents as the result DataFrame. No DuckDB
oracle — window/watermark semantics are instead pinned by the
oracle-checked batch twins (q_tumbling_batch / q_sliding_batch /
q_session_batch in events_queries.py) and by tests/test_streaming.py.

Determinism: fixtures are fixed byte sequences; single-batch execution
(availableNow, no maxFilesPerTrigger) makes watermark progression
deterministic. ``s_late_data`` alone uses two ordered files
(mtime-ranked, maxFilesPerTrigger=1) so the watermark provably advances
between batches and drops the late straggler.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_flink_spark.plans.registry import register
from weather_flink_spark.sources.framed import decode_framed_avro, decode_framed_json
from weather_flink_spark.streaming import fixtures as fx
from weather_flink_spark.streaming.jobs import (
    dedup_stream,
    presence_transitions,
    rate_limit_stream,
    run_to_memory,
    session_windows,
    sliding_counts,
    tumbling_counts,
    with_event_time,
)


def _configure(spark: SparkSession) -> SparkSession:
    """Runtime confs the streaming entries need even on a foreign session.

    The driver runs queries() on its own SparkSession, so session-factory
    defaults don't reach it; these are runtime-settable SQL confs.
    """
    try:
        # Spark 4.1 checksum checkpoint manager deadlocks its async pool
        # under many concurrent state partitions on local filesystems.
        spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        # 4.1's commit validation rejects batches whose state stores
        # never commit — exactly what an idempotent foreachBatch skip
        # does on replay (streaming/exactly_once.py).
        spark.conf.set("spark.sql.streaming.stateStore.commitValidation.enabled", "false")
    except Exception:
        pass
    return spark


@contextmanager
def _small_state(spark: SparkSession, n: int = 2):
    """Temporarily shrink shuffle/state partitions for tiny fixtures.

    n=2 keeps multi-partition state coverage while halving store
    setup/commit vs the earlier n=4 (measured ~0.5 s per entry on the
    fixture suite); partition count is physical, not semantic.
    State-store partition count binds at stream START; 32 stores per
    micro-batch spend the whole batch on setup/commit for a 28-row
    fixture. Restored afterwards so batch queries keep full parallelism.
    Composes with ``streaming.jobs.start_stream``'s per-core cap, which
    only ever lowers the count (min(n, cores)).
    """
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def _fixture_dir(spark: SparkSession, kind: str) -> str:
    """Write the named fixture into a fresh per-process temp dir."""
    d = os.path.join(tempfile.gettempdir(), f"wfs_stream_{kind}_{os.getpid()}")
    values = fx.framed_values() if kind == "avro" else fx.json_framed_values()
    if kind == "dup":
        values = fx.json_framed_values() * 2  # exact duplicates for dedup
    fx.write_value_files(spark, d, values, n_files=2)
    return d


def _avro_stream(spark: SparkSession) -> DataFrame:
    _configure(spark)
    raw = fx.read_value_stream(spark, _fixture_dir(spark, "avro"))
    return with_event_time(decode_framed_avro(raw, fx.REGISTRY))


def _json_stream(spark: SparkSession, kind: str = "json") -> DataFrame:
    _configure(spark)
    raw = fx.read_value_stream(spark, _fixture_dir(spark, kind))
    return with_event_time(decode_framed_json(raw, known_magics=(0, 1)))


@register(
    "s_watermark_tumbling",
    doc=(
        "B1 end-to-end: framed-Avro Kafka-shaped stream → magic-dispatch "
        "resolving decode (drop-on-error) → 3.5 s watermark → per-device "
        "1-minute tumbling window counts (update mode)."
    ),
    tags=("streaming",),
)
def s_watermark_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _small_state(spark):
        return run_to_memory(tumbling_counts(_avro_stream(spark)), output_mode="update")


@register(
    "s_sliding",
    doc="Sliding 10 min/5 min window counts over the JSON-framed stream (pure-Catalyst decode).",
    tags=("streaming",),
)
def s_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _small_state(spark):
        return run_to_memory(sliding_counts(_json_stream(spark)), output_mode="update")


@register(
    "s_session_presence",
    doc=(
        "B3 presence shape: per-device 30 s session windows over the "
        "framed-Avro stream. Append mode (session windows forbid "
        "update): only sessions closed by the final watermark emit — "
        "burst-1 of each device; burst-2 stays open in state."
    ),
    tags=("streaming",),
)
def s_session_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _small_state(spark):
        return run_to_memory(session_windows(_avro_stream(spark)), output_mode="append")


@register(
    "s_dedup_stream",
    doc=(
        "Watermark-scoped streaming dedup on (deviceId, event_time): the "
        "fixture is duplicated wholesale; output holds each event once."
    ),
    tags=("streaming",),
)
def s_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _small_state(spark):
        return run_to_memory(dedup_stream(_json_stream(spark, "dup")), output_mode="append")


@register(
    "s_stateful_transitions",
    doc=(
        "B3 arbitrary state: per-device online/offline presence "
        "transitions via applyInPandasWithState (30 s gap)."
    ),
    tags=("streaming",),
)
def s_stateful_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _small_state(spark):
        return run_to_memory(presence_transitions(_avro_stream(spark)), output_mode="append")


@register(
    "s_rate_limit",
    doc=(
        "Keyed streaming rate limiter via applyInPandasWithState: at "
        "most 2 events pass per (device, 10 s event-time window), state "
        "is one (window, count) pair per device with event-time-timeout "
        "eviction — the streaming twin of q_events_rate_limit's hot-key "
        "gate. Each fixture burst (4 events in <= 3 s) keeps exactly 2."
    ),
    tags=("streaming",),
)
def s_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rate_limit_run(spark)


def _rate_limit_run(
    spark: SparkSession, progress_sink: list | None = None
) -> DataFrame:
    with _small_state(spark):
        return run_to_memory(
            rate_limit_stream(_json_stream(spark)),
            output_mode="append",
            progress_sink=progress_sink,
        )


@register(
    "s_late_data",
    doc=(
        "Late-row drop accounting: main burst file then a straggler file "
        "(5 s-late event) in a second micro-batch after the watermark "
        "passed it. Returns one row: windows emitted, rows dropped late."
    ),
    tags=("streaming",),
)
def s_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    _configure(spark)
    with _small_state(spark):
        return _late_data_run(spark)


def _late_data_run(spark: SparkSession) -> DataFrame:
    d = os.path.join(tempfile.gettempdir(), f"wfs_stream_late_{os.getpid()}")
    values = fx.json_framed_values()
    late = values[-4:-3]  # the dev-0 straggler is the last good record
    main = values[:-4] + values[-3:]
    # Spark filters late rows with the PREVIOUS batch's watermark
    # (watermarkForLateEvents lags eviction by one batch), so the
    # straggler must land in batch 3: batch 1 advances the watermark,
    # batch 2 (any on-time row) activates it for filtering, batch 3
    # delivers the straggler → provably dropped.
    ontime = [fx.frame(1, b'{"deviceId": "dev-2", "timestamp": %d}' % (fx.BASE_MS + 65_000))]
    fx.write_value_files(spark, d, main, n_files=1)
    now = time.time()
    for i, batch_values in enumerate((ontime, late), start=1):
        p = fx.append_value_file(d, batch_values, f"late-batch-{i}.parquet")
        os.utime(p, (now + 60 * i, now + 60 * i))  # mtime orders the batches
    raw = fx.read_value_stream(spark, d)  # maxFilesPerTrigger=1 → ordered batches
    # 10 s windows: the straggler's window END (BASE+60 s) is below the
    # batch-2 watermark (BASE+61.5 s), so the row is provably dropped —
    # Spark drops agg input only once its whole window is expired
    agg = tumbling_counts(
        with_event_time(decode_framed_json(raw, known_magics=(0, 1))), width="10 seconds"
    )
    name = f"mem_{uuid.uuid4().hex[:12]}"
    # append mode: late input is dropped once its window is below the
    # watermark (update mode would instead re-create the evicted window)
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.time() + 120
    while q.isActive and time.time() < deadline:
        q.awaitTermination(1)
    dropped = 0
    for p in q.recentProgress:
        for op in p.get("stateOperators", []):
            dropped += op.get("numRowsDroppedByWatermark", 0)
    n_windows = spark.table(name).count()
    return spark.createDataFrame(
        [(int(n_windows), int(dropped))], "n_window_updates long, n_dropped_late long"
    )


@register(
    "s_stream_static_join",
    doc=(
        "Stream-static join: the decoded stream enriched against a "
        "static in-memory dimension (device → site metadata). The "
        "static side is re-planned per micro-batch and broadcast — no "
        "state, no watermark needed."
    ),
    tags=("streaming", "join"),
)
def s_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = spark.createDataFrame(
        [("dev-0", "site-A"), ("dev-1", "site-B"), ("dev-2", "site-A")],
        "deviceId string, site string",
    )
    enriched = (
        _json_stream(spark)
        .join(F.broadcast(dim), "deviceId", "left")
        .groupBy("site")
        .agg(F.count("*").alias("n_events"))
    )
    with _small_state(spark):
        return run_to_memory(enriched, output_mode="complete")


@register(
    "s_stream_stream_join",
    doc=(
        "Stream-stream inner join: the Avro-framed feed correlated with "
        "the JSON-framed feed per device within \u00b12 s event time. Both "
        "sides watermarked (3.5 s); the equi key (deviceId) keys the "
        "join state, the event-time range condition bounds state "
        "retention. Caveat: the equi key must be a plain column - a key "
        "derived from the watermark column breaks Spark's "
        "state-watermark extraction with an internal error."
    ),
    tags=("streaming", "join"),
)
def s_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    left = _avro_stream(spark).select(
        F.col("deviceId").alias("dev"),
        F.col("event_time").alias("t_a"),
    )
    right = _json_stream(spark).select(
        F.col("deviceId").alias("dev_r"),
        F.col("event_time").alias("t_b"),
    )
    joined = left.join(
        right,
        (F.col("dev") == F.col("dev_r"))
        & (F.col("t_b") >= F.col("t_a") - F.expr("interval 2 seconds"))
        & (F.col("t_b") <= F.col("t_a") + F.expr("interval 2 seconds")),
        "inner",
    ).select("dev", "t_a", "t_b")
    with _small_state(spark):
        return run_to_memory(joined, output_mode="append")


@register(
    "s_file_sink_roundtrip",
    doc=(
        "Streaming file sink (the A5 sink family's file analog): the "
        "decoded JSON-framed stream appended to a checkpointed parquet "
        "sink directory, then read back in batch and aggregated per "
        "device. Exactly-once for the file sink comes from the sink "
        "manifest (_spark_metadata) + checkpoint, the same contract the "
        "Kafka sink approximates with foreachBatch."
    ),
    tags=("streaming", "sink"),
)
def s_file_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    _configure(spark)
    out = os.path.join(tempfile.gettempdir(), f"wfs_stream_fsink_{os.getpid()}")
    ckpt = out + "_ckpt"
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    with _small_state(spark):
        stream = _json_stream(spark).select("deviceId", "event_time", "temperature")
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        deadline = time.time() + 120
        while q.isActive and time.time() < deadline:
            q.awaitTermination(1)
    back = spark.read.parquet(out)  # batch read honors the sink manifest
    return back.groupBy("deviceId").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("temperature").cast("decimal(18,6)")).cast("double").alias("sum_temp"),
    )


@register(
    "s_rate_source",
    doc=(
        "Rate-source smoke (SURVEY.md §2-C scans row: the broker-less "
        "synthetic stream source): fixed-rate generator → 1 s tumbling "
        "counts, bounded by stopping after the rows arrive. Proves the "
        "second built-in streaming source besides files/Kafka."
    ),
    tags=("streaming", "source"),
)
def s_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    _configure(spark)
    with _small_state(spark):
        stream = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "50")
            .option("numPartitions", "2")
            .load()
            .withWatermark("timestamp", "1 second")
            .groupBy(F.window("timestamp", "1 second").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("window_start"), "n")
        )
        name = f"mem_{uuid.uuid4().hex[:12]}"
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        deadline = time.time() + 30
        # rate source is unbounded: stop once at least one full window landed
        while time.time() < deadline:
            q.processAllAvailable()
            if spark.table(name).count() >= 2:
                break
            time.sleep(0.3)
        q.stop()
        rows = spark.table(name).collect()
    # wall-clock governs how many windows land, so reduce to invariants
    # that ARE deterministic (the determinism suite reruns every entry)
    saw_windows = len(rows) >= 2
    rows_counted = sum(r["n"] for r in rows) > 0
    return spark.createDataFrame(
        [("rate", bool(saw_windows), bool(rows_counted))],
        "source string, saw_multiple_windows boolean, counted_rows boolean",
    )


@register(
    "s_foreachbatch_rollup",
    doc=(
        "Incremental rollup maintenance via foreachBatch: the JSON-"
        "framed stream's per-device (count, decimal sum) aggregate in "
        "update mode feeds a keyed parquet rollup table; each micro-"
        "batch upserts only the devices it touched (update-mode rows "
        "carry the full new aggregate per key, so merge = keyed "
        "overwrite + untouched-row carry-over, swapped in atomically). "
        "maxFilesPerTrigger=1 over two fixture files forces >=2 micro-"
        "batches, so the maintenance is provably incremental. The "
        "result re-derives the truth from a batch read of the same "
        "fixture and flags per-device equality — the continuous-"
        "aggregate contract (reference: windowed rollup sinks) without "
        "recomputing history each batch."
    ),
    tags=("streaming", "sink", "incremental"),
)
def s_foreachbatch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    _configure(spark)
    fixture = _fixture_dir(spark, "json")
    base = os.path.join(tempfile.gettempdir(), f"wfs_stream_rollup_{os.getpid()}")
    rollup_dir = os.path.join(base, "rollup")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        updates = batch_df.persist()
        if os.path.exists(rollup_dir):
            current = sess.read.parquet(rollup_dir)
            keep = current.join(updates.select("deviceId"), "deviceId", "left_anti")
            merged = keep.unionByName(updates)
        else:
            merged = updates
        tmp = rollup_dir + f".b{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        updates.unpersist()
        shutil.rmtree(rollup_dir, ignore_errors=True)
        os.replace(tmp, rollup_dir)

    with _small_state(spark):
        raw = fx.read_value_stream(spark, fixture)
        decoded = with_event_time(decode_framed_json(raw, known_magics=(0, 1)))
        agg = decoded.groupBy("deviceId").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("temperature").cast("decimal(18,6)")).cast("double").alias("sum_temp"),
        )
        q = (
            agg.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        deadline = time.time() + 120
        while q.isActive and time.time() < deadline:
            q.awaitTermination(1)

    from pyspark.sql import types as T

    batch_raw = spark.read.schema(
        T.StructType([T.StructField("value", T.BinaryType())])
    ).parquet(fixture)
    truth = (
        with_event_time(decode_framed_json(batch_raw, known_magics=(0, 1)))
        .groupBy("deviceId")
        .agg(
            F.count("*").alias("n_true"),
            F.sum(F.col("temperature").cast("decimal(18,6)")).cast("double").alias("sum_true"),
        )
    )
    rolled = spark.read.parquet(rollup_dir)
    return (
        rolled.join(truth, "deviceId", "full")
        .select(
            "deviceId",
            "n_events",
            "sum_temp",
            (
                (F.col("n_events") == F.col("n_true"))
                & (F.col("sum_temp") == F.col("sum_true"))
            ).alias("matches_batch"),
        )
        .orderBy("deviceId")
    )


@register(
    "s_dedup_within_watermark",
    doc=(
        "dropDuplicatesWithinWatermark (Spark 3.5+): per-device dedup "
        "whose state EXPIRES with the watermark — the bounded-state "
        "streaming dedup (plain dropDuplicates keeps non-event-time "
        "key state forever). Three ordered micro-batches: batch 1 "
        "(burst 1, duplicated wholesale) collapses to one row per "
        "device; batch 2 (a fresh device far in the future) advances "
        "the watermark beyond burst 1's expiry; batch 3 (burst 2 for "
        "the SAME devices, duplicated) emits again because the old "
        "key state was evicted — the re-emission plain dropDuplicates "
        "would suppress."
    ),
    tags=("streaming",),
)
def s_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ddww_run(spark)


def _ddww_run(
    spark: SparkSession, progress_sink: list | None = None
) -> DataFrame:
    from weather_flink_spark.streaming.jobs import dedup_stream_within_watermark

    _configure(spark)
    with _small_state(spark):
        d = os.path.join(tempfile.gettempdir(), f"wfs_stream_ddww_{os.getpid()}")
        values = fx.json_framed_values()
        # good records only; split by burst (timestamp offset < 30 s)
        import json as _json

        def ts_of(v: bytes) -> int:
            return _json.loads(v[1:])["timestamp"]

        good = [v for v in values if v[0:1] in (b"\x00", b"\x01")]
        good = [v for v in good if b"timestamp" in v and b"deviceId" in v]
        burst1 = [v for v in good if ts_of(v) < fx.BASE_MS + 30_000]
        burst2 = [v for v in good if ts_of(v) >= fx.BASE_MS + 30_000]
        fx.write_value_files(spark, d, burst1 * 2, n_files=1)
        # two advancing batches: the watermark computed from batch 2 is
        # APPLIED to state eviction one batch later (the same lag
        # s_late_data documents), so batch 3 re-advances and batch 4's
        # burst 2 sees burst-1 state already evicted (expiry base+6.5 s
        # < applied watermark base+11.5 s) while staying on time
        # (burst-2 times base+60 s > watermark)
        future = [
            fx.frame(1, b'{"deviceId": "dev-9", "timestamp": %d}' % (fx.BASE_MS + 15_000))
        ]
        future2 = [
            fx.frame(1, b'{"deviceId": "dev-8", "timestamp": %d}' % (fx.BASE_MS + 16_000))
        ]
        now = time.time()
        for i, batch in enumerate((future, future2, burst2 * 2), start=1):
            p = fx.append_value_file(d, batch, f"ddww-batch-{i}.parquet")
            os.utime(p, (now + 60 * i, now + 60 * i))
        raw = fx.read_value_stream(spark, d)  # maxFilesPerTrigger=1 → ordered
        return run_to_memory(
            dedup_stream_within_watermark(
                with_event_time(decode_framed_json(raw, known_magics=(0, 1)))
            ),
            output_mode="append",
            progress_sink=progress_sink,
        )
