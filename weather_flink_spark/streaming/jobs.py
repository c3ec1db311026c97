"""Event-time streaming operators (SURVEY.md §2-B/§2-C streaming block).

The reference declared — but never wired — an event-time pipeline with
3.5 s bounded out-of-orderness feeding a per-device "presence" sink
(WeatherProcessingJob.java:66 unused watermark constant;
WeatherProcessingJobPlan.java:9-15 empty plan + discarded sink). These
jobs are that intended plan, expressed as Structured Streaming:

- ``with_event_time``     B1: epoch-millis → event_time + 3.5 s watermark
- ``tumbling_counts``     per-device tumbling window aggregation
- ``sliding_counts``      sliding window aggregation
- ``session_windows``     session (gap) windows — the "presence" shape
- ``dedup_stream``        watermark-scoped exact dedup
- ``presence_transitions``B3: arbitrary per-key state (online/offline)
                          via applyInPandasWithState, RocksDB-ready
- ``start_stream``        start a writer with at most one state
                          partition per local core
- ``run_to_memory``       availableNow → memory-sink test harness

Every operator works on both streaming and batch DataFrames (the batch
twins in plans/events_queries.py are the oracle-checked equivalents).
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_OF_ORDER = "3.5 seconds"  # WeatherProcessingJob.java:66 (3.5f * 1000 ms)


def with_event_time(df: DataFrame, ts_millis_col: str = "timestamp") -> DataFrame:
    """B1: epoch-millis long → event_time timestamp + bounded-disorder watermark."""
    out = df.withColumn("event_time", F.timestamp_millis(F.col(ts_millis_col)))
    if out.isStreaming:
        out = out.withWatermark("event_time", OUT_OF_ORDER)
    return out


def tumbling_counts(df: DataFrame, width: str = "1 minute") -> DataFrame:
    return (
        df.groupBy(F.window("event_time", width).alias("w"), "deviceId")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("temperature").cast("decimal(18,6)")).cast("double").alias("sum_temp"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "deviceId",
            "n_events",
            "sum_temp",
        )
    )


def sliding_counts(df: DataFrame, width: str = "10 minutes", slide: str = "5 minutes") -> DataFrame:
    return (
        df.groupBy(F.window("event_time", width, slide).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )


def session_windows(df: DataFrame, gap: str = "30 seconds") -> DataFrame:
    """Per-device session windows — the reference's 'presence' intent (B3)."""
    return (
        df.groupBy(F.session_window("event_time", gap).alias("w"), "deviceId")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "deviceId",
            "n_events",
        )
    )


def dedup_stream(df: DataFrame) -> DataFrame:
    """Exact dedup on (deviceId, event_time) scoped by the watermark."""
    return df.dropDuplicates(["deviceId", "event_time"])


# ---------------------------------------------------------------------------
# B3: presence transitions with arbitrary state
# ---------------------------------------------------------------------------

PRESENCE_OUTPUT = T.StructType(
    [
        T.StructField("deviceId", T.StringType()),
        T.StructField("transition", T.StringType()),  # online | offline
        T.StructField("at", T.LongType()),  # epoch millis
        T.StructField("n_events_in_session", T.LongType()),
    ]
)
_PRESENCE_STATE = T.StructType(
    [
        T.StructField("last_seen", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def presence_transitions(df: DataFrame, gap_ms: int = 30_000) -> DataFrame:
    """Per-device online/offline transitions via arbitrary stateful op.

    A device emits ``online`` on its first event after a silence longer
    than ``gap_ms`` (or ever), and ``offline`` once it stays silent for
    ``gap_ms`` — detected either from a data-driven gap or from an
    EVENT-TIME timeout (watermark passes last_seen + gap). State:
    (last_seen millis, events in current session). This is the
    reference's "presence event" derivation (SURVEY.md §2-B B3) as
    ``applyInPandasWithState`` — per-key state store, RocksDB-backed at
    scale. Event-time (not processing-time) timeouts make the output
    independent of wall-clock speed, but not of where micro-batch
    boundaries fall: the watermark advances only between batches
    (dropping rows behind it and firing timeouts), and ``fn`` orders a
    device's events only within one batch. The same input cut into
    different batches (a backfill in one batch, a live feed, a stop and
    resume) can emit different transitions; only runs with the same
    batch boundaries are guaranteed to agree.
    """

    def fn(
        key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        device = key[0]
        out: list[dict[str, Any]] = []
        if state.hasTimedOut:
            last_seen, n_events = state.get
            out.append(
                {
                    "deviceId": device,
                    "transition": "offline",
                    "at": last_seen + gap_ms,
                    "n_events_in_session": n_events,
                }
            )
            state.remove()
        else:
            ts: list[int] = []
            for pdf in pdfs:
                ts.extend(int(t) for t in pdf["timestamp"])
            ts.sort()
            last_seen, n_events = state.get if state.exists else (None, 0)
            for t in ts:
                if last_seen is None or t - last_seen > gap_ms:
                    if last_seen is not None:
                        out.append(
                            {
                                "deviceId": device,
                                "transition": "offline",
                                "at": last_seen + gap_ms,
                                "n_events_in_session": n_events,
                            }
                        )
                    out.append(
                        {
                            "deviceId": device,
                            "transition": "online",
                            "at": t,
                            "n_events_in_session": 0,
                        }
                    )
                    n_events = 0
                n_events += 1
                last_seen = t
            state.update((last_seen, n_events))
            # fire when the event-time watermark passes the gap boundary;
            # clamp above the current watermark — a batch holding only
            # older-than-gap rows would otherwise set an already-expired
            # timeout, which Spark rejects
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(last_seen + gap_ms, wm + 1))
        yield pd.DataFrame(out, columns=[f.name for f in PRESENCE_OUTPUT.fields])

    return df.groupBy("deviceId").applyInPandasWithState(
        fn,
        outputStructType=PRESENCE_OUTPUT,
        stateStructType=_PRESENCE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# keyed streaming rate limiter (throttle)
# ---------------------------------------------------------------------------

RATE_LIMIT_OUTPUT = T.StructType(
    [
        T.StructField("deviceId", T.StringType()),
        T.StructField("window_start", T.LongType()),  # epoch millis
        T.StructField("timestamp", T.LongType()),
        T.StructField("kept_rank", T.LongType()),
    ]
)
_RATE_STATE = T.StructType(
    [
        T.StructField("window_start", T.LongType()),
        T.StructField("n_kept", T.LongType()),
    ]
)


def rate_limit_stream(
    df: DataFrame, max_per_window: int = 2, window_ms: int = 10_000
) -> DataFrame:
    """Per-key streaming rate limiter: at most ``max_per_window`` events
    pass per (device, tumbling event-time window); the rest drop. The
    hot-key protection gate of q_events_rate_limit as a custom stateful
    streaming operator — state is ONE (window_start, n_kept) pair per
    device regardless of event volume, and event-time timeouts evict it
    two windows after the watermark passes, so state size is bounded by
    live keys, not history. Events older than the current window (late
    beyond the throttle's memory) drop conservatively — a throttle must
    never over-admit on replay.
    """

    def fn(
        key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        device = key[0]
        out: list[dict[str, Any]] = []
        if state.hasTimedOut:
            state.remove()
        else:
            ts: list[int] = []
            for pdf in pdfs:
                ts.extend(int(t) for t in pdf["timestamp"])
            ts.sort()
            win, kept = state.get if state.exists else (None, 0)
            for t in ts:
                w = t - (t % window_ms)
                if win is None or w > win:
                    win, kept = w, 0
                elif w < win:
                    continue  # stale window: drop (never over-admit)
                if kept < max_per_window:
                    kept += 1
                    out.append(
                        {
                            "deviceId": device,
                            "window_start": win,
                            "timestamp": t,
                            "kept_rank": kept,
                        }
                    )
            if win is not None:
                state.update((win, kept))
                wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(max(win + 2 * window_ms, wm + 1))
        yield pd.DataFrame(out, columns=[f.name for f in RATE_LIMIT_OUTPUT.fields])

    return df.groupBy("deviceId").applyInPandasWithState(
        fn,
        outputStructType=RATE_LIMIT_OUTPUT,
        stateStructType=_RATE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# starting a query; test harness: run to a memory sink and read it back
# ---------------------------------------------------------------------------


def start_stream(spark: SparkSession, writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer`` with at most one state partition per local core.

    Each stateful operator keeps one state-store partition per shuffle
    partition. The count is fixed when the checkpoint is created and
    AQE never coalesces it, so the session's batch-sized
    ``spark.sql.shuffle.partitions`` would become that many Python
    state tasks per micro-batch, nearly all of it per-task overhead.
    On a ``local[...]`` master the conf is lowered to
    ``min(current, defaultParallelism)`` for the ``start()`` call only:
    the query clones the session conf while ``start()`` builds it, so
    restoring the session value afterwards is safe. A resumed
    checkpoint keeps its own count (Spark restores it from the offset
    log). Any other master starts plainly: executors may not have
    registered yet, and the count would stay fixed for the
    checkpoint's life.
    """
    sc = spark.sparkContext
    if not (sc.master == "local" or sc.master.startswith("local[")):
        return writer.start()
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, str(min(int(before), sc.defaultParallelism)))
    try:
        return writer.start()
    finally:
        spark.conf.set(key, before)


def run_to_memory(
    result: DataFrame,
    output_mode: str = "append",
    timeout_s: float = 120.0,
    progress_sink: list | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame with availableNow into a memory sink.

    Returns the sink contents as a batch DataFrame. availableNow
    processes everything the source currently has, then stops — the
    deterministic way to test unbounded plans on bounded fixtures.

    ``progress_sink``: when given, the query's per-micro-batch progress
    dicts (recentProgress) are appended to it before return — the
    state-size observability hook (stateOperators rows/bytes per batch)
    the bounded-state tests assert on.
    """
    name = f"mem_{uuid.uuid4().hex[:12]}"
    spark = result.sparkSession
    q = start_stream(
        spark,
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True),
    )
    deadline = time.time() + timeout_s
    while q.isActive and time.time() < deadline:
        # 20 ms poll: availableNow fixtures finish in ~1 s, and the poll
        # quantum is pure dead time at the end of every entry (1 s -> 50
        # ms in round 3 cut ~12 s; 50 -> 20 ms trims the rest of the
        # tail without busy-waiting)
        q.awaitTermination(0.02)
    if q.isActive:  # pragma: no cover
        q.stop()
        raise TimeoutError("streaming query did not finish in time")
    if progress_sink is not None:
        progress_sink.extend(q.recentProgress)
    return spark.table(name)


# ---------------------------------------------------------------------------
# B3 via Spark 4's transformWithStateInPandas (the successor API)
# ---------------------------------------------------------------------------


def tws_available() -> bool:
    """transformWithStateInPandas spawns a protobuf-speaking driver
    worker; without a working google.protobuf it crashes at init."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def presence_transitions_tws(df: DataFrame, gap_ms: int = 30_000) -> DataFrame:
    """Presence transitions on the Spark 4 ``transformWithStateInPandas``
    API: typed value state + event-time timers instead of the single
    opaque state tuple of ``applyInPandasWithState``. Same output
    contract as ``presence_transitions``; the timer fires the offline
    event when the watermark passes last_seen + gap.

    Environment gate: the TWS driver worker requires ``google.protobuf``,
    which this container lacks — the plan builds everywhere, execution
    needs protobuf (tests skip via ``tws_available()``).
    """
    from pyspark.sql.streaming.stateful_processor import (
        ExpiredTimerInfo,
        StatefulProcessor,
        StatefulProcessorHandle,
        TimerValues,
    )

    class PresenceProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            self.state = handle.getValueState("presence", _PRESENCE_STATE)

        def handleInputRows(self, key, rows, timerValues: TimerValues):
            device = key[0]
            ts: list[int] = []
            for pdf in rows:
                ts.extend(int(t) for t in pdf["timestamp"])
            ts.sort()
            last_seen, n_events = (
                self.state.get() if self.state.exists() else (None, 0)
            )
            out: list[dict[str, Any]] = []
            for t in ts:
                if last_seen is None or t - last_seen > gap_ms:
                    if last_seen is not None:
                        out.append(
                            {
                                "deviceId": device,
                                "transition": "offline",
                                "at": last_seen + gap_ms,
                                "n_events_in_session": n_events,
                            }
                        )
                    out.append(
                        {
                            "deviceId": device,
                            "transition": "online",
                            "at": t,
                            "n_events_in_session": 0,
                        }
                    )
                    n_events = 0
                n_events += 1
                last_seen = t
            self.state.update((last_seen, n_events))
            wm = timerValues.getCurrentWatermarkInMs()
            self.handle.registerTimer(max(last_seen + gap_ms, wm + 1))
            yield pd.DataFrame(out, columns=[f.name for f in PRESENCE_OUTPUT.fields])

        def handleExpiredTimer(self, key, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo):
            if self.state.exists():
                last_seen, n_events = self.state.get()
                self.state.clear()
                yield pd.DataFrame(
                    [
                        {
                            "deviceId": key[0],
                            "transition": "offline",
                            "at": last_seen + gap_ms,
                            "n_events_in_session": n_events,
                        }
                    ],
                    columns=[f.name for f in PRESENCE_OUTPUT.fields],
                )
            else:  # pragma: no cover
                yield pd.DataFrame(columns=[f.name for f in PRESENCE_OUTPUT.fields])

        def close(self) -> None:
            pass

    return df.groupBy("deviceId").transformWithStateInPandas(
        PresenceProcessor(),
        outputStructType=PRESENCE_OUTPUT,
        outputMode="append",
        timeMode="eventTime",
    )


def dedup_stream_within_watermark(df: DataFrame) -> DataFrame:
    """Spark 3.5+ ``dropDuplicatesWithinWatermark``: dedups per deviceId
    when duplicates land within the watermark delay of each other, and
    expires the dedup state by watermark — bounded state even when the
    same key recurs forever, the contract dropDuplicates (state never
    expires for keys without event-time columns) cannot give."""
    return df.dropDuplicatesWithinWatermark(["deviceId"])
