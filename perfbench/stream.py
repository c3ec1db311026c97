"""The weather job on a generated backlog, and what its progress reports.

Runs ``streaming.weather_job.run`` with ``payload.format=avro`` and an
``availableNow`` trigger into the memory sink. Each run gets a fresh
sink name (hence a fresh checkpoint under the session's
``spark.sql.streaming.checkpointLocation``), so every run replays the
whole backlog from scratch.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from perfbench import stats

# StreamingQueryProgress.durationMs keys reported per batch
DURATIONS = {
    "addBatch": "stream.add_batch_ms",
    "queryPlanning": "stream.query_planning_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
    "latestOffset": "stream.latest_offset_ms",
}


@dataclass
class StreamRun:
    wall_s: float
    progress: list[dict]
    rows: list[tuple[bytes, bytes]] = field(default_factory=list)

    @property
    def batch_ms(self) -> list[float]:
        return [float(p["durationMs"]["triggerExecution"]) for p in self.progress]

    @property
    def decoded(self) -> int:
        # observed metrics arrive as Rows, which index but have no .get
        observed = (p.get("observedMetrics", {}) for p in self.progress)
        return sum(int(o["tap"]["n_records"]) for o in observed if "tap" in o)

    def layers(self) -> dict[str, float]:
        out = {v: 0.0 for v in DURATIONS.values()}
        out.update(
            {
                "stream.batches": len(self.progress),
                "stream.state_rows": 0,
                "stream.state_memory_bytes": 0,
                "stream.late_dropped": 0,
                "sources.frames_in": 0,
                "sources.records_out": self.decoded,
            }
        )
        for p in self.progress:
            for k, name in DURATIONS.items():
                out[name] += p["durationMs"].get(k, 0)
            out["sources.frames_in"] += p.get("numInputRows", 0)
            for op in p.get("stateOperators", []):
                out["stream.late_dropped"] += op.get("numRowsDroppedByWatermark", 0)
        last_ops = self.progress[-1].get("stateOperators", []) if self.progress else []
        # state size is a level, not a flow: take it after the last batch
        out["stream.state_rows"] = sum(op.get("numRowsTotal", 0) for op in last_ops)
        out["stream.state_memory_bytes"] = sum(op.get("memoryUsedBytes", 0) for op in last_ops)
        return out


def run_job(spark, source_dir: str, fmt: str, sink: str, timeout_s: float = 170) -> StreamRun:
    """One availableNow run of the weather job over ``source_dir``."""
    from weather_flink_spark.sources.framed import SchemaRegistry
    from weather_flink_spark.streaming.weather_job import JobConfig, run

    from perfbench.events import WRITER_SCHEMAS

    conf = JobConfig(
        {"source.path": source_dir, "payload.format": fmt, "sink.table": sink, "trigger": "availableNow"}
    )
    registry = SchemaRegistry(WRITER_SCHEMAS) if fmt == "avro" else None
    t0 = time.perf_counter()
    query = run(spark, conf, registry)
    finished = query.awaitTermination(timeout_s)
    wall = time.perf_counter() - t0
    if not finished:
        query.stop()
        raise TimeoutError(f"weather job on {source_dir} did not finish in {timeout_s}s")
    if query.exception() is not None:
        raise RuntimeError(str(query.exception()))
    result = StreamRun(wall, list(query.recentProgress))
    result.rows = sorted((bytes(r["key"]), bytes(r["value"])) for r in spark.table(sink).collect())
    spark.catalog.dropTempView(sink)
    ckpt_root = spark.conf.get("spark.sql.streaming.checkpointLocation")
    shutil.rmtree(os.path.join(ckpt_root, sink), ignore_errors=True)
    return result


def summarise(runs: list[StreamRun], n_events: int) -> tuple[dict, dict]:
    """End-to-end metrics of the stream workload, and how its tail was taken."""
    rates = [n_events / r.wall_s for r in runs]
    batches = [ms for r in runs for ms in r.batch_ms]
    tail, pct, n = stats.tail(batches)
    metrics = {
        "events_per_s": (stats.median(rates), "1/s"),
        "batch_p50_ms": (stats.median(batches), "ms"),
        "batch_tail_ms": (tail, "ms"),
    }
    return metrics, {"batch_tail_ms": {"percentile": pct, "samples": n}}
