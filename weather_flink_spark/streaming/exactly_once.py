"""Exactly-once file sink via foreachBatch + batch-id idempotence.

The reference intends exactly-once Kafka delivery (transactional-id
prefix, WeatherProcessingJob.java:97); Spark's Kafka sink is
at-least-once (SURVEY.md §4.3 item 3). This module provides the
standard Spark remedy: ``foreachBatch`` with the micro-batch id as the
idempotence key. Re-delivered batches (after a crash between sink write
and checkpoint commit) are detected and skipped, so the sink's contents
are exactly-once even though delivery is at-least-once.

The same pattern carries to Kafka with a transactional producer keyed
on ``(query_id, batch_id)`` — the file sink here keeps it runnable and
testable in this environment, and the commit protocol is identical:

1. is ``batch_id`` in the committed log? → skip (idempotent replay)
2. write data under a batch-scoped directory (atomic via rename-free
   overwrite of a batch-unique path)
3. append ``batch_id`` to the committed log (the "transaction commit")
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame


class CommittedBatchLog:
    """The committed-batch log both exactly-once sinks gate on: a JSON
    list of batch ids at ``self.commit_log``, replaced atomically."""

    commit_log: str

    def committed(self) -> set[int]:
        if not os.path.exists(self.commit_log):
            return set()
        with open(self.commit_log) as f:
            return set(json.load(f))

    def _commit(self, batch_id: int) -> None:
        ids = sorted(self.committed() | {batch_id})
        tmp = self.commit_log + ".tmp"
        with open(tmp, "w") as f:
            json.dump(ids, f)
        os.replace(tmp, self.commit_log)  # atomic on POSIX


class IdempotentParquetSink(CommittedBatchLog):
    """foreachBatch target writing each micro-batch exactly once."""

    def __init__(self, out_dir: str) -> None:
        self.out_dir = out_dir
        self.data_dir = os.path.join(out_dir, "data")
        self.commit_log = os.path.join(out_dir, "_committed_batches.json")
        os.makedirs(self.data_dir, exist_ok=True)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self.committed():
            return  # replayed batch → idempotent skip
        (
            batch_df.write.mode("overwrite")  # batch-unique path → replay-safe
            .parquet(os.path.join(self.data_dir, f"batch_id={batch_id}"))
        )
        self._commit(batch_id)

    def read(self, spark) -> DataFrame:
        """Everything committed so far (partition column = batch_id)."""
        return spark.read.option("basePath", self.data_dir).parquet(
            os.path.join(self.data_dir, "batch_id=*")
        )


def write_exactly_once(result: DataFrame, out_dir: str, checkpoint_dir: str):
    """Attach the idempotent sink; returns the un-started writer."""
    sink = IdempotentParquetSink(out_dir)
    return (
        result.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
