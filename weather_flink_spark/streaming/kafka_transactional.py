"""Exactly-once Kafka delivery via transactional producers in foreachBatch.

The reference configures a Kafka TRANSACTIONAL-ID PREFIX on its producer
(``WeatherProcessingJob.java:97``) — i.e. it intends Kafka-transaction
exactly-once delivery. Spark's built-in Kafka sink is at-least-once, so
the Spark-idiomatic realization is a ``foreachBatch`` sink that drives a
transactional producer itself (the batch twin of
:mod:`weather_flink_spark.streaming.exactly_once`, which proves the same
commit protocol on parquet).

Commit protocol per micro-batch:

1. **Dedupe gate** — if ``batch_id`` is already in the committed-batch
   log, the batch is a checkpoint replay: skip it entirely. (With a real
   broker this log is the consumer-visible marker topic written inside
   the transaction; here it is an atomically-replaced local file, exactly
   like ``IdempotentParquetSink``.)
2. **Per-partition transactions** — the batch DataFrame is emitted with
   ``foreachPartition``: each task builds a producer from the injected
   factory with ``transactional.id = f"{prefix}-{batch_id}-{partition}"``
   (stable across task retries → a retried task's producer FENCES the
   zombie first attempt, Kafka's own guarantee), sends its rows, and
   commits one transaction. Any exception aborts the transaction, so a
   failed task contributes nothing and its retry starts clean.
3. **Batch commit** — only after every partition transaction commits does
   the driver append ``batch_id`` to the committed log.

Atomicity is therefore per-partition-transaction (Kafka cannot span one
transaction across executors); the dedupe gate + read-committed consumers
make the stream's *contents* exactly-once, which is the same contract the
reference's Flink ``KafkaSink`` with transactional-id prefix provides.

No broker exists in this sandbox, so the producer is injected: tests use
:class:`SpoolDirProducer` (commits = atomically-renamed files, aborts =
dropped temp files — process-safe across local-mode Python workers); a
real deployment passes a ``confluent_kafka.Producer`` factory with the
same four-method surface.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Callable, Iterable, Protocol

from pyspark.sql import DataFrame

from weather_flink_spark.streaming.exactly_once import CommittedBatchLog

TRANSACTIONAL_ID_PREFIX = "weather-presence"  # WeatherProcessingJob.java:97


class TransactionalProducer(Protocol):
    """The four-call Kafka transactional surface the sink drives."""

    def init_transactions(self) -> None: ...

    def begin_transaction(self) -> None: ...

    def send(self, topic: str, key: bytes | None, value: bytes) -> None: ...

    def commit_transaction(self) -> None: ...

    def abort_transaction(self) -> None: ...


class SpoolDirProducer:
    """Test double: a transactional producer whose committed transactions
    are atomically-renamed JSONL files in a spool directory.

    Mirrors the visibility rule of Kafka read-committed consumers: an
    uncommitted or aborted transaction's records are never observable
    (they live in a ``.tmp`` file that abort deletes); commit is one
    atomic ``os.replace``. Safe across processes, so it works from
    local-mode executor workers.
    """

    def __init__(self, spool_dir: str, transactional_id: str) -> None:
        self.spool_dir = spool_dir
        self.transactional_id = transactional_id
        self._records: list[dict] | None = None
        os.makedirs(spool_dir, exist_ok=True)

    def init_transactions(self) -> None:
        # Kafka would register the transactional.id and fence zombies
        # here; the spool equivalent is the deterministic commit filename
        # below — a fenced retry overwrites, never duplicates.
        self._records = None

    def begin_transaction(self) -> None:
        if self._records is not None:
            raise RuntimeError("transaction already in progress")
        self._records = []

    def send(self, topic: str, key: bytes | None, value: bytes) -> None:
        if self._records is None:
            raise RuntimeError("send outside a transaction")
        self._records.append(
            {
                "topic": topic,
                "key": key.decode() if key is not None else None,
                "value": value.decode(),
            }
        )

    def commit_transaction(self) -> None:
        if self._records is None:
            raise RuntimeError("commit outside a transaction")
        # deterministic name per transactional.id: a task retry that
        # re-commits the same partition's transaction replaces, never adds
        final = os.path.join(self.spool_dir, f"{self.transactional_id}.jsonl")
        tmp = final + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            for r in self._records:
                f.write(json.dumps(r) + "\n")
        os.replace(tmp, final)
        self._records = None

    def abort_transaction(self) -> None:
        self._records = None

    @staticmethod
    def committed_records(spool_dir: str) -> list[dict]:
        out: list[dict] = []
        for name in sorted(os.listdir(spool_dir)):
            if name.endswith(".jsonl"):
                with open(os.path.join(spool_dir, name)) as f:
                    out.extend(json.loads(ln) for ln in f if ln.strip())
        return out


ProducerFactory = Callable[[str], TransactionalProducer]
"""factory(transactional_id) -> producer; called once per partition task."""


def spool_producer_factory(spool_dir: str) -> ProducerFactory:
    """Factory closure for :class:`SpoolDirProducer`, defined here so the
    pickled closure resolves against this importable module on executor
    workers (a test-module closure would not import there)."""

    def factory(transactional_id: str) -> SpoolDirProducer:
        return SpoolDirProducer(spool_dir, transactional_id)

    return factory


def sorted_repr_kv(row) -> tuple[bytes, bytes]:
    """Default row serializer: key = id/window field, value = the row's
    fields in sorted-key repr (deterministic across partitionings)."""
    d = row.asDict()
    key = str(d.get("id", d.get("window", ""))).encode()
    return key, repr(sorted(d.items())).encode()


class TransactionalKafkaSink(CommittedBatchLog):
    """``foreachBatch`` target: exactly-once Kafka emission.

    ``row_to_kv`` maps a Row to ``(key_bytes_or_None, value_bytes)`` —
    executor-side, so it must be picklable (top-level function). The
    committed-batch log under ``commit_dir`` stands in for the marker
    topic.
    """

    def __init__(
        self,
        topic: str,
        producer_factory: ProducerFactory,
        row_to_kv: Callable,
        commit_dir: str,
        txn_prefix: str = TRANSACTIONAL_ID_PREFIX,
    ) -> None:
        self.topic = topic
        self.producer_factory = producer_factory
        self.row_to_kv = row_to_kv
        self.commit_dir = commit_dir
        self.txn_prefix = txn_prefix
        self.commit_log = os.path.join(commit_dir, "_committed_batches.json")
        os.makedirs(commit_dir, exist_ok=True)

    # -- the foreachBatch entry point --
    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self.committed():
            return  # checkpoint replay → idempotent skip (protocol step 1)

        topic = self.topic
        factory = self.producer_factory
        row_to_kv = self.row_to_kv
        prefix = self.txn_prefix

        def emit_partition(rows: Iterable) -> None:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            producer = factory(f"{prefix}-{batch_id}-{pid}")
            producer.init_transactions()
            producer.begin_transaction()
            try:
                for row in rows:
                    key, value = row_to_kv(row)
                    producer.send(topic, key, value)
            except BaseException:
                producer.abort_transaction()
                raise
            producer.commit_transaction()

        batch_df.foreachPartition(emit_partition)
        self._commit(batch_id)  # protocol step 3


def write_exactly_once_kafka(
    result: DataFrame,
    topic: str,
    producer_factory: ProducerFactory,
    row_to_kv: Callable,
    commit_dir: str,
    checkpoint_dir: str,
):
    """Attach the transactional sink; returns the un-started writer."""
    sink = TransactionalKafkaSink(topic, producer_factory, row_to_kv, commit_dir)
    return (
        result.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
