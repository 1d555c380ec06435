"""Exactly-once sink patterns (reference parity for R12-R14).

The reference gets exactly-once via Kafka transactions: offsets are
committed atomically with produced records
(``receiveExactlyOnce(transactionManager)`` + per-batch
``sender.send(...).concatWith(txn.commit())``,
StreamsApplication.java:146-150, transactional.id at :112).

Structured Streaming's replay model differs (SURVEY.md §4): the checkpoint
WAL gives exactly-once *state*; sinks are at-least-once unless the write
itself is idempotent or transactional per epoch. The patterns here close
that gap:

- ``ForeachBatchIdempotentWriter``: epoch-keyed idempotent writes — the
  batchId is stable across replays of the same epoch, so a replayed batch
  overwrites its own output instead of duplicating (file sinks) or is
  skipped via a committed-epoch ledger (any sink).
- ``KafkaTransactionalEpochWriter`` (+ the ``foreachBatch`` adapter
  ``kafka_transactional_batch_writer``): the reference's one-transaction-
  per-batch produce with zombie fencing and epoch-marker replay skip,
  one fenced producer per partition task, against an injected broker
  — unit-tested with a fake broker (tests/test_eos_kafka.py); binds
  kafka-python when available.
- ``MergeIdempotentSnapshotWriter``: keyed MERGE upserts/deletes into a
  plain-parquet snapshot with an atomic pointer-swap commit — the writer
  for sinks that have NEITHER transactions nor per-epoch directories
  (object-store tables). Replay-safe twice over: the MERGE itself is
  algebraically idempotent (oracled by ``q_idempotent_sink_merge``) and
  committed epochs are skipped via the pointer.

Each writer reads its commit record from its own sink (the ledger, the
marker tail, the pointer), so a retried task finds its own commit.

Delivery-semantics delta vs the reference, explicitly: the reference
aborts the txn on first failure then relies on redelivery
(StreamsApplication.java:151-160); Spark re-runs the failed epoch from the
checkpoint. Both end exactly-once for committed output; the reference's
"second failure commits empty" subtlety (:157-158) is subsumed — a Spark
epoch either commits its sink writes + checkpoint or neither.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class ForeachBatchIdempotentWriter:
    """Epoch-keyed idempotent file writer for ``foreachBatch``.

    Each micro-batch lands in ``{base_dir}/batch_id={epoch}`` with
    overwrite semantics plus a ledger entry; a replayed epoch rewrites the
    same directory (no dup) and an interrupted write is invisible until
    the ledger records it. Works on any filesystem with atomic rename —
    locally and on object stores via committers.
    """

    base_dir: str
    fmt: str = "parquet"

    @property
    def ledger_path(self) -> str:
        return os.path.join(self.base_dir, "_committed_epochs.json")

    def committed_epochs(self) -> set[int]:
        try:
            with open(self.ledger_path) as f:
                return set(json.load(f))
        except (FileNotFoundError, json.JSONDecodeError):
            return set()

    def _record(self, epochs: set[int], epoch_id: int) -> None:
        """Publish ``epochs`` (the ledger as read this epoch) plus
        ``epoch_id``, as the sorted list of every committed epoch."""
        tmp = self.ledger_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(sorted(epochs | {epoch_id}), f)
        os.replace(tmp, self.ledger_path)  # atomic publish

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        epoch_id = int(epoch_id)
        epochs = self.committed_epochs()  # the one ledger read of this epoch
        if epoch_id in epochs:
            return  # replayed epoch: already fully committed, skip
        out = os.path.join(self.base_dir, f"batch_id={epoch_id}")
        batch_df.write.mode("overwrite").format(self.fmt).save(out)
        self._record(epochs, epoch_id)


class KafkaTransactionalEpochWriter:
    """The reference's transactional-produce body (R12), as testable code.

    Reference semantics (StreamsApplication.java:112,146-150): one Kafka
    transaction per batch — all records sent inside it, committed before
    the batch is acknowledged; ``transactional.id`` is STABLE across
    restarts, so a restarted writer's ``init_transactions()`` fences any
    zombie predecessor and aborts its in-flight transaction.

    The sink is an injected ``broker``: ``producer(transactional_id)``
    returns a transactional producer (duck-typed: ``init_transactions /
    begin_transaction / send(topic, key=, value=) / commit_transaction /
    abort_transaction``) and ``last_committed_epoch(transactional_id,
    marker_topic)`` the marker tail, or None. The fencing/replay logic
    unit-tests against a fake broker (tests/test_eos_kafka.py);
    ``KafkaPythonBroker`` binds kafka-python.

    Exactly-once across Spark epoch replays: every transaction also
    carries an epoch-marker record (``marker_topic``, key=transactional
    id, value=epoch id) — commit makes records+marker visible atomically,
    mirroring how the reference commits offsets inside the transaction.
    The writer reads the marker tail after fencing, so no earlier
    producer with its id can commit after the read; an epoch at or below
    the tail is skipped instead of double-produced.
    """

    def __init__(
        self,
        broker,
        topic: str = "replies",
        transactional_id: str = "kssp-replies-0",
        marker_topic: str | None = None,
    ):
        self.broker = broker
        self.topic = topic
        self.transactional_id = transactional_id
        self.marker_topic = marker_topic or f"{topic}.epochs"
        self._producer = None
        self._committed: int | None = None  # marker tail for this id

    def _ensure_producer(self):
        if self._producer is None:
            producer = self.broker.producer(self.transactional_id)
            producer.init_transactions()  # fences any zombie with this id
            self._committed = self.broker.last_committed_epoch(  # after the fence
                self.transactional_id, self.marker_topic)
            self._producer = producer
        return self._producer

    def write_epoch(self, epoch_id: int, records) -> bool:
        """Produce all ``(key, value)`` records of one epoch in one
        transaction. Returns False when the epoch was already committed
        (replay after a commit-then-crash) and nothing was sent."""
        epoch_id = int(epoch_id)
        producer = self._ensure_producer()
        if self._committed is not None and epoch_id <= self._committed:
            return False
        producer.begin_transaction()
        try:
            for key, value in records:
                producer.send(self.topic, key=key, value=value)
            producer.send(self.marker_topic, key=self.transactional_id, value=epoch_id)
            producer.commit_transaction()
        except Exception:
            producer.abort_transaction()
            raise
        self._committed = epoch_id
        return True

    def close(self) -> None:
        if self._producer is not None and hasattr(self._producer, "close"):
            self._producer.close()
        self._producer = None


def _as_bytes(v):  # records pass as they are; the marker's id and epoch as text
    return v if v is None or isinstance(v, (bytes, bytearray)) else str(v).encode()


class KafkaPythonBroker:
    """The default ``broker``: kafka-python against ``bootstrap_servers``."""

    def __init__(self, bootstrap_servers: str = "localhost:9092"):
        try:
            import kafka  # noqa: F401
        except ImportError as e:
            raise NotImplementedError(
                "No Kafka client in this environment — inject a broker, "
                "or install kafka-python for the default binding."
            ) from e
        self.bootstrap_servers = bootstrap_servers

    def producer(self, transactional_id: str):
        from kafka import KafkaProducer  # type: ignore[import-not-found]

        return KafkaProducer(
            bootstrap_servers=self.bootstrap_servers, transactional_id=transactional_id,
            key_serializer=_as_bytes, value_serializer=_as_bytes,
        )

    def last_committed_epoch(self, transactional_id: str, marker_topic: str) -> int | None:
        """The highest epoch keyed by ``transactional_id`` that a
        read_committed consumer reads from ``marker_topic``."""
        from kafka import KafkaConsumer, TopicPartition  # type: ignore[import-not-found]

        consumer = KafkaConsumer(
            bootstrap_servers=self.bootstrap_servers, isolation_level="read_committed",
            enable_auto_commit=False, auto_offset_reset="earliest",
        )
        try:
            parts = [TopicPartition(marker_topic, p)
                     for p in consumer.partitions_for_topic(marker_topic) or ()]
            consumer.assign(parts)
            end = consumer.end_offsets(parts)
            key, epochs = transactional_id.encode(), []
            while any(consumer.position(tp) < end[tp] for tp in parts):
                polled = consumer.poll(timeout_ms=1000)
                if not polled:
                    break
                epochs += [int(r.value) for rs in polled.values() for r in rs if r.key == key]
            return max(epochs, default=None)
        finally:
            consumer.close()


def kafka_transactional_batch_writer(
    broker=None,
    topic: str = "replies",
    transactional_id: str = "kssp-replies-0",
    key_col: str = "key",
    value_col: str = "value",
    bootstrap_servers: str = "localhost:9092",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch adapter: ``foreachPartition`` runs a
    ``KafkaTransactionalEpochWriter`` in each executor task with
    ``transactional.id = f"{transactional_id}-{partition_index}"``, so N
    partitions produce through N independently-fenced transactions and
    records never leave their executor task. Epoch atomicity and ordering are
    per partition (Kafka's own ordering guarantee; the reference's single
    producer kept a global order). A replayed epoch, or a task retried
    after its transaction committed, fences its id, reads its marker tail
    and skips. With no ``broker`` it binds ``KafkaPythonBroker``.
    """
    if broker is None:
        broker = KafkaPythonBroker(bootstrap_servers)

    def body(batch_df: DataFrame, epoch_id: int) -> None:
        epoch = int(epoch_id)

        def write_partition(rows) -> None:
            from pyspark import TaskContext

            writer = KafkaTransactionalEpochWriter(
                broker,
                topic=topic,
                transactional_id=f"{transactional_id}-{TaskContext.get().partitionId()}",
            )
            try:
                writer.write_epoch(epoch, ((r[key_col], r[value_col]) for r in rows))
            finally:
                writer.close()

        batch_df.foreachPartition(write_partition)

    return body


@dataclass
class MergeIdempotentSnapshotWriter:
    """Exactly-once MERGE sink for targets WITHOUT transactions — the
    third writer mode (object-store keyed tables), complementing the
    file-epoch writer (idempotent overwrite) and the Kafka transactional
    writer.

    Maintains a keyed snapshot table on plain parquet via
    ``operators.merge.merge_into`` under ``foreachBatch``. Exactly-once
    across epoch replays comes from TWO independent layers (the query
    ``q_idempotent_sink_merge`` oracles the algebraic layer):

    1. **Algebraic idempotence**: a keyed MERGE upsert/delete is
       idempotent — re-applying the same changeset to the post-merge
       snapshot converges to the same table, so even a writer with NO
       memory of committed epochs cannot duplicate rows, only waste work.
    2. **Atomic pointer swap + epoch ledger**: each epoch's merged
       snapshot lands in its own immutable directory
       (``{base_dir}/snapshot_epoch={E}``) and becomes visible only via
       an ``os.replace`` of ``_current.json`` (the object-store
       "commit = swap one small pointer object" pattern). A crash
       between data write and pointer swap leaves the old snapshot
       current; the replayed epoch rewrites the SAME directory and swaps
       again. A replay of an epoch at or below the pointer's is skipped
       outright.

    Readers resolve the pointer with :meth:`current`. Rows may carry an
    ``_op`` column (``U``/``D`` per ``operators.merge``); without one,
    every row is an upsert.
    """

    base_dir: str
    key: str
    fmt: str = "parquet"

    @property
    def pointer_path(self) -> str:
        return os.path.join(self.base_dir, "_current.json")

    def _pointer(self) -> dict | None:
        try:
            with open(self.pointer_path) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def committed_epoch(self) -> int | None:
        ptr = self._pointer()
        return None if ptr is None else int(ptr["epoch"])

    def current(self, spark) -> DataFrame | None:
        """The committed snapshot, or None before the first commit."""
        ptr = self._pointer()
        if ptr is None:
            return None
        return spark.read.format(self.fmt).load(ptr["path"])

    def snapshot_at(self, spark, epoch: int) -> DataFrame | None:
        """Time-travel read: the snapshot as of a PAST committed epoch.

        Works because each epoch's merge lands in its own immutable
        ``snapshot_epoch={E}`` directory and commits by pointer swap —
        history is a free by-product of the commit protocol (the
        Delta/Iceberg snapshot-isolation pattern). Only epochs at or
        below the committed pointer are readable: an uncommitted or
        future epoch directory may exist mid-write (crash window) and
        MUST NOT be served. Returns None for unknown/uncommitted epochs.
        Retention: a real deployment vacuums old epoch dirs by age;
        this writer keeps them all (fixture lifetimes are short).
        """
        committed = self.committed_epoch()
        if committed is None or epoch > committed:
            return None
        path = os.path.join(self.base_dir, f"snapshot_epoch={int(epoch)}")
        if not os.path.isdir(path):
            return None
        return spark.read.format(self.fmt).load(path)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from .operators.merge import OP_COL, OP_UPSERT, merge_into

        epoch = int(epoch_id)
        committed = self.committed_epoch()
        if committed is not None and epoch <= committed:
            return  # replay of a committed epoch: already visible, skip
        spark = batch_df.sparkSession
        changes = batch_df
        if OP_COL not in changes.columns:
            changes = changes.withColumn(OP_COL, F.lit(OP_UPSERT))
        base = self.current(spark)
        if base is None:
            base = spark.createDataFrame(
                [], schema=changes.drop(OP_COL).schema
            )
        merged = merge_into(base, changes, self.key)
        out = os.path.join(self.base_dir, f"snapshot_epoch={epoch}")
        # immutable per-epoch directory: a replayed epoch rewrites its
        # own directory (mode=overwrite), never the committed one
        merged.write.mode("overwrite").format(self.fmt).save(out)
        tmp = self.pointer_path + ".tmp"
        os.makedirs(self.base_dir, exist_ok=True)
        with open(tmp, "w") as f:
            json.dump({"epoch": epoch, "path": out}, f)
        os.replace(tmp, self.pointer_path)  # atomic commit
