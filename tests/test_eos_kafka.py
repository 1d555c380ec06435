"""Kafka transactional-writer semantics against a fake broker.

No Kafka client ships in this container, so the broker/producer pair here
implements exactly the transactional contract the writer depends on:
pending buffers become visible only on commit_transaction, abort discards
them, and init_transactions with an existing transactional.id fences the
previous producer generation (reference semantics:
StreamsApplication.java:112,146-150).
"""

from __future__ import annotations

import pytest

from kafka_stream_service_spark.eos import (
    KafkaTransactionalEpochWriter,
    kafka_transactional_batch_writer,
)


class Fenced(Exception):
    pass


class FakeBroker:
    def __init__(self):
        self.committed: dict[str, list[tuple]] = {}  # topic -> [(key, value)]
        self.generation: dict[str, int] = {}  # transactional_id -> current gen

    def producer(self, txn_id: str) -> "FakeProducer":
        return FakeProducer(self, txn_id)

    def last_committed_epoch(self, txn_id: str, marker_topic: str):
        """What a read_committed consumer on the marker topic would see."""
        epochs = [v for k, v in self.committed.get(marker_topic, []) if k == txn_id]
        return max(epochs) if epochs else None


class FakeProducer:
    def __init__(self, broker: FakeBroker, txn_id: str):
        self.broker = broker
        self.txn_id = txn_id
        self.gen = None
        self.pending: list[tuple[str, object, object]] = []
        self.in_txn = False
        self.log: list[str] = []

    def _check_fenced(self):
        if self.gen != self.broker.generation.get(self.txn_id):
            raise Fenced(f"producer generation {self.gen} fenced")

    def init_transactions(self):
        # bumping the generation aborts/fences any previous producer
        self.broker.generation[self.txn_id] = self.broker.generation.get(self.txn_id, 0) + 1
        self.gen = self.broker.generation[self.txn_id]
        self.log.append("init")

    def begin_transaction(self):
        self._check_fenced()
        assert not self.in_txn, "nested transaction"
        self.in_txn = True
        self.pending = []
        self.log.append("begin")

    def send(self, topic, key, value):
        self._check_fenced()
        assert self.in_txn, "send outside transaction"
        self.pending.append((topic, key, value))

    def commit_transaction(self):
        self._check_fenced()
        assert self.in_txn
        for topic, key, value in self.pending:
            self.broker.committed.setdefault(topic, []).append((key, value))
        self.pending = []
        self.in_txn = False
        self.log.append("commit")

    def abort_transaction(self):
        assert self.in_txn
        self.pending = []
        self.in_txn = False
        self.log.append("abort")


def test_happy_path_commits_records_and_marker():
    broker = FakeBroker()
    w = KafkaTransactionalEpochWriter(broker, topic="replies", transactional_id="t1")
    assert w.write_epoch(0, [(b"k1", b"v1"), (b"k2", b"v2")]) is True
    assert broker.committed["replies"] == [(b"k1", b"v1"), (b"k2", b"v2")]
    # the epoch marker commits atomically with the records
    assert broker.committed["replies.epochs"] == [("t1", 0)]
    assert w._producer.log == ["init", "begin", "commit"]


def test_failure_mid_send_aborts_then_replay_commits_once():
    broker = FakeBroker()
    w = KafkaTransactionalEpochWriter(broker, topic="replies", transactional_id="t1")

    def exploding():
        yield (b"k1", b"v1")
        raise RuntimeError("source failure mid-epoch")

    with pytest.raises(RuntimeError, match="mid-epoch"):
        w.write_epoch(0, exploding())
    # nothing visible: the abort discarded the partial transaction
    assert broker.committed == {}
    assert w._producer.log == ["init", "begin", "abort"]

    # Spark replays the epoch; the retry commits exactly one copy
    assert w.write_epoch(0, [(b"k1", b"v1"), (b"k2", b"v2")]) is True
    assert broker.committed["replies"] == [(b"k1", b"v1"), (b"k2", b"v2")]


def test_committed_epoch_replay_is_skipped():
    broker = FakeBroker()
    w = KafkaTransactionalEpochWriter(broker, transactional_id="t1")
    w.write_epoch(7, [(b"k", b"v")])
    # crash after commit but before checkpoint: a new writer reads the
    # broker's marker tail after fencing and must NOT double-produce epoch 7
    resumed = KafkaTransactionalEpochWriter(broker, transactional_id="t1")
    assert resumed.write_epoch(7, [(b"k", b"v")]) is False
    assert broker.committed["replies"] == [(b"k", b"v")]  # still one copy
    assert resumed.write_epoch(8, [(b"k2", b"v2")]) is True
    assert broker.committed["replies"] == [(b"k", b"v"), (b"k2", b"v2")]


def test_zombie_producer_is_fenced():
    broker = FakeBroker()
    zombie = KafkaTransactionalEpochWriter(broker, transactional_id="t1")
    zombie.write_epoch(0, [(b"a", b"1")])
    # a restarted writer takes over the same transactional.id
    successor = KafkaTransactionalEpochWriter(broker, transactional_id="t1")
    successor.write_epoch(1, [(b"b", b"2")])
    # the zombie's next transaction must be rejected, not silently merged
    with pytest.raises(Fenced):
        zombie.write_epoch(1, [(b"a", b"dup")])
    committed = broker.committed["replies"]
    assert (b"b", b"2") in committed and (b"a", b"dup") not in committed


def file_broker(root: str):
    """A transactional broker backed by a shared directory, so
    per-partition producers in separate executor Python workers stay
    observable by the test. Same contract as FakeBroker: pending sends
    become visible only on commit (atomic rename), abort discards,
    init_transactions bumps a generation file that fences predecessors
    holding the same transactional.id, and ``last_committed_epoch`` reads
    the committed marker tail.

    The classes are nested so cloudpickle ships them by value inside the
    task closure — executors never need this test module importable.
    """
    import json
    import os

    class FileTxnProducer:
        def __init__(self, base: str, tid: str):
            self.dir = os.path.join(base, tid)
            self.gens = os.path.join(self.dir, "gens")
            self.committed = os.path.join(self.dir, "committed")
            os.makedirs(self.gens, exist_ok=True)
            os.makedirs(self.committed, exist_ok=True)
            self.gen = None
            self.pending = []
            self.in_txn = False

        def _latest_gen(self) -> int:
            names = [int(n) for n in os.listdir(self.gens)] or [0]
            return max(names)

        def init_transactions(self):
            while True:  # O_EXCL claim of the next generation
                nxt = self._latest_gen() + 1
                try:
                    fd = os.open(os.path.join(self.gens, str(nxt)), os.O_CREAT | os.O_EXCL)
                    os.close(fd)
                    self.gen = nxt
                    return
                except FileExistsError:
                    continue

        def _check_fenced(self):
            if self.gen != self._latest_gen():
                raise RuntimeError(f"fenced: gen {self.gen} superseded")

        def begin_transaction(self):
            self._check_fenced()
            assert not self.in_txn, "nested transaction"
            self.in_txn = True
            self.pending = []

        def send(self, topic, key, value):
            self._check_fenced()
            assert self.in_txn, "send outside transaction"

            # the committed log is JSON: binary payloads ride as hex
            def j(v):
                return v.hex() if isinstance(v, (bytes, bytearray)) else v

            self.pending.append([topic, j(key), j(value)])

        def commit_transaction(self):
            self._check_fenced()
            assert self.in_txn
            seq = len(os.listdir(self.committed))
            tmp = os.path.join(self.dir, f".txn-{self.gen}-{seq}.tmp")
            with open(tmp, "w") as f:
                json.dump(self.pending, f)
            os.replace(tmp, os.path.join(self.committed, f"txn-{self.gen}-{seq}.json"))
            self.pending = []
            self.in_txn = False

        def abort_transaction(self):
            assert self.in_txn
            self.pending = []
            self.in_txn = False

    class FileBroker:
        def producer(self, txn_id: str) -> FileTxnProducer:
            return FileTxnProducer(root, txn_id)

        def last_committed_epoch(self, txn_id: str, marker_topic: str):
            cdir = os.path.join(root, txn_id, "committed")
            epochs = []
            for fn in os.listdir(cdir) if os.path.isdir(cdir) else ():
                with open(os.path.join(cdir, fn)) as f:
                    epochs += [v for t, k, v in json.load(f) if (t, k) == (marker_topic, txn_id)]
            return max(epochs, default=None)

    return FileBroker()


def _committed_records(root) -> dict[str, list[tuple]]:
    """All committed (topic -> [(txn_id, key, value)]) under the broker dir."""
    import json
    import os

    out: dict[str, list[tuple]] = {}
    for tid in sorted(os.listdir(root)):
        cdir = os.path.join(root, tid, "committed")
        if not os.path.isdir(cdir):
            continue
        for fn in sorted(os.listdir(cdir)):
            with open(os.path.join(cdir, fn)) as f:
                for topic, key, value in json.load(f):
                    out.setdefault(topic, []).append((tid, key, value))
    return out


def test_partitioned_writer_one_fenced_producer_per_partition(spark, tmp_path):
    """N partitions -> N executor-side producers with per-partition
    transactional ids; the union of their transactions is the batch."""
    root = str(tmp_path)
    body = kafka_transactional_batch_writer(
        file_broker(root),
        topic="out",
        transactional_id="q1",
        key_col="k",
        value_col="v",
    )
    rows = [(f"k{i}", f"v{i}") for i in range(20)]
    batch = spark.createDataFrame(rows, "k string, v string").repartition(4)
    body(batch, 0)

    committed = _committed_records(root)
    # every record committed exactly once, spread across 4 transactional ids
    assert sorted((k, v) for _, k, v in committed["out"]) == sorted(rows)
    assert {tid for tid, _, _ in committed["out"]} == {f"q1-{i}" for i in range(4)}
    # each partition committed its own epoch marker atomically
    assert sorted(committed["out.epochs"]) == [
        (f"q1-{i}", f"q1-{i}", 0) for i in range(4)
    ]


def test_partitioned_writer_replay_skips_per_partition_marker_tail(spark, tmp_path):
    root = str(tmp_path)
    rows = [(f"k{i}", f"v{i}") for i in range(12)]
    batch = spark.createDataFrame(rows, "k string, v string").repartition(3)
    common = dict(topic="out", transactional_id="q1", key_col="k", value_col="v")
    kafka_transactional_batch_writer(file_broker(root), **common)(batch, 0)
    # restart: a new writer over the same broker, told nothing; each
    # partition task reads its own marker tail, finds epoch 0 committed
    # and must not double-produce it
    resumed = kafka_transactional_batch_writer(file_broker(root), **common)
    resumed(batch, 0)
    committed = _committed_records(root)
    assert sorted((k, v) for _, k, v in committed["out"]) == sorted(rows)
    # epoch 1 is new work and flows normally
    resumed(batch, 1)
    assert len(_committed_records(root)["out"]) == 2 * len(rows)


def test_retried_epoch_commits_once_per_partition(spark, tmp_path):
    """A partition task re-run after its transaction committed (executor
    loss, speculation) fences its id, reads its marker tail from the
    broker and produces nothing again: one copy of each record and one
    epoch-7 marker per partition."""
    root = str(tmp_path)
    body = kafka_transactional_batch_writer(
        file_broker(root), topic="out", transactional_id="q1", key_col="k", value_col="v"
    )
    rows = [(f"k{i}", f"v{i}") for i in range(6)]
    batch = spark.createDataFrame(rows, "k string, v string").repartition(2)
    body(batch, 7)
    body(batch, 7)
    committed = _committed_records(root)
    assert sorted((k, v) for _, k, v in committed["out"]) == sorted(rows)
    assert sorted(committed["out.epochs"]) == [("q1-0", "q1-0", 7), ("q1-1", "q1-1", 7)]


def test_kafka_python_broker_sends_by_name_and_reads_committed_tail(monkeypatch):
    """The default broker against a stub ``kafka`` module with
    kafka-python's signatures: ``send(topic, value=None, key=None)`` and
    bytes-only records after the serializers. Records keep their key and
    value, the marker's id and epoch are encoded, and a new writer reads
    the tail through a read_committed consumer and skips the epoch."""
    import sys
    import types
    from collections import namedtuple

    from kafka_stream_service_spark.eos import KafkaPythonBroker

    log: list[tuple] = []  # committed (topic, key, value)
    consumers: list[dict] = []
    Record = namedtuple("Record", "key value")

    class KafkaProducer:
        def __init__(self, key_serializer=None, value_serializer=None, **config):
            self.ser = (key_serializer or (lambda v: v), value_serializer or (lambda v: v))
            self.pending = []

        def init_transactions(self):
            pass

        def begin_transaction(self):
            self.pending = []

        def send(self, topic, value=None, key=None, headers=None, partition=None):
            key, value = self.ser[0](key), self.ser[1](value)
            for v in (key, value):
                assert isinstance(v, (bytes, bytearray, type(None))), "Null or bytes required"
            self.pending.append((topic, key, value))

        def commit_transaction(self):
            log.extend(self.pending)

        def abort_transaction(self):
            self.pending = []

        def close(self):
            pass

    class KafkaConsumer:
        def __init__(self, **config):
            consumers.append(config)
            self.pos: dict = {}

        def partitions_for_topic(self, topic):
            return {0} if any(t == topic for t, _, _ in log) else None

        def assign(self, parts):
            self.pos = {tp: 0 for tp in parts}

        def end_offsets(self, parts):
            return {tp: sum(t == tp.topic for t, _, _ in log) for tp in parts}

        def position(self, tp):
            return self.pos[tp]

        def poll(self, timeout_ms=0):
            out = {}
            for tp in self.pos:
                recs = [Record(k, v) for t, k, v in log if t == tp.topic]
                out[tp], self.pos[tp] = recs[self.pos[tp]:], len(recs)
            return out

        def close(self):
            pass

    kafka = types.ModuleType("kafka")
    kafka.KafkaProducer, kafka.KafkaConsumer = KafkaProducer, KafkaConsumer
    kafka.TopicPartition = namedtuple("TopicPartition", "topic partition")
    monkeypatch.setitem(sys.modules, "kafka", kafka)

    broker = KafkaPythonBroker("broker:9092")
    w = KafkaTransactionalEpochWriter(broker, topic="out", transactional_id="t1")
    assert w.write_epoch(7, [(b"k1", b"v1"), (None, bytearray(b"v2"))]) is True
    assert log == [("out", b"k1", b"v1"), ("out", None, b"v2"), ("out.epochs", b"t1", b"7")]

    resumed = KafkaTransactionalEpochWriter(broker, topic="out", transactional_id="t1")
    assert resumed.write_epoch(7, [(b"k1", b"v1")]) is False
    assert consumers[-1]["isolation_level"] == "read_committed"
    assert resumed.write_epoch(8, [(b"k3", b"v3")]) is True
    assert log[-2:] == [("out", b"k3", b"v3"), ("out.epochs", b"t1", b"8")]


def test_pipeline_kafka_eos_sink_end_to_end(spark, tmp_path):
    """start_pipeline with the kafka-eos sink: the full streaming spine
    (file source -> decode -> uppercase -> encode) produces through
    per-partition fenced transactional producers; committed output equals
    the batch-pipeline reference output exactly once, and the epoch
    markers commit atomically per partition."""
    from kafka_stream_service_spark.codec import decode_py, encode_py
    from kafka_stream_service_spark.pipeline import (
        PipelineConfig,
        run_pipeline_batch,
        start_pipeline,
    )
    from kafka_stream_service_spark.transform import uppercase_function

    messages = [
        ({"Accept": ["*/*"]}, b"World"),
        ({}, b"hello spark"),
        ({"x": ["1", "2"]}, b"MiXeD CaSe 123"),
        ({}, b"fourth record"),
    ]
    frames = spark.createDataFrame(
        [(None, bytearray(encode_py(h, p))) for h, p in messages],
        "key binary, value binary",
    )
    src = tmp_path / "in"
    frames.write.parquet(str(src))
    broker_root = str(tmp_path / "broker")
    cfg = PipelineConfig(
        source="files",
        sink="kafka-eos",
        source_path=str(src),
        output_topic="replies",
        transactional_id="pipe-eos",
        broker=file_broker(broker_root),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q = start_pipeline(spark, cfg, uppercase_function)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    committed = _committed_records(broker_root)
    got = sorted(
        (decode_py(bytes.fromhex(v)) for _, _, v in committed["replies"]),
        key=lambda t: t[1],
    )
    expect = sorted(
        (
            decode_py(bytes(r.value))
            for r in run_pipeline_batch(frames, uppercase_function).collect()
        ),
        key=lambda t: t[1],
    )
    assert got == expect  # exactly one copy of every transformed record
    # per-partition transactional ids, each with its own epoch marker
    tids = {tid for tid, _, _ in committed["replies"]}
    assert all(t.startswith("pipe-eos-") for t in tids)
    marker_tids = {tid for tid, _, _ in committed["replies.epochs"]}
    assert tids <= marker_tids


# ---------------------------------------------------------------- merge mode


def _rows(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


def test_merge_writer_upsert_delete_and_pointer_commit(spark, tmp_path):
    """Third writer mode (VERDICT r5 #7): keyed MERGE into a parquet
    snapshot with atomic pointer-swap visibility. Epoch 0 inserts, epoch
    1 updates/deletes/inserts; the committed snapshot reflects exactly
    the applied changesets."""
    from kafka_stream_service_spark.eos import MergeIdempotentSnapshotWriter

    w = MergeIdempotentSnapshotWriter(str(tmp_path / "tbl"), key="k")
    assert w.current(spark) is None and w.committed_epoch() is None

    e0 = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    w(e0, 0)
    assert w.committed_epoch() == 0
    assert _rows(w.current(spark)) == [(1, "a"), (2, "b"), (3, "c")]

    e1 = spark.createDataFrame(
        [(2, "B", "U"), (3, None, "D"), (4, "d", "U")], "k int, v string, _op string"
    )
    w(e1, 1)
    assert w.committed_epoch() == 1
    assert _rows(w.current(spark)) == [(1, "a"), (2, "B"), (4, "d")]


def test_merge_writer_replay_of_committed_epoch_is_skipped(spark, tmp_path):
    """Commit-then-crash: the restarted query re-offers epoch 0; the
    pointer says it is committed, so the writer must not re-apply it
    (and even if it did, the MERGE would converge — layered safety)."""
    from kafka_stream_service_spark.eos import MergeIdempotentSnapshotWriter

    w = MergeIdempotentSnapshotWriter(str(tmp_path / "tbl"), key="k")
    e0 = spark.createDataFrame([(1, "a")], "k int, v string")
    w(e0, 0)
    before = _rows(w.current(spark))
    # replay with DIFFERENT (corrupt) content: skip must win, proving the
    # guard is the pointer, not accidental idempotence
    w(spark.createDataFrame([(1, "CORRUPT")], "k int, v string"), 0)
    assert _rows(w.current(spark)) == before


def test_merge_writer_crash_before_pointer_swap_then_replay(spark, tmp_path):
    """Abort-and-replay: epoch 1's data directory is fully written but
    the process dies before the pointer swap — the committed view stays
    at epoch 0, and the replayed epoch 1 rewrites its directory and
    commits exactly once."""
    from kafka_stream_service_spark.eos import MergeIdempotentSnapshotWriter

    base = str(tmp_path / "tbl")
    w = MergeIdempotentSnapshotWriter(base, key="k")
    w(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), 0)

    e1 = spark.createDataFrame([(2, "B", "U")], "k int, v string, _op string")

    # simulate the crash: run the merge + data write, skip the swap
    import os

    crashed = MergeIdempotentSnapshotWriter(base, key="k")
    real_replace = os.replace
    try:
        os.replace = lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("crash"))
        try:
            crashed(e1, 1)
        except RuntimeError:
            pass
    finally:
        os.replace = real_replace

    assert w.committed_epoch() == 0  # old snapshot still current
    assert _rows(w.current(spark)) == [(1, "a"), (2, "b")]

    w(e1, 1)  # replay commits exactly once
    assert w.committed_epoch() == 1
    assert _rows(w.current(spark)) == [(1, "a"), (2, "B")]


def test_merge_writer_double_apply_converges(spark, tmp_path):
    """Algebraic layer: force-apply the SAME changeset twice (fresh
    writer with no pointer knowledge each time, epochs ascending) — the
    keyed MERGE converges to the same snapshot, so even a ledgerless
    replay cannot duplicate rows (q_idempotent_sink_merge oracles this
    same algebra)."""
    from kafka_stream_service_spark.eos import MergeIdempotentSnapshotWriter

    base = str(tmp_path / "tbl")
    w = MergeIdempotentSnapshotWriter(base, key="k")
    w(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), 0)
    ch = spark.createDataFrame(
        [(1, None, "D"), (2, "B", "U"), (5, "e", "U")], "k int, v string, _op string"
    )
    w(ch, 1)
    once = _rows(w.current(spark))
    w(ch, 2)  # same changeset again, new epoch: must be a no-op in value
    assert _rows(w.current(spark)) == once == [(2, "B"), (5, "e")]


def test_merge_writer_under_foreachbatch_restart(spark, tmp_path):
    """End-to-end under a real streaming query: a rate-limited file
    stream MERGEs into the snapshot via foreachBatch; stopping and
    restarting from the checkpoint replays the last epoch without
    duplicating or corrupting the table."""
    from kafka_stream_service_spark.eos import MergeIdempotentSnapshotWriter

    src = tmp_path / "src"
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(6)], "k int, v string"
    ).coalesce(1).write.parquet(str(src))

    w = MergeIdempotentSnapshotWriter(str(tmp_path / "tbl"), key="k")
    stream = spark.readStream.schema("k int, v string").parquet(str(src))
    q = (
        stream.writeStream.foreachBatch(w)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # restart: the checkpoint marks the batch done; even if the engine
    # re-offered it, the pointer guard + MERGE algebra keep the table
    q2 = (
        stream.writeStream.foreachBatch(w)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()

    assert _rows(w.current(spark)) == [(i, f"v{i}") for i in range(6)]
