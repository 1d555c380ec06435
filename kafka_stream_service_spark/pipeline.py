"""The streaming spine: source -> decode -> transform -> encode -> sink.

This is the reference's entire dataflow (StreamsApplication.java:146-163)
as a composable Spark pipeline:

    Kafka/file source (R1-R5)
      -> one mapInPandas body per Arrow batch (R6-R11):
         decode the `value` frame to a Message, apply the function slot
         (or the identity bypass), re-key to null and encode
      -> sink: Kafka at-least-once, or foreachBatch exactly-once (R12)

Streaming, batch and dead-letter pipelines all run that single body, so
headers cross the Arrow boundary once (as wire bytes) per micro-batch.
The reference runs decode -> fn -> encode pipelined per record the same
way; the body keeps its 1-in-1-out order within each batch.

Ordering semantics delta (documented, SURVEY.md §7 "What's hard" #2): the
reference is globally ordered (single thread + sequential concatMap); Spark
preserves order per Kafka partition and parallelizes across partitions —
the intentional scale upgrade.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .codec import decode_with_prefix_cache, encode_with_prefix_cache
from .eos import ForeachBatchIdempotentWriter, kafka_transactional_batch_writer
from .plans.barrier import barrier
from .sources import stream_file_source, stream_kafka_source, write_kafka_sink, write_memory_sink
from .transform import FunctionConfig, MessageFunction


@dataclass
class PipelineConfig:
    """Boot configuration — the Spark analog of the reference's Spring
    config surface (grpc.host/port/enabled + spring.kafka.bootstrap-servers,
    StreamsApplication.java:42-64, streams.yaml:27-28)."""

    source: str = "kafka"  # kafka | files
    sink: str = "kafka"  # kafka | memory | eos-files | kafka-eos
    bootstrap_servers: str = "localhost:9092"
    input_topic: str = "uppercase"
    output_topic: str = "replies"
    source_path: str = ""  # for files source
    output_dir: str = ""  # for eos-files sink
    checkpoint_dir: str = "/tmp/kssp-checkpoints/pipeline"
    query_name: str = "kssp_pipeline"
    function: FunctionConfig = field(default_factory=FunctionConfig)
    degraded_ordering: bool = False  # R15 after-failure mode
    max_offsets_per_trigger: int | None = None
    # kafka-eos sink (R12): stable transactional.id prefix and the broker
    # (eos.KafkaTransactionalEpochWriter; None binds kafka-python)
    transactional_id: str = "kssp-replies-0"
    broker: object | None = None


WIRE_FRAME_DDL = "key binary, value binary"


def _spine(
    frames: DataFrame,
    fn: MessageFunction | None,
    enabled: bool,
    dead_letters: bool = False,
) -> DataFrame:
    """The one decode -> fn -> encode body (R6-R11), as ONE mapInPandas.

    Per Arrow batch: decode each ``value`` frame (``records.map(
    ConsumerRecord::value)``, StreamsApplication.java:176), hand the
    (headers, payload) batch to ``fn`` unless the slot is disabled (R9,
    ``grpc.enabled=false``), then encode each message under a null key
    (``new ProducerRecord<>("replies", null, record)``, :194). Binary
    in, binary out: the ``map<string,array<string>>`` headers never
    leave the Python worker. Both codec directions memoize per header
    shape for the life of the task.

    A malformed frame raises, as the reference's deserializer does
    (MessageDeserializer.java:52), unless ``dead_letters`` is set: then
    it becomes a row carrying the raw frame and the decode error, ``fn``
    runs on the good rows only, and the output gains an ``error`` column
    that is NULL on every good row.
    """
    apply = fn if enabled else None

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # the codec caches live for the task; ``fn`` owns whatever it
        # opens per call (a RemoteFunction dials and closes one channel)
        prefix_cache: dict[tuple, bytes] = {}
        decode_cache: dict[bytes, dict] = {}
        for pdf in batches:
            headers, payloads, dead, errors = [], [], [], []
            for data in pdf["value"]:
                try:
                    h, p = decode_with_prefix_cache(bytes(data), decode_cache)
                except Exception as exc:
                    if not dead_letters:
                        raise
                    dead.append(data)
                    errors.append(f"{type(exc).__name__}: {exc}")
                    continue
                headers.append(h)
                payloads.append(p)
            batch = pd.DataFrame({"headers": headers, "payload": payloads})
            if apply is not None and len(batch):
                batch = apply(batch)
            values = [
                encode_with_prefix_cache(h, p, prefix_cache)
                for h, p in zip(batch["headers"], batch["payload"])
            ]
            out = {"key": [None] * (len(values) + len(dead)), "value": values + dead}
            if dead_letters:
                out["error"] = [None] * len(values) + errors
            yield pd.DataFrame(out)

    schema = WIRE_FRAME_DDL + (", error string" if dead_letters else "")
    return frames.select("value").mapInPandas(body, schema=schema)


def build_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    fn: MessageFunction | None = None,
) -> DataFrame:
    """Assemble the full (streaming) dataflow; returns the sink-ready frame.

    The ``decoded`` tap counts each micro-batch's frames and wire bytes
    — the Spark-native form of the reference's ``records.log()`` (R17,
    StreamsApplication.java:147): the metrics surface in every
    QueryProgressEvent under ``observedMetrics["decoded"]``.
    """
    if cfg.source == "kafka":
        frames = stream_kafka_source(
            spark,
            cfg.bootstrap_servers,
            cfg.input_topic,
            max_offsets_per_trigger=cfg.max_offsets_per_trigger,
        )
    elif cfg.source == "files":
        frames = stream_file_source(spark, cfg.source_path, WIRE_FRAME_DDL)
    else:
        raise ValueError(f"unknown source {cfg.source!r}")

    frames = frames.observe(
        "decoded",
        F.count(F.lit(1)).alias("n_records"),
        F.coalesce(F.sum(F.length("value")), F.lit(0)).alias("wire_bytes"),
    )
    return _spine(frames, fn, cfg.function.enabled)


def start_pipeline(spark: SparkSession, cfg: PipelineConfig, fn: MessageFunction | None = None):
    """Start the streaming query (the analog of the runner thread at
    StreamsApplication.java:117-130; StreamingQuery is already async)."""
    out = build_pipeline(spark, cfg, fn)
    if cfg.sink == "kafka":
        writer = write_kafka_sink(
            out,
            cfg.bootstrap_servers,
            cfg.output_topic,
            checkpoint_dir=cfg.checkpoint_dir,
            degraded_ordering=cfg.degraded_ordering,
        )
    elif cfg.sink == "memory":
        writer = write_memory_sink(out, cfg.query_name).option(
            "checkpointLocation", cfg.checkpoint_dir
        )
    elif cfg.sink == "eos-files":
        eos = ForeachBatchIdempotentWriter(cfg.output_dir)
        writer = out.writeStream.foreachBatch(eos).option(
            "checkpointLocation", cfg.checkpoint_dir
        )
    elif cfg.sink == "kafka-eos":
        # R12 at scale: one fenced transactional producer per partition
        # task (eos.py:kafka_transactional_batch_writer)
        body = kafka_transactional_batch_writer(
            cfg.broker,
            topic=cfg.output_topic,
            transactional_id=cfg.transactional_id,
            bootstrap_servers=cfg.bootstrap_servers,
        )
        writer = out.writeStream.foreachBatch(body).option(
            "checkpointLocation", cfg.checkpoint_dir
        )
    else:
        raise ValueError(f"unknown sink {cfg.sink!r}")
    return writer.start()


def run_pipeline_batch(
    frames: DataFrame,
    fn: MessageFunction | None = None,
    enabled: bool = True,
) -> DataFrame:
    """The same dataflow on a bounded frame (finite replay) — used by the
    parity tests and by any backfill over landed data."""
    return _spine(frames, fn, enabled)


def run_pipeline_with_dlq(
    frames: DataFrame,
    fn: MessageFunction | None = None,
    enabled: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Poison-message-safe pipeline: returns (good_output, dead_letters).

    The reference's strict deserializer kills the stream on one
    malformed frame, and its restart loop (R14) would then crash-cycle
    forever on a deterministic poison record. Here decode failures
    split into a dead-letter frame carrying the raw wire bytes plus the
    decode error (ready for a DLQ topic/path sink and offline
    inspection), while good rows run through the same body as the
    strict pipeline.

    On the batch path the body's output is lineage-truncated
    (localCheckpoint, lazy), so consuming BOTH lanes runs the body —
    decode, ``fn`` and encode — ONCE per row; without the barrier each
    consumed lane would re-run it over every row. Streaming frames
    cannot checkpoint this way; there the split belongs inside
    ``foreachBatch``, where the micro-batch is materialized once.
    """
    lanes = _spine(frames, fn, enabled, dead_letters=True)
    if not lanes.isStreaming:
        lanes = barrier(lanes, "reuse")
    good = lanes.filter(F.col("error").isNull()).select("key", "value")
    dead = lanes.filter(F.col("error").isNotNull()).select("value", "error")
    return good, dead
