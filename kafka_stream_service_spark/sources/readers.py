"""Batch and streaming source builders."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar batch scan: predicate pushdown + column pruning built in;
    at 100 TB the path is a partitioned dir tree and Catalyst prunes
    partitions from plan-time filters."""
    return spark.read.parquet(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Schema'd JSON scan — no inference pass (one job, not two)."""
    return spark.read.schema(schema).json(path)


def read_csv(spark: SparkSession, path: str, schema: T.StructType, header: bool = True) -> DataFrame:
    return spark.read.schema(schema).csv(path, header=header)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes_per_file: int | None = None,
) -> DataFrame:
    """Multimodal raw-file ingest via the built-in ``binaryFile`` source:
    one row per file with (path, modificationTime, length, content binary)
    — the on-ramp that turns image/audio/video files into the opaque
    binary columns the multimodal operators consume (SURVEY.md §2.2).

    At 100 TB: files >> executors, so parallelism is per-file; keep media
    shards in the low hundreds of MB, filter on ``length``/``path`` (both
    served from file metadata, no content read), and project ``content``
    only in the stage that decodes it.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes_per_file is not None:
        df = df.filter(df["length"] <= max_bytes_per_file)
    return df


def stream_kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "uppercase",
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """The reference's Kafka source with its exact consumer semantics
    (R1-R5; StreamsApplication.java:93-105):

    - ``startingOffsets=earliest``  <- AUTO_OFFSET_RESET (:100)
    - ``kafka.isolation.level=read_committed`` <- ISOLATION_LEVEL (:102)
    - offsets tracked in the checkpoint, never Kafka auto-commit (:101)
    - per-query generated group id = the reference's random UUID group
      (broadcast consumption per instance, :95)
    - maxOffsetsPerTrigger = backpressure (the Reactor request(n) analog)

    Output is the fixed Kafka envelope schema (key/value/topic/partition/
    offset/timestamp/timestampType), value holding the wire-framed Message.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("kafka.isolation.level", "read_committed")
        .option("failOnDataLoss", "false")
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader.load()


def stream_file_source(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Deterministic file-stream source: replays a directory one file per
    micro-batch — the test stand-in for the Kafka source (SURVEY.md §5
    item 3) and a real production source for landed-file pipelines."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .format(fmt)
        .load(path)
    )


def stream_rate_source(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Synthetic load source (timestamp, value) for throughput tests."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
