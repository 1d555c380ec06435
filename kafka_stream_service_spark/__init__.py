"""kafka_stream_service_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capabilities of the reference
``scratches/kafka-stream-service`` (a Kafka -> per-record-function -> Kafka
exactly-once streaming pipeline; see SURVEY.md), re-expressed idiomatically
on Apache Spark:

- ``session``     : SparkSession factory tuned for local[N] and cluster use
- ``pyworker``    : the Python worker daemon the session's executors fork
                    UDF workers from
- ``schemas``     : explicit StructType constants (Message model + tables)
- ``codec``       : the reference's custom binary Message framing codec
                    (reference: MessageDeserializer.java:49-70,
                    MessageSerializer.java:42-74) as vectorized UDFs
- ``transform``   : the pluggable per-record transform slot
                    (reference: StreamsApplication.java:179-190) as a
                    mapInPandas stage with per-executor client lifecycle
- ``pipeline``    : the streaming spine source->decode->transform->encode->sink
                    (reference: StreamsApplication.java:146-163)
- ``eos``         : exactly-once foreachBatch sink patterns
                    (reference: StreamsApplication.java:146-150)
- ``queries``     : the declared operator/query catalog checked against the
                    DuckDB oracle by the driver (SURVEY.md §2.2)
- ``llm-data ops``: dedup / similarity search / text analysis / multimodal
                    (queries.dedup, queries.similarity, queries.text,
                    functions.*)
"""

__version__ = "0.1.0"
