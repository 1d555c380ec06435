"""Scalar function helpers (``text``: JVM-side column expressions) and
the pure-Python protobuf and Avro wire codecs. Nothing is imported here,
so a process that needs only a codec (the function server) does not load
pyspark."""
