"""Fixture-table loaders.

``spark.read.parquet`` gives columnar scans with predicate pushdown and
column pruning for free; at 100 TB the same call reads a partitioned
directory tree and Catalyst prunes partitions from the filters in the plan.
A table whose parquet footer matches its declared schema
(``schemas.TABLE_SCHEMAS``) is read with that schema: Spark's own inference
costs a job that lists the files and reads a footer, 0.12-0.20 s per load,
against 0.02-0.03 s for a declared read. Any other table (one written by
hand with other column types, or a path the driver cannot open) is
inferred as before, since a declared type that differs from the file's
fails the scan or changes values.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from .schemas import TABLE_NAMES, TABLE_SCHEMAS

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _declared_schema_fits(path: str, name: str) -> bool:
    """Whether Spark would infer the declared schema for the parquet table
    at ``path``, judged from one footer read on the driver (Spark's own
    inference, without ``mergeSchema``, also reads one)."""
    if os.path.isdir(path):
        parts = sorted(f for f in os.listdir(path)
                       if f.endswith(".parquet") and not f.startswith((".", "_")))
        if not parts:
            return False
        path = os.path.join(path, parts[0])
    elif not os.path.isfile(path):
        return False
    try:
        footer = pq.read_schema(path)
        declared = from_arrow_schema(footer, prefer_timestamp_ntz=True) == TABLE_SCHEMAS[name]
    except (pa.ArrowException, TypeError):
        return False
    # nanosecond timestamps (TIMESTAMP(NANOS), INT96) map to the same Spark
    # type here, but Spark does not read them as declared
    return declared and not any(
        pa.types.is_timestamp(f.type) and f.type.unit == "ns" for f in footer)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark 4 only reads
        # via the nanosAsLong escape hatch; convert to microsecond
        # TIMESTAMP_NTZ (truncation — matching how DuckDB/Arrow read the
        # same file), keeping event-time semantics identical to the oracle.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
            )
        return df
    path = table_path(sf_dir, name)
    if _declared_schema_fits(path, name):
        return spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)
    return spark.read.parquet(path)


class Tables:
    """Lazy dict-like access to the fixture tables of one scale factor."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._cache:
            self._cache[name] = load_table(self.spark, self.sf_dir, name)
        return self._cache[name]

    def register_views(self, names: tuple[str, ...] = TABLE_NAMES) -> None:
        for n in names:
            self[n].createOrReplaceTempView(n)


def tables(spark: SparkSession, sf_dir: str | None = None) -> Tables:
    return Tables(spark, sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR))
