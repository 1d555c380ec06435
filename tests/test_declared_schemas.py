"""The declared table schemas are the fixtures' own.

``tables.load_table`` reads a table with ``schemas.TABLE_SCHEMAS`` when
its footer matches, instead of inferring. A declared type that differs
from the file's would change results (a TIMESTAMP read of a TIMESTAMP_NTZ
column shifts it by the session zone), so every fixture set on the host
must infer exactly the declared schema and take the declared read: the
driver's sf sets and the benchmark's seeded tables.
"""

from __future__ import annotations

import os

import pytest

from kafka_stream_service_spark.schemas import TABLE_NAMES, TABLE_SCHEMAS
from kafka_stream_service_spark.tables import (
    DEFAULT_SF_DIR,
    _declared_schema_fits,
    load_table,
    table_path,
)

SF_SETS = [os.path.join(os.path.dirname(DEFAULT_SF_DIR), f"sf{sf}") for sf in ("0.001", "0.01", "0.1")]


@pytest.fixture(scope="module")
def perfbench_tables(tmp_path_factory) -> str:
    from perfbench.fixtures import write_tables

    return write_tables(1, str(tmp_path_factory.mktemp("perfbench_tables")))


def _check_set(spark, sf_dir: str) -> None:
    for name in TABLE_NAMES:
        # load_table first: it sets the nanos conf events needs
        loaded = load_table(spark, sf_dir, name).schema
        inferred = spark.read.parquet(table_path(sf_dir, name)).schema
        assert inferred == TABLE_SCHEMAS[name], (sf_dir, name, inferred.simpleString())
        assert loaded == TABLE_SCHEMAS[name], (sf_dir, name, loaded.simpleString())
        # ... and the footer check lets the loader skip inference (events
        # aside, which keeps its nanos branch)
        assert _declared_schema_fits(table_path(sf_dir, name), name), (sf_dir, name)


@pytest.mark.parametrize("sf_dir", SF_SETS, ids=os.path.basename)
def test_sf_set_infers_declared_schemas(spark, sf_dir):
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} is not on this host")
    _check_set(spark, sf_dir)


def test_benchmark_fixtures_infer_declared_schemas(spark, perfbench_tables):
    _check_set(spark, perfbench_tables)



def test_other_column_types_are_not_read_as_declared(tmp_path):
    import pandas as pd

    def orders(key_dtype: str, date_unit: str) -> str:
        path = str(tmp_path / f"orders_{key_dtype}_{date_unit}.parquet")
        pd.DataFrame({
            "o_orderkey": pd.Series([1], dtype=key_dtype),
            "o_custkey": pd.Series([1], dtype="int64"),
            "o_orderstatus": ["F"],
            "o_totalprice": [1.0],
            "o_orderdate": pd.Series(pd.to_datetime(["2000-01-01"])).astype(f"datetime64[{date_unit}]"),
            "o_orderpriority": ["1-URGENT"],
        }).to_parquet(path, index=False, coerce_timestamps=None)
        return path

    assert _declared_schema_fits(orders("int64", "us"), "orders")
    assert not _declared_schema_fits(orders("int32", "us"), "orders")
    assert not _declared_schema_fits(orders("int64", "ns"), "orders")
