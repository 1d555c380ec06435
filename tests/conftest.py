from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from kafka_stream_service_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def catalog_sweep(spark):
    """Every catalog row built once at sf0.001 (see catalog_plans.py)."""
    from catalog_plans import build_rows

    from kafka_stream_service_spark.queries.registry import QUERIES

    return build_rows(spark, QUERIES, SF_SMOKE)
