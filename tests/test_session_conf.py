"""Session settings that trade a feature for speed keep what matters."""

from __future__ import annotations

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F


def test_runtime_error_raises_without_call_site_capture(spark):
    """Python call-site capture is off (it costs most of a build's py4j
    round trips); an ANSI runtime error still raises, only without the
    Python file:line in its DataFrame query context."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        spark.range(1).select(F.col("id") / F.col("id")).collect()
