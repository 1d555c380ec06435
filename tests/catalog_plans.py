"""One build of every catalog row, shared by the catalog-wide plan gates.

Building all 454 rows at sf0.001 takes 135-165 s on a 4-core host (a
replay row runs its streaming query while it builds), so the session
builds each row once (``conftest.catalog_sweep``) and every gate reads
the record: the physical plan and output schema, or the build error.
A row that fails to build escapes every plan gate at once, so each gate
asserts that none did.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.types import ArrayType, MapType, StructType

from kafka_stream_service_spark.plans import (
    physical_plan,
    python_lane_offenders,
    single_partition_offenders,
)


@dataclass(frozen=True)
class Built:
    plan: str = ""
    schema: StructType | None = None
    error: str = ""


def build_rows(spark, queries, sf) -> dict[str, Built]:
    """Build each query's frame at ``sf`` and keep its plan and schema."""
    sweep = {}
    for name, spec in queries.items():
        try:
            df = spec.spark_fn(spark, sf)
            sweep[name] = Built(plan=physical_plan(df), schema=df.schema)
        except Exception as exc:  # noqa: BLE001 - recorded, asserted by the gates
            sweep[name] = Built(error=f"{type(exc).__name__}: {exc}"[:200])
    return sweep


def broken(sweep, allowlist=frozenset()) -> dict[str, str]:
    return {n: b.error for n, b in sweep.items() if b.error and n not in allowlist}


def cartesian(sweep) -> list[str]:
    return [n for n, b in sweep.items() if "CartesianProduct" in b.plan]


def complex_outputs(sweep) -> dict[str, list[str]]:
    """Rows with array, map or struct output columns. A harness that
    canonicalizes a result by sorting on all its columns raises
    ``TypeError: unhashable type`` on a list-valued cell."""
    bad = {}
    for name, b in sweep.items():
        cols = [f.name for f in (b.schema.fields if b.schema else ())
                if isinstance(f.dataType, (ArrayType, MapType, StructType))]
        if cols:
            bad[name] = cols
    return bad


def single_partition(sweep, allowlist=frozenset()) -> dict[str, list[str]]:
    """Data-scale subtrees collapsed onto one partition."""
    bad = {}
    for name, b in sweep.items():
        off = b.plan and name not in allowlist and single_partition_offenders(b.plan)
        if off:
            bad[name] = off
    return bad


def row_python(sweep) -> list[str]:
    """Rows that plan row-at-a-time Python (BatchEvalPython)."""
    return [n for n, b in sweep.items()
            if "BatchEvalPython" in b.plan and "ArrowEvalPython" not in b.plan]


def narrow_python(sweep, allowlist=frozenset()) -> dict[str, list[str]]:
    """Python lanes that run at raw file-scan width: on a one-file
    fixture that is one task under every Arrow crossing."""
    bad = {}
    for name, b in sweep.items():
        off = b.plan and name not in allowlist and python_lane_offenders(b.plan)
        if off:
            bad[name] = off
    return bad
