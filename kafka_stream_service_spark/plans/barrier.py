"""One materialization barrier: every plan cut in the package.

A ``localCheckpoint`` cuts a frame's lineage, and with it the plan: a
consumer's physical plan shows the cut frame only as ``Scan
ExistingRDD``. Every cut goes through ``barrier`` and names why it is
there, one of four reasons:

- ``iterate``: truncate the lineage of a loop, so each round plans from
  a materialized frame instead of the whole chain so far;
- ``pin_partitions``: keep partition ids stable across jobs (AQE
  re-plans a range exchange per job; the collected per-partition
  offsets must match the partitions the caller's job reads);
- ``reuse``: compute a frame once for several consumers, since Spark
  does not dedupe a subtree that two branches of one plan read;
- ``fence``: stop Catalyst from inlining across the cut or from
  re-planning it under a later conf.

While a ``recording`` is open on the calling thread, each barrier also
keeps the formatted plan of the frame it cuts, so the catalog plan
gates read below every cut (``tests/catalog_plans.py``). With no
recording open, ``barrier`` is the bare ``localCheckpoint`` call.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager
from typing import Literal, get_args

from pyspark.sql import DataFrame

from .inspect import physical_plan

Reason = Literal["iterate", "pin_partitions", "reuse", "fence"]
REASONS: frozenset[str] = frozenset(get_args(Reason))

_recorder = threading.local()


def barrier(df: DataFrame, reason: Reason, *, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager=eager)``, cut for ``reason``.

    Under an open ``recording`` the cut frame's formatted plan is kept
    first, at call time, so a conf scope around the call shows in it.
    The recording is per thread: a barrier that runs inside a
    ``foreachBatch`` callback (Spark calls it on another thread) is not
    recorded."""
    cut = getattr(_recorder, "plans", None)
    if cut is not None:
        cut.append(physical_plan(df))
    return df.localCheckpoint(eager=eager)


@contextmanager
def recording() -> Iterator[list[str]]:
    """Collect the plan of every barrier the calling thread cuts while
    the block runs, in call order. Only tests open one."""
    outer = getattr(_recorder, "plans", None)
    _recorder.plans = cut = []
    try:
        yield cut
    finally:
        _recorder.plans = outer
