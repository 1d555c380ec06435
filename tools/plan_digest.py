"""Normalized plan digests of catalog rows, to show which plans moved.

Builds the registered rows of the source tree at ``<tree>`` in this
fresh process, with the session the tier-1 catalog sweep uses
(``get_spark("tests", shuffle_partitions=8)``) at sf0.001 unless a data
directory is given, and writes one JSON line per row:

    {"row": name, "plan": <digest of the row's plan>,
     "barriers": [<digest of each distinct barrier plan>],
     "digest": <one digest over the row's plan and its barrier plans>,
     "keyed_shuffles": <keyed shuffles over all of those plans>}

or ``{"row": name, "error": ...}`` for a row that fails to build. A
digest is the first 16 hex digits of the SHA-256 of the plan after
``plans.inspect.normalize_plan``. The normalizer and the shuffle count
come from this checkout, so two trees are always compared by one rule;
the rows, and the barrier recorder, come from ``<tree>`` (a tree from
before the barrier helper gets row-plan digests only). Compare the
``plan`` (or ``digest``) fields of two runs, one per tree:

    python tools/plan_digest.py <parent_tree> parent.jsonl
    python tools/plan_digest.py <change_tree> change.jsonl

Give each run its own ``TMPDIR``: a row's scratch directory is wiped
when it builds, so two live runs on one temp root break each other.

Usage: python tools/plan_digest.py <tree> <out.jsonl> [<data_dir> [<names.json>]]
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import json
import os
import sys

_INSPECT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "kafka_stream_service_spark", "plans", "inspect.py",
)


def _own_inspect():
    """This checkout's ``plans/inspect.py``, loaded under a private
    name so the tree under test keeps the package name."""
    spec = importlib.util.spec_from_file_location("_digest_inspect", _INSPECT)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def main() -> None:
    tree, out_path = sys.argv[1], sys.argv[2]
    plans = _own_inspect()
    sys.path.insert(0, tree)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (tree, os.environ.get("PYTHONPATH")) if p
    )

    from kafka_stream_service_spark.queries import QUERIES
    from kafka_stream_service_spark.session import get_spark
    from kafka_stream_service_spark.tables import DEFAULT_SF_DIR

    try:
        from kafka_stream_service_spark.plans.barrier import recording
    except ImportError:
        def recording():
            return contextlib.nullcontext([])

    sf_dir = sys.argv[3] if len(sys.argv) > 3 else DEFAULT_SF_DIR
    names = json.load(open(sys.argv[4])) if len(sys.argv) > 4 else list(QUERIES)
    spark = get_spark("tests", shuffle_partitions=8)

    def digest(text: str) -> str:
        return hashlib.sha256(text.encode()).hexdigest()[:16]

    with open(out_path, "w") as out:
        for name in names:
            try:
                with recording() as cut:
                    df = QUERIES[name].spark_fn(spark, sf_dir)
                plan = plans.physical_plan(df)
            except Exception as exc:  # noqa: BLE001 - reported per row
                line = {"row": name, "error": f"{type(exc).__name__}: {exc}"[:200]}
            else:
                # a barrier plan that repeats after normalization counts once
                kept: dict[str, str] = {}
                for p in cut:
                    kept.setdefault(plans.normalize_plan(p), p)
                normalized = [plans.normalize_plan(plan), *kept]
                line = {
                    "row": name,
                    "plan": digest(normalized[0]),
                    "barriers": [digest(p) for p in kept],
                    "digest": digest("\n".join(normalized)),
                    "keyed_shuffles": sum(
                        plans.count_shuffle_exchanges(p) for p in (plan, *kept.values())
                    ),
                }
            out.write(json.dumps(line) + "\n")
            out.flush()
    spark.stop()


if __name__ == "__main__":
    main()
