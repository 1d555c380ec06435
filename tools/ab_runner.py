"""One whole-process leg of an interleaved A/B between two source trees.

Runs the catalog rows named in a JSON list against the code in a given
tree, with bench.py's exact methodology — one flagship warmup, 3 timed
passes in fixed order, GC reclaim every 12 queries, per-row MEDIAN — and
appends one JSON line {"worktree": tree, "sf_dir": data, "medians":
{row: s}} to the output file. The data directory defaults to the sf0.1
fixtures; a shard written by ``tools/scale_probe.py`` times the same
rows at a multiple of that data. Run legs for the two trees alternately
(ABAB...) so host drift averages out of the comparison instead of
landing on one side.
The tree also goes first on the ``PYTHONPATH`` the Spark JVM hands its
Python workers, so UDFs import the package from the tree under test, not
from the working directory:

    for i in 1 2 3 4; do
        python tools/ab_runner.py <parent_tree> rows.json parent.jsonl
        python tools/ab_runner.py <change_tree> rows.json change.jsonl
    done

Usage: python tools/ab_runner.py <worktree> <names.json> <out.jsonl> [<data_dir>]
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time


def main() -> None:
    worktree, names_path, out_path = sys.argv[1], sys.argv[2], sys.argv[3]
    sys.path.insert(0, worktree)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (worktree, os.environ.get("PYTHONPATH")) if p
    )
    names = json.load(open(names_path))

    from kafka_stream_service_spark.queries import QUERIES
    from kafka_stream_service_spark.session import get_spark
    from kafka_stream_service_spark.tables import DEFAULT_SF_DIR

    sf_dir = sys.argv[4] if len(sys.argv) > 4 else os.path.join(
        os.path.dirname(DEFAULT_SF_DIR), "sf0.1")
    spark = get_spark("ab_leg")

    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    force(QUERIES["q02_revenue_by_nation"].spark_fn(spark, sf_dir))
    force(
        spark.range(spark.sparkContext.defaultParallelism * 2)
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(lambda it: it, schema="id long")
    )

    def reclaim() -> None:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.3)

    runs: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(3):
        for qi, name in enumerate(names):
            if qi % 12 == 0:
                reclaim()
            t0 = time.time()
            force(QUERIES[name].spark_fn(spark, sf_dir))
            runs[name].append(round(time.time() - t0, 3))
        reclaim()
    medians = {n: sorted(ts)[len(ts) // 2] for n, ts in runs.items()}
    with open(out_path, "a") as f:
        f.write(json.dumps({"worktree": worktree, "sf_dir": sf_dir, "medians": medians}) + "\n")
    print(f"leg done: {worktree} {sf_dir} total={round(sum(medians.values()), 1)}s")
    spark.stop()


if __name__ == "__main__":
    main()
