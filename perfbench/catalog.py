"""The catalog workload: one client runs the fixed query mix in a closed
loop on ``local[nproc]``, after ``CATALOG_WARM_PASSES`` warm passes.

Each query is forced with ``toPandas()``. The measured phase runs
``ceil(seconds / CATALOG_PASS_S)`` whole passes of the mix. Once
per run, outside the timed passes, each row's last result is compared
with its DuckDB oracle by ``tools.verify_local.compare``; a row without
an oracle must give the same rows on every pass.
"""

from __future__ import annotations

import math
import os
import sys
import time

import tracing
from config import CATALOG_MIX, CATALOG_PASS_S, CATALOG_WARM_PASSES
from fixtures import write_tables
from procs import start_spark, stop_spark


def run(workload: str, seed: int, seconds: int, trace: bool, t_start: float,
        run_dir: str, env: dict) -> dict:
    from kafka_stream_service_spark.queries import QUERIES

    spans = tracing.Spans()
    spark = None
    try:
        with spans.span("setup"):
            conf = tracing.event_log_conf(os.path.join(run_dir, "eventlog")) if trace else {}
            if trace:
                os.makedirs(os.path.join(run_dir, "eventlog"))
            with spans.span("session"):
                spark = start_spark(f"perfbench-{workload}", f"local[{os.cpu_count()}]", conf)
            with spans.span("fixtures"):
                data = write_tables(seed, os.path.join(run_dir, "data"))
            meter = tracing.ProcessMeter()
            first: dict = {}
            for k in range(CATALOG_WARM_PASSES):
                with spans.span("warm_pass", n=k):
                    for name in CATALOG_MIX:
                        with spans.span(name, p="warm"):
                            pdf = _run_query(spark, QUERIES[name], data, f"warm{k}")[1]
                        first.setdefault(name, pdf)
        setup_s = time.time() - t_start

        meter.start()
        walls: dict[str, list[float]] = {n: [] for n in CATALOG_MIX}
        last: dict = {}
        raised: dict[str, int] = {}
        passes = max(1, math.ceil(seconds / CATALOG_PASS_S))
        t0 = time.time()
        for p in range(1, passes + 1):
            with spans.span("pass", n=p):
                for name in CATALOG_MIX:
                    with spans.span(name, p=p):
                        wall, pdf = _run_query(spark, QUERIES[name], data, f"p{p}")
                    meter.sample()
                    if pdf is None:
                        raised[name] = raised.get(name, 0) + 1
                    else:
                        walls[name].append(wall)
                        last[name] = pdf
        elapsed = time.time() - t0
        cpu = meter.cpu_since_start()

        with spans.span("check"):
            bad = _check(QUERIES, data, first, last)
        n_ops = passes * len(CATALOG_MIX)
        failed = sum(raised.values()) + sum(len(walls[n]) for n in bad)
        all_walls = [w for ws in walls.values() for w in ws]
        res = {
            "attempted": n_ops, "failed": failed, "bad_rows": sorted(bad),
            "raised": raised, "setup_s": setup_s, "ops_per_s": n_ops / elapsed,
            "latency_p50_s": tracing.median(all_walls),
            "latency_p90_s": tracing.pct(all_walls, 0.9),
            "passes": passes, "walls": walls, "cpu_s": cpu, "peak_rss_mb": meter.peak_mb,
        }
        stop_spark(spark)
        spark = None
        layers = {}
        if trace:
            layers = _layers(run_dir, res, spans)
            spans.write(os.path.join(run_dir, "spans.json"))
        return {"result": res, "layers": layers}
    finally:
        if spark is not None:
            stop_spark(spark)


def _run_query(spark, spec, data: str, tag: str):
    """(wall seconds, pandas result or None if it raised)."""
    spark.sparkContext.setJobDescription(f"perfbench:{spec.name}:{tag}")
    t = time.perf_counter()
    try:
        pdf = spec.spark_fn(spark, data).toPandas()
    except Exception as exc:  # noqa: BLE001 - a failed query is a counted failure
        print(f"query {spec.name} raised: {exc!r}"[:500], file=sys.stderr)
        return time.perf_counter() - t, None
    finally:
        spark.sparkContext.setJobDescription(None)
    return time.perf_counter() - t, pdf


def _check(queries, data: str, first: dict, last: dict) -> set[str]:
    """Rows whose result does not match: against the DuckDB oracle, or
    for rows without one, against the warm pass."""
    from tools.verify_local import compare, duck_connection, normalize

    con = duck_connection(data)
    bad = set()
    try:
        for name in CATALOG_MIX:
            if name not in last or first.get(name) is None:
                bad.add(name)
                continue
            oracle = queries[name].oracle
            if oracle is None:
                if not normalize(first[name]).equals(normalize(last[name])) or last[name].empty:
                    bad.add(name)
            elif compare(name, last[name], con.execute(oracle).fetchdf()):
                bad.add(name)
    finally:
        con.close()
    return bad


def _layers(run_dir: str, res: dict, spans: tracing.Spans) -> dict:
    log = tracing.EventLog(tracing.read_event_log(os.path.join(run_dir, "eventlog")))
    m = {}
    for name in CATALOG_MIX:
        timed = [s for s in spans.spans if s["name"] == name and s["p"] != "warm"]
        per_pass = max(len(timed), 1)
        wall = job_union = 0.0
        jobs = []
        for s in timed:
            tag = f"perfbench:{name}:p{s['p']}"
            mine = log.jobs_where(lambda d, t=tag: d == t)
            jobs += mine
            wall += s["end"] - s["start"]
            job_union += tracing.union_s([(j["start"], j["end"]) for j in mine if j["end"]])
        tot = log.stage_totals(jobs)
        m[f"queries.{name}.wall_s"] = wall / per_pass
        m[f"queries.{name}.driver_gap_s"] = max(wall - job_union, 0.0) / per_pass
        m[f"queries.{name}.stages"] = tot["stages"] / per_pass
        m[f"queries.{name}.tasks"] = tot["tasks"] / per_pass
        m[f"queries.{name}.task_s"] = tot["task_s"] / per_pass
    m["process.cpu_us_per_op"] = 1e6 * res["cpu_s"] / res["attempted"]
    m["process.peak_rss_mb"] = res["peak_rss_mb"]
    return m
