"""Benchmark entry point.

    python3 perfbench/run.py --workload spine_remote --seed 1 --seconds 20 --trace 0

Workloads: ``spine_remote`` (spine.py) and ``catalog`` (catalog.py); see
README.md in this directory. The run prints one line
per end-to-end metric, then, as its last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, from a traced run made
after an untraced run of the same seed (the difference between the two
is ``tracing.overhead_frac``).

Everything the run writes stays under ``.perfbench_run/`` in the
checkout, and every process it starts has ended when it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("spine_remote", "catalog")


def _environment(run_dir: str) -> dict:
    """Point every scratch location of Spark, the JVM and Python at the
    run directory, and let Spark's Python workers import the package
    and this directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ.copy()
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-XX:ReservedCodeCacheSize=512m -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ.update(env)
    return env


def _untraced(args) -> dict:
    """The same workload and seed with tracing off, in a fresh process."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        stdout=subprocess.PIPE, text=True, timeout=120, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def _end_to_end(workload: str, res: dict) -> dict:
    if workload == "catalog":
        return {k: res[k] for k in ("setup_s", "ops_per_s", "latency_p50_s", "latency_p90_s")}
    import tracing

    return {
        "setup_s": res["setup_s"],
        "ops_per_s": res["drain_msgs"] / res["drain_s"],
        "latency_p50_s": tracing.median(res["latencies"]),
        "latency_p90_s": tracing.pct(res["latencies"], 0.9),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind through the `finally` blocks that stop the children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "kafka_stream_service_spark")):
        print("perfbench: kafka_stream_service_spark/ not found next to perfbench/",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    untraced = _untraced(args) if args.trace else None
    t_start = time.time() if args.trace else T_START

    sys.path[:0] = [ROOT, HERE]
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = _environment(run_dir)
    if args.workload == "catalog":
        import catalog as workload
    else:
        import spine as workload
    try:
        out = workload.run(args.workload, args.seed, args.seconds, bool(args.trace),
                           t_start, run_dir, env)
        if args.trace:
            keep = os.path.join(ROOT, ".perfbench_run", "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.json"),
                        os.path.join(keep, f"{args.workload}-{args.seed}-spans.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    res = out["result"]
    e2e = _end_to_end(args.workload, res)
    # the samples behind the medians, for whoever reads the log
    print(json.dumps({k: res[k] for k in ("latencies", "drain_commits", "walls") if k in res}), file=sys.stderr)
    self_test = res.get("self_test", True)  # the spine checker tests itself
    correct = self_test and res["failed"] == 0
    print(f"workload {args.workload} seed {args.seed}: attempted {res['attempted']}, "
          f"failed {res['failed']}" + ("" if self_test else ", checker self-test FAILED"))
    if res["failed"]:
        print("  failures: " + ", ".join(f"{k} {res[k]}" for k in (
            "missing", "duplicated", "wrong", "unknown", "late", "bad_rows", "raised")
            if res.get(k)))
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    for name in units:
        print(f"  {name} = {e2e[name]:.6g} {units[name]}")
    print(f"  error_rate = {res['failed'] / res['attempted']:.6g} ratio")
    if args.trace:
        layers = dict(out["layers"])
        traced_ops = e2e["ops_per_s"]
        base_ops = untraced["metrics"]["ops_per_s"]["value"]
        layers["tracing.overhead_frac"] = (base_ops - traced_ops) / base_ops
        metrics = {}
        for m in bench["per_layer"]:
            metrics[m["name"]] = {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            print(f"  {m['name']} = {metrics[m['name']]['value']:.6g} {m['unit']}")
        correct = correct and untraced["correct"]
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in units.items()}
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
