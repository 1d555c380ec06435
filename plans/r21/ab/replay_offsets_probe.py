"""Run the 26 replay rows (and q_partition_overwrite) from one checkout
and dump, per row: the shuffle width and state-store provider recorded in
its checkpoint's offsets/0, a fingerprint of its result, its
LAST_TIMINGS split and the session conf left after it.

    python replay_offsets_probe.py <checkout> <sf_dir> <out.json> [row,row...]

Run it once per checkout, one after the other (both use the same
per-user work_dir root), and compare the two JSON files."""
import glob, hashlib, json, os, sys, time
tree, sf, out = sys.argv[1], sys.argv[2], sys.argv[3]
sys.path.insert(0, tree)
os.chdir(tree)
from kafka_stream_service_spark.session import get_spark
from kafka_stream_service_spark.queries.registry import QUERIES
from kafka_stream_service_spark.queries import streaming_replay as sr
rows = json.load(open(os.path.join(tree, "BENCH_DETAIL.json")))["replay_harness_vs_stream"]
rows = list(rows) + ["q_partition_overwrite"]
if len(sys.argv) > 4:
    rows = sys.argv[4].split(",")
spark = get_spark("probe")
import tempfile
root = os.path.join(tempfile.gettempdir(), f"kssp_work_{os.getuid()}")
res = {}
for name in rows:
    sr.LAST_TIMINGS.update(write_chunks_sec=0.0, stream_run_sec=0.0)
    t0 = time.time()
    df = QUERIES[name].spark_fn(spark, sf)
    pdf = df.toPandas()
    wall = time.time() - t0
    rows_sorted = sorted(map(repr, pdf.astype(str).values.tolist()))
    fp = hashlib.sha1("\n".join(rows_sorted).encode()).hexdigest()[:12]
    confs = {}
    for f in glob.glob(os.path.join(root, "**", "ckpt", "offsets", "0"), recursive=True):
        if os.path.getmtime(f) >= t0 - 1:
            meta = json.loads(open(f).read().split("\n")[1])
            c = meta.get("conf", {})
            confs[os.path.relpath(f, root)] = {
                k: c.get(k) for k in ("spark.sql.shuffle.partitions", "spark.sql.streaming.stateStore.providerClass")
            }
    res[name] = {"n": len(pdf), "fp": fp, "conf": confs, "wall": round(wall, 2), "timings": dict(sr.LAST_TIMINGS),
                 "session_after": {k: spark.conf.get(k) for k in ("spark.sql.shuffle.partitions", "spark.sql.streaming.stateStore.providerClass", "spark.sql.sources.partitionOverwriteMode")}}
    print(name, res[name], flush=True)
json.dump(res, open(out, "w"), indent=1, sort_keys=True)
spark.stop()
