"""The ``spine_remote`` workload: files source -> decode -> remote
function -> encode -> exactly-once files sink, driven through
``pipeline.start_pipeline`` with ``transform.RemoteFunction`` over the
stdlib HTTP/2 gRPC transport to ``fnserver.py``.

A run has two measured phases after the warm-up segments commit:

- open loop: 1k-message segments land on a fixed schedule for the first
  half of ``--seconds``; latency is the time from a segment's creation
  stamp until its epoch is visible in the sink's ledger;
- drain: a fixed backlog of fifteen segments lands at once; throughput
  is the messages committed over the time from landing to the last
  commit.

Every committed epoch is then decoded and checked message by message.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import threading
import time

import pyarrow.parquet as pq

import tracing
from checker import check_epochs, self_test
from config import (
    DRAIN_SEGMENTS,
    LATENCY_LIMIT_S,
    OPEN_RATE,
    SPINE_SLOTS,
    WARM_SEGMENTS,
)
from messages import MessageSource
from procs import LineChild, start_spark, stop_spark


class LedgerWatcher(threading.Thread):
    """Records when each epoch first becomes visible in the ledger, and
    samples the process tree's memory every ~0.5 s."""

    def __init__(self, path: str, meter: tracing.ProcessMeter):
        super().__init__(daemon=True)
        self.path = path
        self.meter = meter
        self.visible: dict[int, float] = {}
        self._stop_evt = threading.Event()
        self._cond = threading.Condition()

    def run(self) -> None:
        last, n = None, 0
        while not self._stop_evt.is_set():
            try:
                mtime = os.stat(self.path).st_mtime_ns
            except FileNotFoundError:
                mtime = None
            if mtime is not None and mtime != last:
                now = time.time()
                with open(self.path) as f:
                    epochs = json.load(f)
                last = mtime
                with self._cond:
                    for e in epochs:
                        self.visible.setdefault(int(e), now)
                    self._cond.notify_all()
            n += 1
            if n % 250 == 0:
                self.meter.sample()
            time.sleep(0.002)

    def wait_for(self, count: int, timeout: float) -> None:
        deadline = time.time() + timeout
        with self._cond:
            while len(self.visible) < count:
                left = deadline - time.time()
                if left <= 0:
                    raise TimeoutError(f"{len(self.visible)} of {count} epochs committed")
                self._cond.wait(left)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def read_epochs(out_dir: str, epochs):
    for e in sorted(epochs):
        values = []
        for path in sorted(glob.glob(os.path.join(out_dir, f"batch_id={e}", "*.parquet"))):
            values.extend(pq.read_table(path, columns=["value"]).column("value").to_pylist())
        yield e, values


def run(workload: str, seed: int, seconds: int, trace: bool, t_start: float,
        run_dir: str, env: dict) -> dict:
    from kafka_stream_service_spark.pipeline import PipelineConfig, start_pipeline
    from kafka_stream_service_spark.transform import FunctionConfig, RemoteFunction

    spans = tracing.Spans()
    server = gen = spark = query = watcher = None
    try:
        with spans.span("setup"):
            server = LineChild("fnserver.py", env=env)
            gen = LineChild("generator.py", "--seed", str(seed), "--dir", run_dir, env=env)
            port = int(server.answer(timeout=60))
            conf = {}
            if trace:
                conf = tracing.event_log_conf(os.path.join(run_dir, "eventlog"))
                os.makedirs(os.path.join(run_dir, "eventlog"))
            with spans.span("session"):
                spark = start_spark(f"perfbench-{workload}", f"local[{SPINE_SLOTS}]", conf)
            fn = RemoteFunction(
                FunctionConfig(host="127.0.0.1", port=port, transport="h2-stdlib"))
            if trace:
                fn = tracing.TimedFunction(fn, os.path.join(run_dir, "fn_calls.txt"))
            out_dir = os.path.join(run_dir, "out")
            cfg = PipelineConfig(
                source="files", sink="eos-files", source_path=os.path.join(run_dir, "src"),
                output_dir=out_dir, checkpoint_dir=os.path.join(run_dir, "checkpoint"),
                query_name=f"perfbench_{workload}",
            )
            meter = tracing.ProcessMeter(exclude=(gen.pid,))
            with spans.span("generator_ready"):
                _expect(gen.answer(timeout=120), "ready")
            with spans.span("start_pipeline"):
                query = start_pipeline(spark, cfg, fn)
            watcher = LedgerWatcher(os.path.join(out_dir, "_committed_epochs.json"), meter)
            watcher.start()
            with spans.span("warm"):
                gen.ask("warm", timeout=60)
                watcher.wait_for(len(WARM_SEGMENTS), timeout=120)
        setup_s = time.time() - t_start

        t_measure = time.time()
        meter.start()
        srv0 = _server_stats(server)
        n_open = max(1, round(seconds / 2 * OPEN_RATE))
        with spans.span("open_loop", segments=n_open):
            t0 = time.time() + 0.2
            late_max = float(gen.ask(f"open {t0:.6f} {n_open}",
                                     timeout=n_open / OPEN_RATE + 60).split()[1])
            watcher.wait_for(len(WARM_SEGMENTS) + n_open, timeout=LATENCY_LIMIT_S + 60)
        with spans.span("drain", segments=DRAIN_SEGMENTS):
            gen.ask("drain", timeout=60)
            watcher.wait_for(len(WARM_SEGMENTS) + n_open + DRAIN_SEGMENTS, timeout=120)
        cpu = meter.cpu_since_start()
        srv1 = _server_stats(server)
        # the last trigger's progress event is posted after its commit
        query.processAllAvailable()
        progress = [json.loads(p.json) for p in query.recentProgress]
        query.stop()
        query = None
        watcher.stop()
        segments = json.loads(gen.ask("quit", timeout=30))

        with spans.span("check"):
            res = _check(seed, segments, watcher.visible, out_dir)
        res.update(late_max=late_max, setup_s=setup_s, cpu_s=cpu,
                   peak_rss_mb=meter.peak_mb, self_test=self_test(seed))
        layers = {}
        if trace:
            with spans.span("layers"):
                layers = _layers(res, progress, run_dir, out_dir, srv0, srv1, port,
                                 t_measure)
        stop_spark(spark)
        spark = None
        if trace:
            layers.update(_eventlog_layers(run_dir, res))
            spans.write(os.path.join(run_dir, "spans.json"))
        return {"result": res, "layers": layers}
    finally:
        if watcher is not None:
            watcher.stop()
        if query is not None:
            query.stop()
        if spark is not None:
            stop_spark(spark)
        if gen is not None:
            gen.close("quit")
        if server is not None:
            server.close("quit")


def _expect(line: str, want: str) -> None:
    if line.split()[0] != want:
        raise RuntimeError(f"expected {want!r}, got {line!r}")


def _server_stats(server: LineChild) -> dict:
    return json.loads(server.ask("stats", timeout=30))


def _check(seed: int, segments: list[dict], visible: dict[int, float], out_dir: str) -> dict:
    segments.sort(key=lambda s: s["first"])
    firsts = [s["first"] for s in segments]
    expected = segments[-1]["first"] + segments[-1]["n"]

    def seg_of(i: int) -> dict:
        return segments[bisect.bisect_right(firsts, i) - 1]

    def spec_of(i: int) -> tuple[float, bool]:
        s = seg_of(i)
        return s["stamp"], s["with_id"]

    chk = check_epochs(read_epochs(out_dir, visible), MessageSource(seed), spec_of, expected)
    seg_visible: dict[int, float] = {}
    seg_epochs: dict[int, set] = {}
    for epoch, idx in chk.epoch_msgs.items():
        for i in idx:
            s = seg_of(i)["seg"]
            seg_visible[s] = max(seg_visible.get(s, 0.0), visible[epoch])
            seg_epochs.setdefault(s, set()).add(epoch)
    failed = chk.failed_indices()
    by_phase = {p: [s for s in segments if s["phase"] == p] for p in ("warm", "open", "drain")}
    latencies, late_msgs = [], 0
    for s in by_phase["open"]:
        if s["seg"] not in seg_visible:
            continue  # its messages already count as missing
        lat = seg_visible[s["seg"]] - s["stamp"]
        latencies.append(lat)
        if lat > LATENCY_LIMIT_S:
            late_msgs += sum(1 for i in range(s["first"], s["first"] + s["n"]) if i not in failed)
    drain = by_phase["drain"]
    drain_end = max(seg_visible.get(s["seg"], float("inf")) for s in drain)
    # open-loop backlog: segments landed but not yet visible, at each landing
    backlog = [
        sum(1 for o in by_phase["open"]
            if o["landed"] <= s["landed"] < seg_visible.get(o["seg"], float("inf")))
        for s in by_phase["open"]
    ]
    return {
        "attempted": expected,
        "failed": len(failed) + late_msgs + chk.unknown,
        "missing": chk.missing, "duplicated": chk.duplicated, "wrong": len(chk.wrong),
        "unknown": chk.unknown, "late": late_msgs,
        "latencies": latencies,
        "drain_commits": sorted(seg_visible.get(s["seg"], float("inf")) - s["landed"]
                                for s in drain),
        "drain_msgs": sum(s["n"] for s in drain),
        "drain_s": drain_end - min(s["landed"] for s in drain),
        "measured_msgs": sum(s["n"] for s in drain + by_phase["open"]),
        "backlog_max": max(backlog, default=0),
        "epochs": len(visible),
        "epoch_phase": {e: s["phase"] for s in segments for e in seg_epochs.get(s["seg"], ())},
        "segments": segments,
    }


def _layers(res, progress, run_dir, out_dir, srv0, srv1, port, t_measure) -> dict:
    """Per-layer numbers for the measured phases (all but the event log's)."""
    from kafka_stream_service_spark import codec
    from kafka_stream_service_spark.grpc_function import pb_decode_message, pb_encode_message

    phase = res["epoch_phase"]
    batches = [p for p in progress if p["numInputRows"] > 0]
    measured = [p for p in batches if phase.get(p["batchId"]) in ("open", "drain")]
    open_b = [p for p in batches if phase.get(p["batchId"]) == "open"]

    def dur(key):
        return [p["durationMs"].get(key, 0) for p in open_b]

    m = {
        "sources.batches": len(measured),
        "sources.rows_per_batch_p50": tracing.median(p["numInputRows"] for p in measured),
        "sources.latest_offset_ms_p50": tracing.median(dur("latestOffset")),
        "sources.get_batch_ms_p50": tracing.median(dur("getBatch")),
        "sources.backlog_segments_max": res["backlog_max"],
        "generator.late_s_max": res["late_max"],
        "streaming.query_planning_ms_p50": tracing.median(dur("queryPlanning")),
        "streaming.wal_commit_ms_p50": tracing.median(dur("walCommit")),
        "streaming.commit_offsets_ms_p50": tracing.median(dur("commitOffsets")),
        "streaming.trigger_ms_p50": tracing.median(dur("triggerExecution")),
        "streaming.trigger_ms_p90": tracing.pct(dur("triggerExecution"), 0.9),
        "eos.add_batch_ms_p50": tracing.median(dur("addBatch")),
        "eos.epochs_committed": res["epochs"],
        "eos.epochs_skipped": max(0, len(batches) - res["epochs"]),
    }
    files = glob.glob(os.path.join(out_dir, "batch_id=*", "*.parquet"))
    m["eos.files_per_epoch"] = len(files) / max(res["epochs"], 1)
    m["eos.bytes_per_msg"] = sum(os.path.getsize(f) for f in files) / res["attempted"]

    # transform: the spans the wrapped function recorded in the workers
    calls = [c for c in tracing.read_calls(os.path.join(run_dir, "fn_calls.txt"))
             if c[0] >= t_measure]
    n_called = max(sum(c[2] for c in calls), 1)
    m["transform.fn_us_per_msg"] = 1e6 * sum(c[1] for c in calls) / n_called
    m["transform.fn_calls_per_batch"] = len(calls) / max(len(measured), 1)

    # codec: replay every open-loop segment and a sample of the drain
    # segments, one segment (one Arrow batch) per cache, each drain
    # segment weighted for the drain segments not replayed
    def frames_of(seg: dict) -> list[bytes]:
        path = os.path.join(run_dir, "src", f"seg-{seg['seg']:05d}.parquet")
        return pq.read_table(path, columns=["value"]).column("value").to_pylist()

    open_segs = [s for s in res["segments"] if s["phase"] == "open"]
    drain_segs = [s for s in res["segments"] if s["phase"] == "drain"]
    sample = [frames_of(s) for s in drain_segs[::4]]
    weight = len(drain_segs) / len(sample)
    m.update(_codec_replay(codec, [(frames_of(s), 1.0) for s in open_segs]
                           + [(fr, weight) for fr in sample]))

    # protobuf, hop and baseline: the sampled drain messages
    frames = [f for fr in sample for f in fr]
    decoded = [codec.decode_py(f) for f in frames]
    t = time.perf_counter()
    pbs = [pb_encode_message(h, p) for h, p in decoded]
    m["grpc_function.pb_encode_us_per_msg"] = 1e6 * (time.perf_counter() - t) / len(frames)
    t = time.perf_counter()
    for b in pbs:
        pb_decode_message(b)
    m["grpc_function.pb_decode_us_per_msg"] = 1e6 * (time.perf_counter() - t) / len(frames)
    m["h2grpc.roundtrip_us_per_msg"] = _roundtrip_us(decoded, port)
    served = max(srv1["msgs"] - srv0["msgs"], 1)
    m["h2grpc.wire_bytes_per_msg"] = (srv1["wire_bytes"] - srv0["wire_bytes"]) / served
    m["h2grpc.connections"] = srv1["connections"] - srv0["connections"]
    m["server.cpu_us_per_msg"] = 1e6 * (srv1["cpu_s"] - srv0["cpu_s"]) / served
    m["baseline.single_thread_msgs_per_s"] = _baseline(codec, frames)
    m["process.cpu_us_per_op"] = 1e6 * res["cpu_s"] / res["measured_msgs"]
    m["process.peak_rss_mb"] = res["peak_rss_mb"]
    return m


def _codec_replay(codec, weighted: list[tuple[list[bytes], float]]) -> dict:
    """decode and encode each segment's frames with one prefix cache per
    segment (a segment is one micro-batch of at most
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` messages, so one
    Arrow batch); each segment counts ``weight`` times."""
    n = dec_s = enc_s = dec_hits = enc_hits = 0.0
    for frames, w in weighted:
        cache: dict = {}
        t = time.perf_counter()
        decoded = [codec.decode_with_prefix_cache(f, cache) for f in frames]
        dec_s += w * (time.perf_counter() - t)
        cache = {}
        hits = 0
        for f in frames:  # hit count, untimed
            if any(f.startswith(p) for p in cache):
                hits += 1
            else:
                codec.decode_with_prefix_cache(f, cache)
        upper = [(h, p.upper()) for h, p in decoded]
        cache = {}
        t = time.perf_counter()
        for h, p in upper:
            codec.encode_with_prefix_cache(h, p, cache)
        enc_s += w * (time.perf_counter() - t)
        keys: set = set()
        for h, _ in upper:
            key = tuple((k, tuple(v)) for k, v in h.items())
            enc_hits += w * (key in keys)
            keys.add(key)
        dec_hits += w * hits
        n += w * len(frames)
    return {
        "codec.decode_us_per_msg": 1e6 * dec_s / n,
        "codec.encode_us_per_msg": 1e6 * enc_s / n,
        "codec.decode_cache_hit_ratio": dec_hits / n,
        "codec.encode_cache_hit_ratio": enc_hits / n,
    }


def _baseline(codec, frames: list[bytes]) -> float:
    """One plain Python loop: decode -> uppercase -> encode."""
    t = time.perf_counter()
    for f in frames:
        h, p = codec.decode_py(f)
        codec.encode_py(h, p.decode("utf-8").upper().encode("utf-8"))
    return len(frames) / (time.perf_counter() - t)


def _roundtrip_us(messages, port: int) -> float:
    from kafka_stream_service_spark.grpc_function import call_stream
    from kafka_stream_service_spark.h2grpc import H2GrpcChannel

    channel = H2GrpcChannel("127.0.0.1", port)
    try:
        t = time.perf_counter()
        n = sum(1 for _ in call_stream(channel, messages))
        return 1e6 * (time.perf_counter() - t) / max(n, 1)
    finally:
        channel.close()


def _eventlog_layers(run_dir: str, res: dict) -> dict:
    log = tracing.EventLog(tracing.read_event_log(os.path.join(run_dir, "eventlog")))
    phase = res["epoch_phase"]

    def batch_of(desc: str):
        tail = desc.rsplit("batch = ", 1)
        return int(tail[1]) if len(tail) == 2 and tail[1].isdigit() else None

    jobs = [j for j in log.jobs.values() if phase.get(batch_of(j["desc"])) in ("open", "drain")]
    n_batches = len({batch_of(j["desc"]) for j in jobs}) or 1
    totals = log.stage_totals(jobs)
    return {
        "pipeline.python_crossings_per_batch":
            tracing.median(log.python_nodes(d) for d in {j["desc"] for j in jobs}),
        "pipeline.python_bytes_per_msg": totals["py_bytes"] / res["measured_msgs"],
        "pipeline.tasks_per_batch": totals["tasks"] / n_batches,
    }
