"""Open-loop load generator for ``spine_remote``, run as its own process.

    python3 generator.py --seed 1 --dir RUN_DIR

It lands parquet segments of wire-framed messages (``key``, ``value``)
in ``RUN_DIR/src`` by writing a hidden temp file and renaming it, so the
file-stream source never sees a partial file. Commands arrive one per
line on stdin; each is answered with one line on stdout:

- ``warm``: land the warm-up segments now.
- ``open T0 COUNT``: land COUNT open-loop segments on the fixed schedule
  ``T0 + k / OPEN_RATE``. The schedule never waits for the system: a
  segment is stamped with its due time and landed as soon as it can be,
  and the answer reports how late the latest landing ran.
- ``drain``: rename the pre-built drain backlog into ``src`` at once,
  in segment order.
- ``quit``: answer with the manifest (every segment's first message,
  size, stamp and landing time) and exit.

The drain backlog is built before ``ready`` is printed, so the drain
phase measures the pipeline, not the generator.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

from config import DRAIN_MSGS, DRAIN_SEGMENTS, OPEN_MSGS, OPEN_RATE, WARM_SEGMENTS
from messages import MessageSource


class Generator:
    def __init__(self, seed: int, run_dir: str):
        from kafka_stream_service_spark.codec import encode_py

        self.msgs = MessageSource(seed)
        self.encode = encode_py
        self.src = os.path.join(run_dir, "src")
        self.staging = os.path.join(run_dir, "staging")
        os.makedirs(self.src, exist_ok=True)
        os.makedirs(self.staging, exist_ok=True)
        self.next_msg = 0
        self.segments: list[dict] = []
        self.staged: list[tuple[dict, str]] = []

    def _segment(self, phase: str, n: int, with_id: bool,
                 stamp: float) -> tuple[dict, pa.Table]:
        first = self.next_msg
        seg = {"seg": len(self.segments), "phase": phase, "first": first,
               "n": n, "with_id": with_id, "stamp": stamp, "landed": None}
        values = [self.encode(self.msgs.headers(i, with_id), self.msgs.payload(i, stamp))
                  for i in range(first, first + n)]
        table = pa.table({
            "key": pa.array([None] * n, pa.binary()),
            "value": pa.array(values, pa.binary()),
        })
        self.next_msg += n
        self.segments.append(seg)
        return seg, table

    def _land(self, seg: dict, table: pa.Table) -> None:
        name = f"seg-{seg['seg']:05d}.parquet"
        tmp = os.path.join(self.src, f".{name}.tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(self.src, name))
        seg["landed"] = time.time()

    def stage_drain(self) -> None:
        for _ in range(DRAIN_SEGMENTS):
            seg, table = self._segment("drain", DRAIN_MSGS, True, time.time())
            path = os.path.join(self.staging, f"seg-{seg['seg']:05d}.parquet")
            pq.write_table(table, path)
            self.staged.append((seg, path))

    def warm(self) -> str:
        for n, with_id in WARM_SEGMENTS:
            self._land(*self._segment("warm", n, with_id, time.time()))
        return f"landed {len(WARM_SEGMENTS)}"

    def open_loop(self, t0: float, count: int) -> str:
        late_max = 0.0
        for k in range(count):
            due = t0 + k / OPEN_RATE
            seg, table = self._segment("open", OPEN_MSGS, False, due)
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            self._land(seg, table)
            late_max = max(late_max, seg["landed"] - due)
        return f"done {late_max:.6f}"

    def drain(self) -> str:
        now = time.time()
        for k, (seg, path) in enumerate(self.staged):
            # the file source orders files by modification time
            os.utime(path, (now + k * 1e-3, now + k * 1e-3))
            os.rename(path, os.path.join(self.src, os.path.basename(path)))
            seg["landed"] = time.time()
        return f"done {now:.6f}"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dir", required=True)
    args = ap.parse_args()
    gen = Generator(args.seed, args.dir)
    gen.stage_drain()
    print("ready", flush=True)
    for line in sys.stdin:
        cmd, *rest = line.split()
        if cmd == "warm":
            print(gen.warm(), flush=True)
        elif cmd == "open":
            print(gen.open_loop(float(rest[0]), int(rest[1])), flush=True)
        elif cmd == "drain":
            print(gen.drain(), flush=True)
        elif cmd == "quit":
            print(json.dumps(gen.segments), flush=True)
            return 0
        else:
            print(f"error unknown command {cmd!r}", flush=True)
            return 2
    return 1


if __name__ == "__main__":
    sys.exit(main())
