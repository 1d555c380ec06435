"""The remote function server for ``spine_remote``, run as its own process.

    python3 fnserver.py

It serves ``/function.MessageFunction/Call`` over the stdlib HTTP/2
transport (``h2grpc.H2GrpcServer``) with the same handler semantics as
``bench.py``'s ``upper_handler``: decode the protobuf message, uppercase
the UTF-8 payload, keep the headers. It prints its port, then answers
``stats`` on stdin with one JSON line (connections accepted, streams and
messages served, bytes moved on its connections, process CPU seconds)
and exits on ``quit`` or EOF.
"""

from __future__ import annotations

import json
import os
import sys
import threading

from kafka_stream_service_spark.grpc_function import pb_decode_message, pb_encode_message
from kafka_stream_service_spark.h2grpc import H2GrpcServer


class CountingSocket:
    """A connection socket that adds every byte it moves to its server's
    ``wire_bytes``."""

    def __init__(self, sock, server: "CountingServer"):
        self._sock = sock
        self._server = server

    def recv(self, n: int) -> bytes:
        data = self._sock.recv(n)
        self._server.count_bytes(len(data))
        return data

    def sendall(self, data: bytes) -> None:
        self._server.count_bytes(len(data))
        self._sock.sendall(data)

    def __getattr__(self, name):
        return getattr(self._sock, name)


class CountingServer(H2GrpcServer):
    def __init__(self):
        self.lock = threading.Lock()
        self.connections = self.streams = self.msgs = self.wire_bytes = 0
        super().__init__(self.upper_handler)

    def count_bytes(self, n: int) -> None:
        with self.lock:
            self.wire_bytes += n

    def upper_handler(self, request_iterator):
        with self.lock:
            self.streams += 1
        n = 0
        for raw in request_iterator:
            headers, payload = pb_decode_message(raw)
            n += 1
            yield pb_encode_message(headers, payload.decode("utf-8").upper().encode("utf-8"))
        with self.lock:
            self.msgs += n

    def _serve_conn(self, sock):
        with self.lock:
            self.connections += 1
        super()._serve_conn(CountingSocket(sock, self))

    def stats(self) -> dict:
        t = os.times()
        with self.lock:
            return {"connections": self.connections, "streams": self.streams,
                    "msgs": self.msgs, "wire_bytes": self.wire_bytes,
                    "cpu_s": t.user + t.system}


def main() -> int:
    srv = CountingServer()
    print(srv.port, flush=True)
    try:
        for line in sys.stdin:
            if line.strip() == "stats":
                print(json.dumps(srv.stats()), flush=True)
            elif line.strip() == "quit":
                break
    finally:
        srv.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
