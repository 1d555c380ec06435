"""The R8 live leg: a real loopback TCP hop speaking the public gRPC wire
format (HTTP/2 + HPACK + length-prefixed messages) via the stdlib
transport (h2grpc.py), the function slot's one wire.
"""

from __future__ import annotations

import math
import socket
import threading

import pandas as pd
import pytest

from kafka_stream_service_spark.grpc_function import (
    GRPC_METHOD,
    call_stream,
    pb_decode_message,
    pb_encode_message,
)
from kafka_stream_service_spark.h2grpc import (
    _DATA,
    _END_HEADERS,
    _END_STREAM,
    _HEADERS,
    _MAX_FRAME,
    _PREFACE,
    _SETTINGS,
    H2GrpcChannel,
    H2GrpcServer,
    HpackDecoder,
    _frame,
    _grpc_frames,
    _huffman_decode,
    _read_frame,
    hpack_encode,
)
from kafka_stream_service_spark.transform import FunctionConfig, RemoteFunction


def _upper_handler(request_iterator):
    for raw in request_iterator:
        headers, payload = pb_decode_message(raw)
        headers = {**headers, "seen": ["1"]}
        yield pb_encode_message(headers, payload.decode("utf-8").upper().encode("utf-8"))


class _TrackingServer(H2GrpcServer):
    """Records the thread serving each accepted connection, before it
    answers anything."""

    def __init__(self, handler):
        self.conn_threads: list[threading.Thread] = []
        super().__init__(handler)

    def _serve_conn(self, sock):
        self.conn_threads.append(threading.current_thread())
        super()._serve_conn(sock)


@pytest.fixture()
def server():
    srv = _TrackingServer(_upper_handler)
    yield srv
    srv.close()


def _batch(n: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "headers": [{"id": [str(i)]} for i in range(n)],
            "payload": [f"msg-{i}".encode() for i in range(n)],
        }
    )


# ----------------------------------------------------------------- hpack


def test_hpack_roundtrip_and_static_table():
    dec = HpackDecoder()
    hdrs = [(":method", "POST"), (":path", GRPC_METHOD), ("content-type", "application/grpc")]
    assert dec.decode(hpack_encode(hdrs)) == hdrs
    # indexed static entries: 2 = :method GET, 8 = :status 200
    assert dec.decode(bytes([0x82, 0x88])) == [(":method", "GET"), (":status", "200")]
    # literal WITH incremental indexing populates the dynamic table,
    # and index 62 then resolves to it
    frag = bytes([0x40, 3]) + b"abc" + bytes([3]) + b"xyz"
    assert dec.decode(frag) == [("abc", "xyz")]
    assert dec.decode(bytes([0x80 | 62])) == [("abc", "xyz")]


def test_huffman_decode_rfc_examples():
    # RFC 7541 C.4.1: "www.example.com"
    data = bytes.fromhex("f1e3c2e5f23a6ba0ab90f4ff")
    assert _huffman_decode(data) == b"www.example.com"
    # C.6.1: "Mon, 21 Oct 2013 20:13:21 GMT"
    data = bytes.fromhex("d07abe941054d444a8200595040b8166e082a62d1bff")
    assert _huffman_decode(data) == b"Mon, 21 Oct 2013 20:13:21 GMT"


# ------------------------------------------------------------- transport


def test_bidi_call_roundtrip_over_tcp(server):
    chan = H2GrpcChannel("127.0.0.1", server.port)
    try:
        msgs = [({"id": [str(i)]}, f"msg-{i}".encode()) for i in range(7)]
        out = list(call_stream(chan, msgs))
        assert [p for _, p in out] == [f"MSG-{i}".encode() for i in range(7)]
        for i, (h, _) in enumerate(out):
            assert h["id"] == [str(i)] and h["seen"] == ["1"]
    finally:
        chan.close()


def test_multiple_calls_reuse_connection(server):
    chan = H2GrpcChannel("127.0.0.1", server.port)
    try:
        for batch in (3, 1, 5):
            msgs = [({}, f"b{batch}-{i}".encode()) for i in range(batch)]
            out = list(call_stream(chan, msgs))
            assert [p for _, p in out] == [f"B{batch}-{i}".encode() for i in range(batch)]
    finally:
        chan.close()


def test_large_payload_spans_frames(server):
    """A payload > the 16 KB HTTP/2 max frame size must chunk across
    DATA frames and reassemble through the gRPC length prefix."""
    chan = H2GrpcChannel("127.0.0.1", server.port)
    try:
        big = (b"abcdefgh" * 8192) + b"tail"  # 64 KB + 4
        ((_, payload),) = list(call_stream(chan, [({}, big)]))
        assert payload == big.upper()
    finally:
        chan.close()


def test_handler_error_surfaces_as_grpc_status(server):
    def boom(request_iterator):
        next(request_iterator)
        raise RuntimeError("kaput")
        yield  # pragma: no cover

    srv = H2GrpcServer(boom)
    try:
        chan = H2GrpcChannel("127.0.0.1", srv.port)
        with pytest.raises(ConnectionError, match="grpc-status 2"):
            list(call_stream(chan, [({}, b"x")]))
        chan.close()
    finally:
        srv.close()


def test_empty_stream_yields_no_responses(server):
    chan = H2GrpcChannel("127.0.0.1", server.port)
    try:
        assert list(call_stream(chan, [])) == []
    finally:
        chan.close()


class _SentBytes:
    """A server connection socket that keeps a copy of every byte the
    server sends on it."""

    def __init__(self, sock, sent: bytearray):
        self._sock = sock
        self._sent = sent

    def sendall(self, data: bytes) -> None:
        self._sent += data
        self._sock.sendall(data)

    def __getattr__(self, name):
        return getattr(self._sock, name)


def _frames_of(data: bytes) -> list[tuple[int, int, int, bytes]]:
    """(type, flags, stream id, payload) of each HTTP/2 frame in ``data``."""
    out, pos = [], 0
    while pos < len(data):
        n = int.from_bytes(data[pos : pos + 3], "big")
        sid = int.from_bytes(data[pos + 5 : pos + 9], "big") & 0x7FFFFFFF
        out.append((data[pos + 3], data[pos + 4], sid, data[pos + 9 : pos + 9 + n]))
        pos += 9 + n
    return out


def test_responses_coalesce_into_full_data_frames():
    """A 2k-message call's responses travel in full 16 KB DATA frames,
    not one frame per message: at most one frame more than their bytes
    fill. The handler reads all its requests before it answers, so it
    never waits on an empty request queue mid-call (where the server
    sends a partial frame, and how often depends on thread timing)."""
    sent = bytearray()

    class _Recording(H2GrpcServer):
        def _serve_conn(self, sock):
            super()._serve_conn(_SentBytes(sock, sent))

    srv = _Recording(lambda requests: _upper_handler(list(requests)))
    try:
        chan = H2GrpcChannel("127.0.0.1", srv.port)
        msgs = [({"id": [f"m{i}"]}, f"message number {i}".encode()) for i in range(2000)]
        try:
            out = list(call_stream(chan, msgs))
        finally:
            chan.close()
    finally:
        srv.close()
    assert [p for _, p in out] == [p.upper() for _, p in msgs]
    data = [f for f in _frames_of(bytes(sent)) if f[0] == _DATA and f[2] == 1]
    response_bytes = sum(len(f[3]) for f in data)
    assert response_bytes > 2000 * 5
    assert len(data) <= math.ceil(response_bytes / _MAX_FRAME) + 1


def test_server_answers_each_request_before_the_next_arrives(server):
    """Ping-pong over raw frames: the client sends one request DATA frame
    at a time, without END_STREAM, and waits for its answer before it
    sends the next. The server must send what it holds when its handler
    waits for a request, or both ends wait forever."""
    with socket.create_connection(("127.0.0.1", server.port), timeout=5) as sock:
        sock.settimeout(5)
        sock.sendall(_PREFACE + _frame(_SETTINGS, 0, 0, b""))
        sock.sendall(_frame(_HEADERS, _END_HEADERS, 1, hpack_encode([
            (":method", "POST"), (":scheme", "http"), (":path", GRPC_METHOD),
            (":authority", "test"), ("content-type", "application/grpc"),
            ("te", "trailers"),
        ])))

        def next_frame_on_stream_1(ftype: int) -> tuple[int, bytes]:
            while True:
                got, flags, sid, payload = _read_frame(sock)  # raises on timeout
                if got == ftype and sid == 1:
                    return flags, payload

        assert next_frame_on_stream_1(_HEADERS)[1]  # response headers
        for i in range(3):
            req = pb_encode_message({"n": [str(i)]}, f"ping {i}".encode())
            sock.sendall(_frame(_DATA, 0, 1, _grpc_frames(req)))
            _, payload = next_frame_on_stream_1(_DATA)
            assert pb_decode_message(payload[5:]) == (
                {"n": [str(i)], "seen": ["1"]}, f"PING {i}".encode())
        sock.sendall(_frame(_DATA, _END_STREAM, 1, b""))
        flags, trailers = next_frame_on_stream_1(_HEADERS)
        assert flags & _END_STREAM
        assert ("grpc-status", "0") in HpackDecoder().decode(trailers)


def test_responses_before_a_handler_error_reach_the_client():
    """Responses the handler yielded before it raised are sent before the
    error trailers, so the client reads them and then the error."""
    def three_then_boom(request_iterator):
        for i, raw in enumerate(request_iterator):
            if i == 3:
                raise RuntimeError("kaput")
            yield raw

    srv = H2GrpcServer(three_then_boom)
    try:
        chan = H2GrpcChannel("127.0.0.1", srv.port)
        msgs = [({}, f"m{i}".encode()) for i in range(10)]
        got = []
        try:
            with pytest.raises(ConnectionError, match="grpc-status 2"):
                for _, payload in call_stream(chan, msgs):
                    got.append(payload)
        finally:
            chan.close()
        assert got == [b"m0", b"m1", b"m2"]
    finally:
        srv.close()


def test_concurrent_calls_keep_order_under_thread_churn(server):
    """More concurrent calls than cores, with the interpreter switching
    threads every 10 µs: the stream threads, the connection readers and
    the partial-frame sends interleave as often as they can, and every
    call still gets exactly its own answers, in order."""
    import sys

    results: dict[int, list[bytes]] = {}

    def one_call(k: int) -> None:
        chan = H2GrpcChannel("127.0.0.1", server.port)
        try:
            msgs = [({"id": [f"{k}-{i}"]}, f"call {k} msg {i}".encode()) for i in range(500)]
            results[k] = [p for _, p in call_stream(chan, msgs)]
        finally:
            chan.close()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=one_call, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert results == {
        k: [f"CALL {k} MSG {i}".encode() for i in range(500)] for k in range(8)
    }


def _raw_call(chan: H2GrpcChannel, requests):
    """A call whose requests and responses are raw message bytes."""
    return chan.stream_stream(GRPC_METHOD, bytes, bytes)(iter(requests))


def test_call_larger_than_the_socket_buffers_completes():
    """A 10k-message call of 1 KB payloads to an echo server: the server
    answers while the client is still writing its body, so its responses
    fill the socket buffers before the client reads any. The server's
    connection reader must keep reading meanwhile, or both ends wait
    until the client's socket timeout."""
    srv = H2GrpcServer(lambda requests: requests)
    try:
        chan = H2GrpcChannel("127.0.0.1", srv.port)
        chan.sock.settimeout(10.0)
        msgs = [i.to_bytes(4, "big") * 256 for i in range(10_000)]
        try:
            assert list(_raw_call(chan, msgs)) == msgs
        finally:
            chan.close()
    finally:
        srv.close()


def test_peer_gone_mid_response_ends_the_stream_quietly(monkeypatch):
    """A client that closes its socket while the server is still sending
    ends the stream without an uncaught error in the server's threads."""
    uncaught = []
    monkeypatch.setattr(threading, "excepthook", uncaught.append)

    def flood(requests):
        next(requests)
        while True:
            yield b"x" * 60_000

    before = set(threading.enumerate())
    srv = H2GrpcServer(flood)
    chan = H2GrpcChannel("127.0.0.1", srv.port)
    responses = _raw_call(chan, [b"go"])
    assert next(responses) == b"x" * 60_000
    chan.sock.close()
    srv.close()
    started = set(threading.enumerate()) - before
    for t in started:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in started)
    assert uncaught == []


# --------------------------------------------------------- RemoteFunction


def test_remote_function_live_leg_stdlib_transport(server):
    """The full R8 slot against a live server: RemoteFunction streams a
    batch through a real TCP hop, preserving 1-in-1-out order."""
    fn = RemoteFunction(FunctionConfig(host="127.0.0.1", port=server.port))
    out = fn(_batch(5))
    assert list(out["payload"]) == [f"MSG-{i}".encode() for i in range(5)]
    for i, h in enumerate(out["headers"]):
        assert h["id"] == [str(i)] and h["seen"] == ["1"]


def test_remote_function_one_channel_per_call(server):
    """Each call dials its own channel and closes it when it returns:
    three calls are three accepted connections, and no server connection
    is left open after the last call."""
    fn = RemoteFunction(FunctionConfig(host="127.0.0.1", port=server.port))
    for n in (3, 1, 4):
        assert list(fn(_batch(n))["payload"]) == [f"MSG-{i}".encode() for i in range(n)]
    assert len(server.conn_threads) == 3
    for t in server.conn_threads:
        t.join(timeout=5)
    assert not any(t.is_alive() for t in server.conn_threads)


def test_remote_function_unreachable_server_raises(spark):
    """A function slot pointed at a server that is not there fails the
    batch; nothing runs in the server's place."""
    from kafka_stream_service_spark.codec import encode_py
    from kafka_stream_service_spark.pipeline import run_pipeline_batch

    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        closed_port = s.getsockname()[1]
    frames = spark.createDataFrame(
        [(None, bytearray(encode_py({}, b"hello")))], "key binary, value binary"
    )
    fn = RemoteFunction(FunctionConfig(host="127.0.0.1", port=closed_port))
    with pytest.raises(Exception, match="ConnectionRefusedError"):
        run_pipeline_batch(frames, fn).collect()


@pytest.mark.parametrize("transport", ["auto", "grpcio", "local"])
def test_remote_function_rejects_removed_transports(transport):
    with pytest.raises(ValueError, match="h2-stdlib"):
        RemoteFunction(FunctionConfig(transport=transport))


def test_remote_function_recovers_after_handler_error():
    """A call that fails on the server raises, and the next call on the
    same RemoteFunction gets a fresh channel and succeeds."""
    streams = []

    def fails_first(request_iterator):
        streams.append(1)
        if len(streams) == 1:
            raise RuntimeError("first stream fails")
        yield from _upper_handler(request_iterator)

    srv = H2GrpcServer(fails_first)
    try:
        fn = RemoteFunction(FunctionConfig(host="127.0.0.1", port=srv.port))
        with pytest.raises(ConnectionError, match="grpc-status 2"):
            fn(_batch(2))
        assert list(fn(_batch(2))["payload"]) == [b"MSG-0", b"MSG-1"]
    finally:
        srv.close()


def test_remote_function_pipeline_parity_over_live_hop(spark, server):
    """End-to-end through Spark: the spine body calls the live function
    server from executor tasks over wire frames, and must equal the
    in-process uppercase path frame for frame, in order; the server's
    extra ``seen`` header is the only difference."""
    from kafka_stream_service_spark.codec import decode_py, encode_py
    from kafka_stream_service_spark.pipeline import run_pipeline_batch
    from kafka_stream_service_spark.transform import uppercase_function

    rows = [(None, bytearray(encode_py({"k": ["v"]}, f"record {i} MiXeD".encode())))
            for i in range(20)]
    frames = spark.createDataFrame(rows, "key binary, value binary")
    remote = RemoteFunction(FunctionConfig(host="127.0.0.1", port=server.port))
    got = [decode_py(bytes(r.value)) for r in run_pipeline_batch(frames, remote).collect()]
    expect = [
        decode_py(bytes(r.value))
        for r in run_pipeline_batch(frames, uppercase_function).collect()
    ]
    assert [p for _, p in got] == [p for _, p in expect]
    assert all(h == {"k": ["v"], "seen": ["1"]} for h, _ in got)
    assert all(h == {"k": ["v"]} for h, _ in expect)


def test_streaming_pipeline_with_live_remote_function(spark, server, tmp_path):
    """The REFERENCE ARCHITECTURE end-to-end, in-container: file-stream
    source -> wire decode -> per-record function hosted in an EXTERNAL
    server reached over a real gRPC/HTTP-2 TCP hop -> wire encode ->
    memory sink. This is the full R1-R17 spine with the R8 leg live
    (StreamsApplication.java:179-190)."""
    from kafka_stream_service_spark.codec import decode_py, encode_py
    from kafka_stream_service_spark.pipeline import PipelineConfig, start_pipeline

    messages = [
        ({"Accept": ["*/*"]}, b"World"),
        ({}, b"hello spark"),
        ({"x": ["1", "2"]}, b"MiXeD CaSe 123"),
    ]
    frames = spark.createDataFrame(
        [(None, bytearray(encode_py(h, p))) for h, p in messages],
        "key binary, value binary",
    )
    src = tmp_path / "in"
    frames.write.parquet(str(src))
    cfg = PipelineConfig(
        source="files",
        sink="memory",
        source_path=str(src),
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="h2_live_pipe",
        function=FunctionConfig(host="127.0.0.1", port=server.port),
    )
    remote = RemoteFunction(cfg.function)
    q = start_pipeline(spark, cfg, remote)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        decode_py(bytes(r.value))[1] for r in spark.table("h2_live_pipe").collect()
    )
    assert got == sorted(p.decode().upper().encode() for _, p in messages)
