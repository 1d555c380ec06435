"""A minimal stdlib HTTP/2 transport for the riff gRPC Call method: the
function slot's one wire, with no ``grpcio`` dependency.

The reference's function hop is a bidirectional gRPC call
(StreamsApplication.java:179-190). gRPC's transport is just HTTP/2
(RFC 9113) + HPACK (RFC 7541) + a 5-byte message prefix (the public gRPC
wire spec), all implementable on ``socket``/``struct`` — so this module
implements the subset both ends of a loopback hop need:

- connection preface / SETTINGS exchange / PING-ack / GOAWAY;
- HEADERS with HPACK: encoder emits literal-without-indexing with plain
  (non-Huffman) strings; decoder handles indexed (full static table +
  dynamic insertions), all literal forms, and plain strings — Huffman
  DECODE is implemented too (RFC 7541 Appendix B) since real gRPC peers
  Huffman-encode aggressively;
- DATA with gRPC length-prefixed framing, END_STREAM half-close,
  trailers (HEADERS frame with END_STREAM carrying grpc-status).

Framing: a sender packs gRPC messages back to back into full 16 KB
DATA frames, so the per-frame cost (a write, the peer's reads, its
credit) is paid per 16 KB, not per message. The client sends its whole
request body at once; the server holds its responses until a full frame
is pending, and sends a partial one only when its handler is about to
wait for a request that has not arrived (so an interactive peer always
gets the answers to what it sent) and before the trailers.

Flow control: both ends advertise SETTINGS_INITIAL_WINDOW_SIZE=2^31-1
and lift the connection window to the same ceiling right after the
preface, so senders never stall on loopback. The client credits each
DATA frame (connection and stream WINDOW_UPDATE in one write) as it
reads it; the server credits the request bytes its handler has taken in
the stream thread's next write, so its connection reader never waits on
a write and keeps reading a body the client is still sending while the
stream thread is blocked sending responses. This is the documented
simplification that keeps the module under 600 lines instead of a
general-purpose stack: it is a LOOPBACK/TEST transport for the riff
method, not an internet-facing HTTP/2 implementation (no PUSH, no
priorities, no padding emission, one concurrent stream per call).

``H2GrpcChannel.call`` runs one call; ``grpc_function.call_stream``
calls it with the riff method and codec. ``transform.RemoteFunction``
opens one channel per call and closes it (GOAWAY, then the socket) when
the call ends.
"""

from __future__ import annotations

import queue
import socket
import struct
import threading
from collections.abc import Callable, Iterable, Iterator

# ---------------------------------------------------------------- frames

_PREFACE = b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n"
_DATA, _HEADERS, _RST, _SETTINGS, _PING, _GOAWAY, _WINDOW_UPDATE = 0, 1, 3, 4, 6, 7, 8
_END_STREAM, _ACK, _END_HEADERS = 0x1, 0x1, 0x4
_MAX_FRAME = 16384
_BIG_WINDOW = 2**31 - 1


def _frame(ftype: int, flags: int, stream_id: int, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload))[1:] + bytes([ftype, flags]) + struct.pack(
        ">I", stream_id & 0x7FFFFFFF
    ) + payload


def _read_exact(sock: socket.socket, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("peer closed")
        buf += chunk
    return bytes(buf)


def _read_frame(sock: socket.socket) -> tuple[int, int, int, bytes]:
    head = _read_exact(sock, 9)
    length = int.from_bytes(head[:3], "big")
    ftype, flags = head[3], head[4]
    stream_id = int.from_bytes(head[5:9], "big") & 0x7FFFFFFF
    return ftype, flags, stream_id, _read_exact(sock, length) if length else b""


# ---------------------------------------------------------------- HPACK

_STATIC_TABLE: list[tuple[str, str]] = [
    (":authority", ""), (":method", "GET"), (":method", "POST"),
    (":path", "/"), (":path", "/index.html"), (":scheme", "http"),
    (":scheme", "https"), (":status", "200"), (":status", "204"),
    (":status", "206"), (":status", "304"), (":status", "400"),
    (":status", "404"), (":status", "500"), ("accept-charset", ""),
    ("accept-encoding", "gzip, deflate"), ("accept-language", ""),
    ("accept-ranges", ""), ("accept", ""), ("access-control-allow-origin", ""),
    ("age", ""), ("allow", ""), ("authorization", ""), ("cache-control", ""),
    ("content-disposition", ""), ("content-encoding", ""),
    ("content-language", ""), ("content-length", ""), ("content-location", ""),
    ("content-range", ""), ("content-type", ""), ("cookie", ""), ("date", ""),
    ("etag", ""), ("expect", ""), ("expires", ""), ("from", ""), ("host", ""),
    ("if-match", ""), ("if-modified-since", ""), ("if-none-match", ""),
    ("if-range", ""), ("if-unmodified-since", ""), ("last-modified", ""),
    ("link", ""), ("location", ""), ("max-forwards", ""),
    ("proxy-authenticate", ""), ("proxy-authorization", ""), ("range", ""),
    ("referer", ""), ("refresh", ""), ("retry-after", ""), ("server", ""),
    ("set-cookie", ""), ("strict-transport-security", ""),
    ("transfer-encoding", ""), ("user-agent", ""), ("vary", ""), ("via", ""),
    ("www-authenticate", ""),
]

# RFC 7541 Appendix B Huffman code (symbol -> (code, bits)); table data is
# public spec content. Stored compactly as (bits, code) per symbol 0..256.
_HUFF = [
    (13, 0x1FF8), (23, 0x7FFFD8), (28, 0xFFFFFE2), (28, 0xFFFFFE3),
    (28, 0xFFFFFE4), (28, 0xFFFFFE5), (28, 0xFFFFFE6), (28, 0xFFFFFE7),
    (28, 0xFFFFFE8), (24, 0xFFFFEA), (30, 0x3FFFFFFC), (28, 0xFFFFFE9),
    (28, 0xFFFFFEA), (30, 0x3FFFFFFD), (28, 0xFFFFFEB), (28, 0xFFFFFEC),
    (28, 0xFFFFFED), (28, 0xFFFFFEE), (28, 0xFFFFFEF), (28, 0xFFFFFF0),
    (28, 0xFFFFFF1), (28, 0xFFFFFF2), (30, 0x3FFFFFFE), (28, 0xFFFFFF3),
    (28, 0xFFFFFF4), (28, 0xFFFFFF5), (28, 0xFFFFFF6), (28, 0xFFFFFF7),
    (28, 0xFFFFFF8), (28, 0xFFFFFF9), (28, 0xFFFFFFA), (28, 0xFFFFFFB),
    (6, 0x14), (10, 0x3F8), (10, 0x3F9), (12, 0xFFA), (13, 0x1FF9),
    (6, 0x15), (8, 0xF8), (11, 0x7FA), (10, 0x3FA), (10, 0x3FB), (8, 0xF9),
    (11, 0x7FB), (8, 0xFA), (6, 0x16), (6, 0x17), (6, 0x18), (5, 0x0),
    (5, 0x1), (5, 0x2), (6, 0x19), (6, 0x1A), (6, 0x1B), (6, 0x1C),
    (6, 0x1D), (6, 0x1E), (6, 0x1F), (7, 0x5C), (8, 0xFB), (15, 0x7FFC),
    (6, 0x20), (12, 0xFFB), (10, 0x3FC), (13, 0x1FFA), (6, 0x21), (7, 0x5D),
    (7, 0x5E), (7, 0x5F), (7, 0x60), (7, 0x61), (7, 0x62), (7, 0x63),
    (7, 0x64), (7, 0x65), (7, 0x66), (7, 0x67), (7, 0x68), (7, 0x69),
    (7, 0x6A), (7, 0x6B), (7, 0x6C), (7, 0x6D), (7, 0x6E), (7, 0x6F),
    (7, 0x70), (7, 0x71), (7, 0x72), (8, 0xFC), (7, 0x73), (8, 0xFD),
    (13, 0x1FFB), (19, 0x7FFF0), (13, 0x1FFC), (14, 0x3FFC), (6, 0x22),
    (15, 0x7FFD), (5, 0x3), (6, 0x23), (5, 0x4), (6, 0x24), (5, 0x5),
    (6, 0x25), (6, 0x26), (6, 0x27), (5, 0x6), (7, 0x74), (7, 0x75),
    (6, 0x28), (6, 0x29), (6, 0x2A), (5, 0x7), (6, 0x2B), (7, 0x76),
    (6, 0x2C), (5, 0x8), (5, 0x9), (6, 0x2D), (7, 0x77), (7, 0x78),
    (7, 0x79), (7, 0x7A), (7, 0x7B), (15, 0x7FFE), (11, 0x7FC),
    (14, 0x3FFD), (13, 0x1FFD), (28, 0xFFFFFFC), (20, 0xFFFE6),
    (22, 0x3FFFD2), (20, 0xFFFE7), (20, 0xFFFE8), (22, 0x3FFFD3),
    (22, 0x3FFFD4), (22, 0x3FFFD5), (23, 0x7FFFD9), (22, 0x3FFFD6),
    (23, 0x7FFFDA), (23, 0x7FFFDB), (23, 0x7FFFDC), (23, 0x7FFFDD),
    (23, 0x7FFFDE), (24, 0xFFFFEB), (23, 0x7FFFDF), (24, 0xFFFFEC),
    (24, 0xFFFFED), (22, 0x3FFFD7), (23, 0x7FFFE0), (24, 0xFFFFEE),
    (23, 0x7FFFE1), (23, 0x7FFFE2), (23, 0x7FFFE3), (23, 0x7FFFE4),
    (21, 0x1FFFDC), (22, 0x3FFFD8), (23, 0x7FFFE5), (22, 0x3FFFD9),
    (23, 0x7FFFE6), (23, 0x7FFFE7), (24, 0xFFFFEF), (22, 0x3FFFDA),
    (21, 0x1FFFDD), (20, 0xFFFE9), (22, 0x3FFFDB), (22, 0x3FFFDC),
    (23, 0x7FFFE8), (23, 0x7FFFE9), (21, 0x1FFFDE), (23, 0x7FFFEA),
    (22, 0x3FFFDD), (22, 0x3FFFDE), (24, 0xFFFFF0), (21, 0x1FFFDF),
    (22, 0x3FFFDF), (23, 0x7FFFEB), (23, 0x7FFFEC), (21, 0x1FFFE0),
    (21, 0x1FFFE1), (22, 0x3FFFE0), (21, 0x1FFFE2), (23, 0x7FFFED),
    (22, 0x3FFFE1), (23, 0x7FFFEE), (23, 0x7FFFEF), (20, 0xFFFEA),
    (22, 0x3FFFE2), (22, 0x3FFFE3), (22, 0x3FFFE4), (23, 0x7FFFF0),
    (22, 0x3FFFE5), (22, 0x3FFFE6), (23, 0x7FFFF1), (26, 0x3FFFFE0),
    (26, 0x3FFFFE1), (20, 0xFFFEB), (19, 0x7FFF1), (22, 0x3FFFE7),
    (23, 0x7FFFF2), (22, 0x3FFFE8), (25, 0x1FFFFEC), (26, 0x3FFFFE2),
    (26, 0x3FFFFE3), (26, 0x3FFFFE4), (27, 0x7FFFFDE), (27, 0x7FFFFDF),
    (26, 0x3FFFFE5), (24, 0xFFFFF1), (25, 0x1FFFFED), (19, 0x7FFF2),
    (21, 0x1FFFE3), (26, 0x3FFFFE6), (27, 0x7FFFFE0), (27, 0x7FFFFE1),
    (26, 0x3FFFFE7), (27, 0x7FFFFE2), (24, 0xFFFFF2), (21, 0x1FFFE4),
    (21, 0x1FFFE5), (26, 0x3FFFFE8), (26, 0x3FFFFE9), (28, 0xFFFFFFD),
    (27, 0x7FFFFE3), (27, 0x7FFFFE4), (27, 0x7FFFFE5), (20, 0xFFFEC),
    (24, 0xFFFFF3), (20, 0xFFFED), (21, 0x1FFFE6), (22, 0x3FFFE9),
    (21, 0x1FFFE7), (21, 0x1FFFE8), (23, 0x7FFFF3), (22, 0x3FFFEA),
    (22, 0x3FFFEB), (25, 0x1FFFFEE), (25, 0x1FFFFEF), (24, 0xFFFFF4),
    (24, 0xFFFFF5), (26, 0x3FFFFEA), (23, 0x7FFFF4), (26, 0x3FFFFEB),
    (27, 0x7FFFFE6), (26, 0x3FFFFEC), (26, 0x3FFFFED), (27, 0x7FFFFE7),
    (27, 0x7FFFFE8), (27, 0x7FFFFE9), (27, 0x7FFFFEA), (27, 0x7FFFFEB),
    (28, 0xFFFFFFE), (27, 0x7FFFFEC), (27, 0x7FFFFED), (27, 0x7FFFFEE),
    (27, 0x7FFFFEF), (27, 0x7FFFFF0), (26, 0x3FFFFEE), (30, 0x3FFFFFFF),
]
_HUFF_DECODE = {(bits, code): sym for sym, (bits, code) in enumerate(_HUFF)}


def _huffman_decode(data: bytes) -> bytes:
    out = bytearray()
    code, bits = 0, 0
    for byte in data:
        for i in range(7, -1, -1):
            code = (code << 1) | ((byte >> i) & 1)
            bits += 1
            sym = _HUFF_DECODE.get((bits, code))
            if sym is not None:
                if sym == 256:
                    raise ValueError("EOS symbol inside huffman string")
                out.append(sym)
                code, bits = 0, 0
    # trailing bits must be a prefix of EOS (all ones), <= 7 bits
    if bits > 7 or code != (1 << bits) - 1:
        raise ValueError("bad huffman padding")
    return bytes(out)


def _int_encode(value: int, prefix_bits: int, top: int) -> bytes:
    limit = (1 << prefix_bits) - 1
    if value < limit:
        return bytes([top | value])
    out = bytearray([top | limit])
    value -= limit
    while value >= 128:
        out.append((value % 128) | 0x80)
        value //= 128
    out.append(value)
    return bytes(out)


def _int_decode(data: bytes, pos: int, prefix_bits: int) -> tuple[int, int]:
    limit = (1 << prefix_bits) - 1
    value = data[pos] & limit
    pos += 1
    if value < limit:
        return value, pos
    shift = 0
    while True:
        b = data[pos]
        pos += 1
        value += (b & 0x7F) << shift
        shift += 7
        if not (b & 0x80):
            return value, pos


def hpack_encode(headers: list[tuple[str, str]]) -> bytes:
    """Literal-without-indexing, plain strings — the simplest conformant
    encoding (decoders MUST support it)."""
    out = bytearray()
    for name, value in headers:
        out.append(0x00)
        nb, vb = name.encode(), value.encode()
        out += _int_encode(len(nb), 7, 0x00) + nb
        out += _int_encode(len(vb), 7, 0x00) + vb
    return bytes(out)


class HpackDecoder:
    def __init__(self):
        self.dynamic: list[tuple[str, str]] = []

    def _lookup(self, idx: int) -> tuple[str, str]:
        if 1 <= idx <= len(_STATIC_TABLE):
            return _STATIC_TABLE[idx - 1]
        didx = idx - len(_STATIC_TABLE) - 1
        if 0 <= didx < len(self.dynamic):
            return self.dynamic[didx]
        raise ValueError(f"bad HPACK index {idx}")

    def _string(self, data: bytes, pos: int) -> tuple[str, int]:
        huff = bool(data[pos] & 0x80)
        length, pos = _int_decode(data, pos, 7)
        raw = data[pos : pos + length]
        pos += length
        return (_huffman_decode(raw) if huff else raw).decode(), pos

    def decode(self, data: bytes) -> list[tuple[str, str]]:
        out: list[tuple[str, str]] = []
        pos = 0
        while pos < len(data):
            b = data[pos]
            if b & 0x80:  # indexed
                idx, pos = _int_decode(data, pos, 7)
                out.append(self._lookup(idx))
            elif b & 0x40:  # literal with incremental indexing
                idx, pos = _int_decode(data, pos, 6)
                name = self._lookup(idx)[0] if idx else None
                if name is None:
                    name, pos = self._string(data, pos)
                value, pos = self._string(data, pos)
                self.dynamic.insert(0, (name, value))
                out.append((name, value))
            elif b & 0x20:  # dynamic table size update
                _, pos = _int_decode(data, pos, 5)
            else:  # literal without indexing (0x00) / never indexed (0x10)
                idx, pos = _int_decode(data, pos, 4)
                name = self._lookup(idx)[0] if idx else None
                if name is None:
                    name, pos = self._string(data, pos)
                value, pos = self._string(data, pos)
                out.append((name, value))
        return out


# ------------------------------------------------------------- messages


def _grpc_frames(message: bytes) -> bytes:
    return b"\x00" + struct.pack(">I", len(message)) + message


class _GrpcMessageBuffer:
    """Reassembles gRPC length-prefixed messages from DATA payloads."""

    def __init__(self):
        self._buf = bytearray()

    def feed(self, data: bytes) -> list[bytes]:
        self._buf += data
        buf, pos, out = self._buf, 0, []
        while len(buf) - pos >= 5:
            if buf[pos] != 0:
                raise ValueError("compressed gRPC frames unsupported")
            stop = pos + 5 + int.from_bytes(buf[pos + 1 : pos + 5], "big")
            if len(buf) < stop:
                break
            out.append(bytes(buf[pos + 5 : stop]))
            pos = stop
        del buf[:pos]
        return out


def _send_settings_and_lift_window(sock: socket.socket, lock: threading.Lock) -> None:
    settings = struct.pack(">HI", 4, _BIG_WINDOW) + struct.pack(">HI", 5, _MAX_FRAME)
    with lock:
        sock.sendall(
            _frame(_SETTINGS, 0, 0, settings)
            + _frame(_WINDOW_UPDATE, 0, 0, struct.pack(">I", _BIG_WINDOW - 65535))
        )


def _data_frames(stream_id: int, payload: bytes, end_stream: bool) -> bytes:
    """``payload`` as DATA frames of at most ``_MAX_FRAME`` bytes, the
    last one carrying END_STREAM if ``end_stream``."""
    chunks = [payload[i : i + _MAX_FRAME] for i in range(0, len(payload), _MAX_FRAME)] or [b""]
    last = len(chunks) - 1
    return b"".join(
        _frame(_DATA, _END_STREAM if (end_stream and i == last) else 0, stream_id, c)
        for i, c in enumerate(chunks)
    )


def _credit(stream_id: int, n: int, end_stream: bool) -> bytes:
    """WINDOW_UPDATE frames giving back ``n`` received DATA bytes to the
    connection and, while it is open, to the stream."""
    upd = struct.pack(">I", n)
    out = _frame(_WINDOW_UPDATE, 0, 0, upd)
    return out if end_stream else out + _frame(_WINDOW_UPDATE, 0, stream_id, upd)


# --------------------------------------------------------------- client


class H2GrpcChannel:
    """Loopback gRPC channel over the stdlib HTTP/2 subset.

    ``call`` runs one bidirectional call; ``grpc_function.call_stream``
    calls it with the riff method and codec. One call at a time; each
    call is a fresh stream on the connection.
    """

    def __init__(self, host: str, port: int, connect_timeout: float = 5.0):
        self.sock = socket.create_connection((host, port), timeout=connect_timeout)
        self.sock.settimeout(30.0)
        self._wlock = threading.Lock()
        self._next_stream = 1
        self._decoder = HpackDecoder()
        self._authority = f"{host}:{port}"
        self.sock.sendall(_PREFACE)
        _send_settings_and_lift_window(self.sock, self._wlock)
        # read server SETTINGS; ack
        ftype, flags, _, payload = _read_frame(self.sock)
        if ftype != _SETTINGS:
            raise ConnectionError(f"expected SETTINGS, got frame type {ftype}")
        with self._wlock:
            self.sock.sendall(_frame(_SETTINGS, _ACK, 0, b""))

    def call(self, method, request_iterator, serialize, deserialize):
        """Send ``request_iterator`` (serialized) as one gRPC call to
        ``method`` and yield its deserialized responses as they arrive."""
        stream_id = self._next_stream
        self._next_stream += 2
        headers = hpack_encode(
            [
                (":method", "POST"),
                (":scheme", "http"),
                (":path", method),
                (":authority", self._authority),
                ("content-type", "application/grpc"),
                ("te", "trailers"),
            ]
        )
        body = b"".join(_grpc_frames(serialize(req)) for req in request_iterator)
        with self._wlock:
            self.sock.sendall(
                _frame(_HEADERS, _END_HEADERS, stream_id, headers)
                + _data_frames(stream_id, body, True)
            )

        # read until trailers with END_STREAM; yield messages as decoded
        buf = _GrpcMessageBuffer()
        status: str | None = None
        while True:
            ftype, flags, sid, payload = _read_frame(self.sock)
            if ftype == _SETTINGS and not (flags & _ACK):
                with self._wlock:
                    self.sock.sendall(_frame(_SETTINGS, _ACK, 0, b""))
            elif ftype == _PING and not (flags & _ACK):
                with self._wlock:
                    self.sock.sendall(_frame(_PING, _ACK, 0, payload))
            elif ftype == _DATA and sid == stream_id:
                if payload:
                    with self._wlock:
                        self.sock.sendall(
                            _credit(stream_id, len(payload), flags & _END_STREAM)
                        )
                for msg in buf.feed(payload):
                    yield deserialize(msg)
            elif ftype == _HEADERS and sid == stream_id:
                for name, value in self._decoder.decode(payload):
                    if name == "grpc-status":
                        status = value
                    if name == ":status" and value != "200":
                        raise ConnectionError(f"HTTP status {value}")
                if flags & _END_STREAM:
                    if status not in (None, "0"):
                        raise ConnectionError(f"grpc-status {status}")
                    return
            elif ftype == _RST and sid == stream_id:
                raise ConnectionError("stream reset by server")
            elif ftype == _GOAWAY:
                raise ConnectionError("server sent GOAWAY")
            # WINDOW_UPDATE / acks / other streams: ignore

    def close(self):
        try:
            with self._wlock:
                self.sock.sendall(_frame(_GOAWAY, 0, 0, struct.pack(">II", 0, 0)))
        except OSError:
            pass
        self.sock.close()


# --------------------------------------------------------------- server


class H2GrpcServer:
    """Threaded loopback gRPC server for one method.

    ``handler(request_iterator) -> response_iterator`` over RAW message
    bytes (the pb codec stays with the caller, mirroring grpc's generic
    handler shape). Serves each connection on a thread and each stream
    on a thread of its own. The connection's reader puts the messages of
    each DATA frame on the stream's queue as one list, so the handler
    sees requests as frames land. Responses are sent in full DATA
    frames; what is pending is sent when the handler is about to wait on
    an empty request queue, and before the trailers, whether the handler
    ends or raises. The handler iterates its requests on the thread that
    iterates its responses, as a generator does. A stream whose peer has
    gone ends without a reply."""

    def __init__(self, handler: Callable[[Iterator[bytes]], Iterable[bytes]],
                 host: str = "127.0.0.1"):
        self.handler = handler
        self._lsock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._lsock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._lsock.bind((host, 0))
        self._lsock.listen(8)
        self.port = self._lsock.getsockname()[1]
        self._closing = False
        threading.Thread(target=self._accept_loop, daemon=True).start()

    def _accept_loop(self):
        while not self._closing:
            try:
                conn, _ = self._lsock.accept()
            except OSError:
                return
            threading.Thread(target=self._serve_conn, args=(conn,), daemon=True).start()

    def _serve_conn(self, sock: socket.socket):
        wlock = threading.Lock()
        try:
            if _read_exact(sock, len(_PREFACE)) != _PREFACE:
                sock.close()
                return
            _send_settings_and_lift_window(sock, wlock)
            decoder = HpackDecoder()
            streams: dict[int, queue.SimpleQueue] = {}
            buffers: dict[int, _GrpcMessageBuffer] = {}

            def run_stream(stream_id: int, q: queue.SimpleQueue):
                pending = bytearray()  # response messages not yet sent
                taken = 0  # request bytes the handler took, not yet credited

                def send(n: int, trailers: list[tuple[str, str]] | None = None) -> None:
                    """Credit the request bytes taken so far, then send the
                    first ``n`` pending bytes as DATA frames, then the
                    ``trailers`` if given, in one write."""
                    nonlocal taken
                    out = _credit(stream_id, taken, trailers is not None) if taken else b""
                    taken = 0
                    if n:
                        out += _data_frames(stream_id, bytes(pending[:n]), False)
                        del pending[:n]
                    if trailers is not None:
                        end = _END_HEADERS | _END_STREAM
                        out += _frame(_HEADERS, end, stream_id, hpack_encode(trailers))
                    with wlock:
                        sock.sendall(out)

                def request_iter():
                    nonlocal taken
                    while True:
                        try:
                            item = q.get_nowait()
                        except queue.Empty:
                            if pending or taken:  # the peer may wait for these first
                                send(len(pending))
                            item = q.get()
                        if item is None:
                            return
                        msgs, nbytes = item
                        taken += nbytes
                        yield from msgs

                try:
                    head = _frame(_HEADERS, _END_HEADERS, stream_id, hpack_encode(
                        [(":status", "200"), ("content-type", "application/grpc")]))
                    with wlock:
                        sock.sendall(head)
                    try:
                        for resp in self.handler(request_iter()):
                            pending += _grpc_frames(resp)
                            if len(pending) >= _MAX_FRAME:
                                send(len(pending) - len(pending) % _MAX_FRAME)
                        trailers = [("grpc-status", "0")]
                    except Exception as e:  # noqa: BLE001 - surfaced as grpc-status
                        trailers = [("grpc-status", "2"), ("grpc-message", str(e)[:200])]
                    send(len(pending), trailers)
                except OSError:
                    return  # the peer has gone: nobody is left to answer

            while True:
                ftype, flags, sid, payload = _read_frame(sock)
                if ftype == _SETTINGS and not (flags & _ACK):
                    with wlock:
                        sock.sendall(_frame(_SETTINGS, _ACK, 0, b""))
                elif ftype == _PING and not (flags & _ACK):
                    with wlock:
                        sock.sendall(_frame(_PING, _ACK, 0, payload))
                elif ftype == _HEADERS and sid:
                    decoder.decode(payload)  # keep dynamic table in sync
                    q: queue.SimpleQueue = queue.SimpleQueue()
                    streams[sid] = q
                    buffers[sid] = _GrpcMessageBuffer()
                    t = threading.Thread(target=run_stream, args=(sid, q), daemon=True)
                    t.start()
                    if flags & _END_STREAM:
                        q.put(None)
                elif ftype == _DATA and sid in streams:
                    if payload:  # credited by the stream thread, see run_stream
                        streams[sid].put((buffers[sid].feed(payload), len(payload)))
                    if flags & _END_STREAM:
                        streams[sid].put(None)
                elif ftype == _GOAWAY:
                    return
        except (ConnectionError, OSError):
            return
        finally:
            sock.close()

    def close(self):
        self._closing = True
        try:
            self._lsock.shutdown(socket.SHUT_RDWR)  # wakes a blocked accept()
        except OSError:
            pass
        self._lsock.close()
