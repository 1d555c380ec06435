"""Echo-server probe of the function hop's call sizes.

    PYTHONPATH=<checkout> python hop_probe.py

One channel per call, raw-byte messages, the client's socket timeout at
10 s; prints ``count size ok seconds`` or ``count size FAIL error seconds``.
"""
import time

from kafka_stream_service_spark.h2grpc import H2GrpcChannel, H2GrpcServer

srv = H2GrpcServer(lambda r: r)
for n, size in [(7000, 1024), (8500, 1024), (10000, 1024), (3000, 4096), (1000, 10240),
                (200, 1 << 20)]:
    ch = H2GrpcChannel("127.0.0.1", srv.port)
    ch.sock.settimeout(10)
    msgs = [bytes([i % 256]) * size for i in range(n)]
    t = time.time()
    try:
        out = list(ch.stream_stream("/x", bytes, bytes)(iter(msgs)))
        print(n, size, out == msgs, round(time.time() - t, 2))
    except Exception as e:
        print(n, size, "FAIL", type(e).__name__, round(time.time() - t, 2))
    ch.close()
srv.close()
