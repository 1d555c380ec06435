"""The per-record function slot (reference parity for R8/R9).

The reference streams every record through a bidirectional gRPC call to an
external "function" process (StreamsApplication.java:179-190, host/port
config at :54-64, identity bypass via ``grpc.enabled=false`` at :180,188).

Spark-native re-expression: the spine's single ``mapInPandas`` body
(``pipeline._spine``) decodes each Arrow batch, calls the function on it
and encodes the result, which gives exactly the lifecycle the reference's
channel needs —

- per-executor-task setup/teardown (the gRPC channel equivalent opens once
  per partition, not per record);
- Arrow-batched transfer across the process boundary (the reference pays a
  per-record protobuf hop; we pay one Arrow batch per ~10k records);
- 1-in-1-out ordering within each batch, which is the reference's only
  correlation mechanism (responses correlated by stream order,
  StreamsApplication.java:185-187).

The "function" is pluggable: any ``MessageFunction`` (pandas batch ->
pandas batch over columns ``headers``/``payload``). ``RemoteFunction``
shows the per-executor-connection pattern, with a local fallback for
when no gRPC transport is available.
"""
from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd

# A message function maps a pandas batch with columns (headers, payload) to
# a batch with the same columns — the Spark analog of
# transform(Flux<Message>) -> Flux<Message>. The input's header dicts are
# read-only: the spine's decoder shares one dict among every record with
# the same header section, so changing one in place would change them all.
# Return new dicts for changed headers instead.
MessageFunction = Callable[[pd.DataFrame], pd.DataFrame]


def uppercase_function(batch: pd.DataFrame) -> pd.DataFrame:
    """The reference demo function (topic name `uppercase`,
    StreamsApplication.java:103): uppercases the UTF-8 payload."""
    out = batch.copy()
    out["payload"] = [bytes(p).decode("utf-8").upper().encode("utf-8") for p in batch["payload"]]
    return out


def identity_function(batch: pd.DataFrame) -> pd.DataFrame:
    """R9 identity bypass (grpc.enabled=false => pass-through)."""
    return batch


@dataclass
class FunctionConfig:
    """Mirror of the reference's @ConfigurationProperties("grpc")
    (StreamsApplication.java:42-64): host/port of the function server and
    the enabled flag.

    ``transport`` selects the wire: "auto" uses grpcio when importable
    and otherwise the local fallback (the safe default — the default
    host:port points at nothing in this container); "grpcio" forces the
    grpc.Channel path; "h2-stdlib" forces the dependency-free HTTP/2
    transport (h2grpc.py) — a REAL loopback TCP hop speaking the public
    gRPC wire format, which is how the live leg of R8 is exercised in
    containers without grpcio; "local" forces the in-process fallback.
    """

    host: str = "localhost"
    port: int = 10382
    enabled: bool = True
    transport: str = "auto"


class RemoteFunction:
    """Per-executor remote-function client (the gRPC slot).

    The client connects lazily on first batch inside the executor task —
    the same lifecycle as the reference's per-subscription channel
    (StreamsApplication.java:181-184). With a live channel every batch
    streams through the riff bidirectional ``Call``
    (``grpc_function.call_stream``, StreamsApplication.java:185-187
    semantics: responses correlated by stream order, 1-in-1-out); when
    ``grpcio`` is not importable (this container) it falls back to a local
    callable, keeping the distributed plumbing (lazy init, per-batch
    calls, teardown) identical on both paths.
    """

    def __init__(self, config: FunctionConfig, local_fallback: MessageFunction = uppercase_function):
        self.config = config
        self.local_fallback = local_fallback
        self._channel = None

    def connect(self):
        if self._channel is None:
            mode = getattr(self.config, "transport", "auto")
            if mode == "local":
                self._channel = "local"
            elif mode == "h2-stdlib":
                from .h2grpc import H2GrpcChannel

                self._channel = H2GrpcChannel(self.config.host, self.config.port)
            else:
                try:
                    import grpc  # type: ignore[import-not-found]

                    self._channel = grpc.insecure_channel(
                        f"{self.config.host}:{self.config.port}"
                    )
                except ImportError:
                    if mode == "grpcio":
                        raise
                    self._channel = "local"
        return self._channel

    def __call__(self, batch: pd.DataFrame) -> pd.DataFrame:
        channel = self.connect()
        if channel == "local" or channel is None:
            return self.local_fallback(batch)
        from .grpc_function import call_stream

        requests = (
            (dict(h) if h is not None else {}, bytes(p) if p is not None else b"")
            for h, p in zip(batch["headers"], batch["payload"])
        )
        responses = list(call_stream(channel, requests))
        if len(responses) != len(batch):
            raise RuntimeError(
                f"function server broke 1-in-1-out: sent {len(batch)}, got {len(responses)}"
            )
        out = batch.copy()
        out["headers"] = [h for h, _ in responses]
        out["payload"] = [p for _, p in responses]
        return out

    def close(self):
        if self._channel not in (None, "local"):
            self._channel.close()
        self._channel = None
