"""The per-record function slot (reference parity for R8/R9).

The reference streams every record through a bidirectional gRPC call to an
external "function" process (StreamsApplication.java:179-190, host/port
config at :54-64, identity bypass via ``grpc.enabled=false`` at :180,188).

Spark-native re-expression: the spine's single ``mapInPandas`` body
(``pipeline._spine``) decodes each Arrow batch, calls the function on it
and encodes the result, which gives exactly the lifecycle the reference's
channel needs —

- one function call per Arrow batch of up to 10k records, not one per
  record;
- Arrow-batched transfer across the process boundary (the reference pays a
  per-record protobuf hop; we pay one Arrow batch per ~10k records);
- 1-in-1-out ordering within each batch, which is the reference's only
  correlation mechanism (responses correlated by stream order,
  StreamsApplication.java:185-187).

The "function" is pluggable: any ``MessageFunction`` (pandas batch ->
pandas batch over columns ``headers``/``payload``). An in-process function
is passed as the slot itself; ``RemoteFunction`` reaches a function server
over the wire, and a server it cannot reach fails the call.
"""
from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd

from .grpc_function import call_stream
from .h2grpc import H2GrpcChannel

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

    ``transport`` has one value, "h2-stdlib": the stdlib HTTP/2 transport
    (h2grpc.py), a real TCP hop speaking the public gRPC wire format.
    """

    host: str = "localhost"
    port: int = 10382
    enabled: bool = True
    transport: str = "h2-stdlib"


class RemoteFunction:
    """The gRPC function slot: each call streams its batch through the riff
    bidirectional ``Call`` (``grpc_function.call_stream``,
    StreamsApplication.java:185-187 semantics: responses correlated by
    stream order, 1-in-1-out) on a channel of its own, closed when the
    call returns or fails.

    A channel per call, not per worker: a loopback dial costs about 1–3%
    of a 1k-message call (SCALE.md, "Streaming"), and a broken channel is
    never reused.
    """

    def __init__(self, config: FunctionConfig):
        if config.transport != "h2-stdlib":
            raise ValueError(
                f"unknown transport {config.transport!r}: the only one is 'h2-stdlib' "
                "('auto', 'grpcio' and 'local' were removed; pass an in-process "
                "function as the pipeline's fn instead)"
            )
        self.config = config

    def __call__(self, batch: pd.DataFrame) -> pd.DataFrame:
        requests = (
            (dict(h) if h is not None else {}, bytes(p) if p is not None else b"")
            for h, p in zip(batch["headers"], batch["payload"])
        )
        channel = H2GrpcChannel(self.config.host, self.config.port)
        try:
            responses = list(call_stream(channel, requests))
        finally:
            channel.close()
        if len(responses) != len(batch):
            raise RuntimeError(
                f"function server broke 1-in-1-out: sent {len(batch)}, got {len(responses)}"
            )
        out = batch.copy()
        out["headers"] = [h for h, _ in responses]
        out["payload"] = [p for _, p in responses]
        return out
