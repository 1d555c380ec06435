"""Spine message content, shared by the generator and the output checker.

Message ``i`` is built from events row ``i mod SPINE_EVENTS``: a ``type``
header holding the event type and the payload ``"{i}|{stamp}|{props}"``.
Messages of a segment built ``with_id`` also carry a unique ``id``
header (the shape of request/reply traffic where each message carries
its own correlation id); without it there are only a handful of header
shapes, so the codec's prefix caches hit. The stamp is the segment's
scheduled creation time, so every committed message carries its own
creation stamp and its index.
"""

from __future__ import annotations

import numpy as np

from config import SPINE_EVENTS
from fixtures import build_events


class MessageSource:
    def __init__(self, seed: int):
        ev = build_events(np.random.default_rng(seed), SPINE_EVENTS)
        self.types = ev["event_type"].tolist()
        self.props = ev["props"].tolist()

    def headers(self, i: int, with_id: bool) -> dict[str, list[str]]:
        h = {"type": [self.types[i % SPINE_EVENTS]]}
        if with_id:
            h["id"] = [f"m{i}"]
        return h

    def payload(self, i: int, stamp: float) -> bytes:
        return f"{i}|{stamp:.6f}|{self.props[i % SPINE_EVENTS]}".encode()


def parse_payload(payload: bytes) -> tuple[int, float]:
    """(index, stamp) of a payload; digits and '.' survive uppercasing."""
    i, stamp, _ = payload.split(b"|", 2)
    return int(i), float(stamp)
