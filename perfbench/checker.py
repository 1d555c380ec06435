"""Output checker for the spine workloads.

Every epoch the sink's ledger lists is decoded with ``codec.decode_py``.
Each generated message must appear exactly once, with its payload
uppercased and its headers unchanged. ``self_test`` feeds the checker a
duplicated epoch and a corrupted epoch and confirms it counts both.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from dataclasses import dataclass, field

from messages import MessageSource, parse_payload


@dataclass
class SpineCheck:
    """Counts per generated message; ``unknown`` counts committed values
    that decode to no generated message; ``epoch_msgs`` maps each
    committed epoch to the message indices it holds."""

    expected: int
    seen: list[int] = field(default_factory=list)
    wrong: set[int] = field(default_factory=set)
    unknown: int = 0
    epoch_msgs: dict[int, list[int]] = field(default_factory=dict)

    def __post_init__(self):
        self.seen = [0] * self.expected

    @property
    def missing(self) -> int:
        return sum(1 for s in self.seen if s == 0)

    @property
    def duplicated(self) -> int:
        return sum(s - 1 for s in self.seen if s > 1)

    def failed_indices(self) -> set[int]:
        """Messages missing, duplicated or wrong in the sink."""
        return {i for i, s in enumerate(self.seen) if s != 1} | self.wrong


def check_epochs(
    epochs: Iterable[tuple[int, Iterable[bytes]]],
    msgs: MessageSource,
    spec_of: Callable[[int], tuple[float, bool]],
    expected: int,
) -> SpineCheck:
    """``epochs`` yields (epoch id, wire values); ``spec_of`` gives a
    message index's creation stamp and whether it carries an ``id``
    header, as the generator recorded them."""
    from kafka_stream_service_spark.codec import decode_py

    chk = SpineCheck(expected)
    for epoch, values in epochs:
        idx = chk.epoch_msgs.setdefault(epoch, [])
        for value in values:
            try:
                headers, payload = decode_py(value)
                i, _ = parse_payload(payload)
            except (ValueError, IndexError):
                chk.unknown += 1
                continue
            if not 0 <= i < expected:
                chk.unknown += 1
                continue
            chk.seen[i] += 1
            idx.append(i)
            stamp, with_id = spec_of(i)
            want = msgs.payload(i, stamp).decode().upper().encode()
            if payload != want or headers != msgs.headers(i, with_id):
                chk.wrong.add(i)
    return chk


def self_test(seed: int) -> bool:
    """A duplicated epoch and a corrupted epoch must both be counted."""
    from kafka_stream_service_spark.codec import encode_py

    msgs = MessageSource(seed)
    def stamps(i: int) -> tuple[float, bool]:
        return 1.5, i % 2 == 1

    def out(i: int, corrupt: bool = False) -> bytes:
        stamp, with_id = stamps(i)
        payload = msgs.payload(i, stamp)
        return encode_py(msgs.headers(i, with_id), payload if corrupt else payload.upper())

    good = [(0, [out(0), out(1)]), (1, [out(2), out(3)])]
    if check_epochs(good, msgs, stamps, 4).failed_indices():
        return False
    dup = check_epochs(good + [(2, [out(2), out(3)])], msgs, stamps, 4)
    bad = check_epochs([(0, [out(0), out(1)]), (1, [out(2), out(3, corrupt=True)])],
                       msgs, stamps, 4)
    return dup.duplicated == 2 and dup.failed_indices() == {2, 3} and \
        bad.wrong == {3} and bad.failed_indices() == {3}
