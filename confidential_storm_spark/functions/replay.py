"""Per-producer anti-replay sliding window (SURVEY §2.4 V2).

Semantics port of the reference's
``confidentialstorm/enclave/src/main/java/ch/usi/inf/confidentialstorm/enclave/security/ReplayWindow.java``
(accept :44-105): track the highest sequence seen per producer plus a
``WINDOW_SIZE``-bit mask anchored with ``max_seen`` at bit 0;
reject negatives, anything at or below ``max_seen - WINDOW_SIZE``,
and duplicates; a forward jump >= WINDOW_SIZE clears all history.

The state is two values — ``(max_seen: int, mask: int)`` — so it
serializes directly into a Spark state store row (the streaming
operator keeps it as LongType + 16-byte binary).
"""

from __future__ import annotations

__all__ = ["ReplayWindow", "replay_accept"]

WINDOW_SIZE = 128  # ref ReplayWindow.java:9-33


def replay_accept(max_seen: int, mask: int, sequence: int) -> tuple[bool, int, int]:
    """Pure-functional accept step: returns (accepted, max_seen', mask').

    ``mask`` bit ``i`` == sequence ``max_seen - i`` already seen.
    ``max_seen = -1`` means no sequence seen yet.
    """
    if sequence < 0:
        return False, max_seen, mask
    if max_seen >= 0 and sequence <= max_seen - WINDOW_SIZE:
        return False, max_seen, mask
    if sequence > max_seen:
        shift = sequence - max_seen
        if max_seen < 0 or shift >= WINDOW_SIZE:
            mask = 0
        else:
            mask = (mask << shift) & ((1 << WINDOW_SIZE) - 1)
        return True, sequence, mask | 1
    offset = max_seen - sequence
    if offset >= WINDOW_SIZE:
        return False, max_seen, mask
    bit = 1 << offset
    if mask & bit:
        return False, max_seen, mask
    return True, max_seen, mask | bit


class ReplayWindow:
    """Stateful wrapper matching the reference's object API."""

    def __init__(self):
        self.max_seen = -1
        self.mask = 0

    def accept(self, sequence: int) -> bool:
        ok, self.max_seen, self.mask = replay_accept(self.max_seen, self.mask, sequence)
        return ok
