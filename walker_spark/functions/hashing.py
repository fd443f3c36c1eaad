"""Deterministic hashing used across the engine and the test oracle.

``stable_hash64`` is the engine's portable 64-bit hash (blake2b-based;
identical in driver Python, executor Python, and the pure-Python oracle).
Physical partitioning inside Spark uses the JVM-side ``xxhash64`` builtin
instead (host_hash partition columns) — partition placement is a physical
detail that needs no oracle parity, only determinism within a run.

``synthetic_duration_us`` is the engine's *specified* deterministic
stand-in for walker's measured request duration (``scrape.go:68``): in a
table-backed fetch there is no live HTTP, so the duration becomes a pure
function of the URL, spread over walker's 10 latency buckets
(``vo/bucketlist.go:13-66``, 0ms … >10s).

``synthetic_time_us`` is the matching stand-in for walker's receipt
timestamp. It is round-granular: every result of a round carries the same
value, because the crawl does not record a row's position in its batch
(the crawl order is derived from the results when it is read). Nothing
in the engine reads ``time_us``; it keeps the result schema's column.
"""

from __future__ import annotations

import hashlib

__all__ = ["stable_hash64", "synthetic_duration_us", "synthetic_time_us"]

_EPOCH_US = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z, fixed engine epoch


def stable_hash64(s: str) -> int:
    """Unsigned 64-bit deterministic hash, stable across processes."""
    return int.from_bytes(hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(), "big")


def synthetic_duration_us(url: str) -> int:
    """Deterministic pseudo-duration in microseconds, covering 0–12s with
    a heavy skew toward the fast buckets (most pages are fast)."""
    h = stable_hash64("dur:" + url)
    ms = h % 400  # 0-399ms: the common case
    if h % 17 == 0:
        ms = 400 + (h >> 8) % 4600  # slow tail 0.4-5s
    if h % 97 == 0:
        ms = 5000 + (h >> 16) % 7000  # catastrophic tail 5-12s
    return ms * 1000 + h % 1000


def synthetic_time_us(round_no: int) -> int:
    """Deterministic result-receipt timestamp (walker stamps wall-clock at
    integrate time, ``scrapeloop.go:325``): fixed epoch + 1s per round."""
    return _EPOCH_US + round_no * 1_000_000
