"""Exact URL-seen anti-join (J2).

Walker dedups with two in-memory hash maps (``scrapeloop.go:361-367``:
enqueue iff ∉ results ∧ ∉ jobs). Here the seen set is a table, and a
candidate is new iff a ``left_anti`` join against it keeps the row — an
exact test, so no URL is ever dropped or enqueued twice. The one cost
rule is the join side: a seen table small enough to broadcast skips the
candidate-side shuffle. A Bloom prefilter in front of this join was
measured and removed (BENCH.md, "Seen: Bloom prefilter vs exact
anti-join"): the maybe-seen slice still scans the whole seen table, so
the filter only added a Python probe stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["seen_anti_join"]


# seen tables at or below this row count broadcast into the anti-join
# (urls are ~50-100 B, so the cap bounds the built relation to tens of
# MB). The crawl loop tracks the exact seen row count from parquet
# footers, so the decision costs zero jobs and is scale-adaptive: early
# rounds (and sandbox-sized crawls) skip the candidate-side shuffle
# entirely, while a production-sized seen table keeps the shuffle
# anti-join (billions of rows can never broadcast).
SEEN_BROADCAST_MAX = 1_000_000


def seen_anti_join(
    cands: DataFrame,
    seen: DataFrame,
    key: str = "url",
    seen_rows: int | None = None,
) -> DataFrame:
    """The correctness-critical J2: candidates that are genuinely new.

    ``cands``: one row per distinct candidate, keyed by ``key`` (the raw
    normalized url, or the canonical form in north-rule canonical mode).
    ``seen``: the exact seen table (column ``url`` holding the same key
    kind). ``seen_rows`` (exact count, when the caller knows it) lets a
    small seen side broadcast — same ``left_anti`` semantics, no
    exchange of the candidate side.
    """
    s = seen.select(F.col("url").alias("_seen_key"))
    if seen_rows is not None and 0 <= seen_rows <= SEEN_BROADCAST_MAX:
        s = F.broadcast(s)
    return cands.join(s, cands[key] == s["_seen_key"], "left_anti")
