"""Exact URL-seen anti-join (J2).

Walker dedups with two in-memory hash maps (``scrapeloop.go:361-367``:
enqueue iff ∉ results ∧ ∉ jobs). Here the seen set is a table, and a
candidate is new iff a ``left_anti`` join against it keeps the row — an
exact test, so no URL is ever dropped or enqueued twice. Spark picks the
join side: ``spark.sql.autoBroadcastJoinThreshold`` broadcasts a seen
table whose scan-size estimate is under it, and AQE re-plans from the
shuffle's measured size. A hand-placed broadcast below a row count was
measured and removed: it changed the plan only where its forced
broadcast did not win (BENCH.md, "Seen and PageRank: the last two size
gates"). A Bloom prefilter in front of this join was removed too
(BENCH.md, "Seen: Bloom prefilter vs exact anti-join"): the maybe-seen
slice still scans the whole seen table, so the filter only added a
Python probe stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["seen_anti_join"]


def seen_anti_join(cands: DataFrame, seen: DataFrame, key: str = "url") -> DataFrame:
    """The correctness-critical J2: candidates that are genuinely new.

    ``cands``: one row per distinct candidate, keyed by ``key`` (the raw
    normalized url, or the canonical form in north-rule canonical mode).
    ``seen``: the exact seen table (column ``url`` holding the same key
    kind).
    """
    s = seen.select(F.col("url").alias("_seen_key"))
    return cands.join(s, cands[key] == s["_seen_key"], "left_anti")
