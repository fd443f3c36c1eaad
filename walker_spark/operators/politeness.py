"""Per-host politeness batch selection (W5 — the crown op).

Walker approximates politeness with a global concurrency cap plus
per-client busy flags (``scrapeloop.go:208-226``); the BSP engine makes
it exact: each round fetches at most ``host_budget`` URLs per host,
picked by priority ``(depth asc, link_count desc, url asc)`` — the
deterministic order SURVEY.md §5.3 pins down.

Scale design (measured, round 4): whether a plain
``Window.partitionBy(host)`` serializes a hot host onto one task depends
on Catalyst's ``InsertWindowGroupLimit`` rule — for ``row_number() ≤ k``
filters with ``k`` inside ``spark.sql.optimizer.windowGroupLimitThreshold``
(default 1000) Spark inserts MAP-SIDE partial top-k operators before the
exchange, which is exactly the work manual salting would do, for free.
Above the threshold the rule does not fire and one mega-host would own
the round (north rule calls out explicit salting), so we keep the exact
distributed top-k: rank within ``(host, salt)`` shards first, keep each
shard's top ``budget``, then rank the survivors per host. The per-host
top-``budget`` is always contained in the union of per-salt top-``budget``
sets, so the result is *identical* to the unsalted window while the heavy
first pass spreads over ``n_salts × hosts`` tasks. The second window only
sees ≤ ``n_salts × budget`` rows per host. ``strategy='auto'`` picks per
the threshold; bench.py's skew section records both paths plus the
unsalted counterfactual above the threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["select_fetch_batch", "priority_order"]


def priority_order():
    """(depth asc, link_count desc, url asc) — SURVEY.md §5.3."""
    return [F.col("depth").asc(), F.col("link_count").desc(), F.col("url").asc()]


def _window_group_limit_threshold(spark) -> int:
    """Catalyst's ``InsertWindowGroupLimit`` rewrites a
    ``row_number() ≤ k`` filter into a MAP-SIDE partial top-k before the
    exchange — the optimizer's built-in equivalent of hot-host salting —
    but only when ``k`` ≤ this threshold (default 1000). Measured on the
    48M-row skew bench: with the rule active, a plain per-host window is
    skew-immune; above the threshold the hot host's full row set sorts
    on ONE reduce task and explicit salting becomes the defense."""
    return int(spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold"))


# frontiers at or below this many rows pick the plain single-window
# plan even when the budget is above Spark's group-limit threshold: the
# worst skew case (every row on one host) sorts at most this many rows
# on one task — cheaper than the salted plan's second shuffle+window.
# Above it, a hot host's single-task sort is the real skew hazard the
# salted two-phase exists for (bench: 48M half-hot rows, plain 43.4 s vs
# salted 12.4 s).
SALTED_MIN_FRONTIER = 2_000_000


def select_fetch_batch(
    frontier: DataFrame,
    host_budget: int,
    n_salts: int = 8,
    record_order: bool = False,
    strategy: str = "auto",
    frontier_rows: int | None = None,
) -> DataFrame:
    """Returns the round's fetch batch (leftover = frontier ∖ batch is the
    caller's anti-join, done against the *materialized* batch so the
    window isn't recomputed).

    ``frontier`` columns: url, host, depth, link_count. ``host_budget``
    ≤ 0 means unlimited (whole frontier fetched).

    ``strategy`` (measured on bench.py's 48M-row skew frontier, r4):

    * ``plain`` — one per-host window. When the budget is within
      Spark's ``windowGroupLimitThreshold``, Catalyst inserts partial
      (map-side) group limits and this is both the cheapest AND
      skew-immune plan — the optimizer performs the per-partition
      top-k that manual salting would.
    * ``salted`` — the explicit two-phase exact top-k: rank within
      ``(host, salt)`` shards, keep each shard's top ``budget``, re-rank
      survivors per host. Identical output to ``plain`` (the per-host
      top-k is contained in the union of per-salt top-ks); the heavy
      first sort spreads over ``n_salts×hosts`` tasks and spills
      shard-wise. The defense when the group-limit rule does NOT fire
      (budget above the threshold).
    * ``auto`` (default) — ``plain`` iff the budget is inside the
      group-limit threshold OR the caller-supplied ``frontier_rows``
      says the whole frontier is below ``SALTED_MIN_FRONTIER`` (worst-
      case one-task sort is then bounded and cheaper than the salted
      plan's extra shuffle+window), else ``salted``. Output is
      identical either way; only cost differs.

    With ``record_order`` the batch gains a round-global ``batch_pos``
    (host-ascending, then priority) — a single-partition sort used only
    by parity tests and small crawls; production leaves ordering implicit.
    """
    if host_budget <= 0:
        batch = frontier
        if record_order:
            w = Window.orderBy(F.col("host").asc(), *priority_order())
            batch = batch.withColumn("batch_pos", F.row_number().over(w) - 1)
        return batch

    if strategy == "auto":
        wgl = _window_group_limit_threshold(frontier.sparkSession)
        small = frontier_rows is not None and 0 <= frontier_rows <= SALTED_MIN_FRONTIER
        strategy = "plain" if (host_budget <= wgl or small) else "salted"
    if strategy == "plain" or n_salts <= 1:
        w_host = Window.partitionBy("host").orderBy(*priority_order())
        batch = (
            frontier.withColumn("_rh", F.row_number().over(w_host))
            .filter(F.col("_rh") <= host_budget)
        )
    elif strategy == "salted":
        salted = frontier.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("url")), F.lit(n_salts))
        )
        w_salt = Window.partitionBy("host", "_salt").orderBy(*priority_order())
        pre = (
            salted.withColumn("_rs", F.row_number().over(w_salt))
            .filter(F.col("_rs") <= host_budget)
            .drop("_rs")
        )
        w_host = Window.partitionBy("host").orderBy(*priority_order())
        batch = (
            pre.withColumn("_rh", F.row_number().over(w_host))
            .filter(F.col("_rh") <= host_budget)
            .drop("_salt")
        )
    else:
        raise ValueError(f"unknown politeness strategy {strategy!r}")
    if record_order:
        w = Window.orderBy(F.col("host").asc(), *priority_order())
        batch = batch.withColumn("batch_pos", F.row_number().over(w) - 1)
    return batch.drop("_rh")
