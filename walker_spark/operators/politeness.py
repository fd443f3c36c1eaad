"""Per-host politeness batch selection (W5 — the crown op).

Walker approximates politeness with a global concurrency cap plus
per-client busy flags (``scrapeloop.go:208-226``); the BSP engine makes
it exact: each round fetches at most ``host_budget`` URLs per host,
picked by priority ``(depth asc, link_count desc, url asc)`` — the
deterministic order SURVEY.md §5.3 pins down.

Scale design: one per-host ``row_number() ≤ host_budget`` window.
Catalyst's ``InsertWindowGroupLimit`` rule turns that filter into a
MAP-SIDE partial top-k before the exchange, so a hot host reaches the
reduce side as at most ``host_budget`` rows per input partition instead
of its whole row set sorted on one task. The rule fires only while the
budget is within ``spark.sql.optimizer.windowGroupLimitThreshold``
(default 1000), so the select raises that threshold to the budget. With
the group limit in place this plan beat an explicit two-phase salted
top-k at every frontier size and budget measured (BENCH.md, "Politeness:
one window plan").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["select_fetch_batch", "priority_order"]


def priority_order():
    """(depth asc, link_count desc, url asc) — SURVEY.md §5.3."""
    return [F.col("depth").asc(), F.col("link_count").desc(), F.col("url").asc()]


def select_fetch_batch(frontier: DataFrame, host_budget: int) -> DataFrame:
    """Returns the round's fetch batch (leftover = frontier ∖ batch is the
    caller's anti-join, done against the *materialized* batch so the
    window isn't recomputed).

    ``frontier`` columns: url, host, depth, link_count. ``host_budget``
    ≤ 0 means unlimited (whole frontier fetched).

    A budget above the session's ``windowGroupLimitThreshold`` raises
    that session setting to the budget; a higher value is left alone.

    The batch carries no order of its own: the crawl order is read back
    from the results (``Crawler.order_df``).
    """
    if host_budget <= 0:
        return frontier

    # The optimizer reads the threshold when the returned plan executes,
    # which is after this call returns, so the raised value has to stay
    # in the session. Restoring it here would quietly drop the partial
    # group limit and sort a hot host's whole frontier on one task.
    conf = frontier.sparkSession.conf
    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    if int(conf.get(key)) < host_budget:
        conf.set(key, str(host_budget))
    w_host = Window.partitionBy("host").orderBy(*priority_order())
    return (
        frontier.withColumn("_rh", F.row_number().over(w_host))
        .filter(F.col("_rh") <= host_budget)
        .drop("_rh")
    )
