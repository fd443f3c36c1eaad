"""W5 politeness batch: one per-host ``row_number() ≤ budget`` window.

The batch must equal a pure-Python per-host top-k under the priority
order, and the select must keep Catalyst's map-side partial group limit
(``WindowGroupLimit``) at budgets above Spark's default
``windowGroupLimitThreshold`` by raising the session's threshold.
"""

import pyspark.sql.functions as F
import pytest

from walker_spark.operators.politeness import select_fetch_batch

THRESHOLD = "spark.sql.optimizer.windowGroupLimitThreshold"


@pytest.fixture(scope="module")
def frontier(spark):
    # half the rows on hot.example (2,500); the 7 other hosts hold ~357 each
    base = spark.range(5000)
    host = F.when(F.col("id") % 2 == 0, F.lit("hot.example")).otherwise(
        F.format_string("host-%04d.example", (F.col("id") % 7).cast("int"))
    )
    return base.select(
        F.format_string("https://%s/p/%d", host, F.col("id")).alias("url"),
        host.alias("host"),
        (F.col("id") % 3).cast("int").alias("depth"),
        ((F.col("id") * 37) % 50).cast("int").alias("link_count"),
    ).cache()


@pytest.fixture(autouse=True)
def threshold(spark):
    """The session's threshold before the test; restored afterwards so
    that other tests' plans do not change."""
    before = spark.conf.get(THRESHOLD)
    yield int(before)
    spark.conf.set(THRESHOLD, before)


def _cols(rows):
    return {tuple(r) for r in rows}


def _batch_set(df):
    return _cols(df.select("url", "host", "depth", "link_count").collect())


def _oracle(frontier, budget):
    """Per-host top-``budget`` by (depth asc, link_count desc, url asc)."""
    by_host: dict[str, list] = {}
    for r in frontier.collect():
        by_host.setdefault(r["host"], []).append(tuple(r))
    out = set()
    for rows in by_host.values():
        rows.sort(key=lambda t: (t[2], -t[3], t[0]))
        out.update(rows[:budget])
    return out


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("budget", [7, 40, None], ids=["dense_ties", "40", "threshold+1"])
def test_batch_matches_per_host_topk_oracle(frontier, threshold, budget):
    """Budget 7 leaves dense (depth, link_count) ties, so the url-asc
    tiebreak decides; at threshold + 1 the budget binds only on the hot
    host, and every other host is taken whole."""
    budget = budget or threshold + 1
    got = _batch_set(select_fetch_batch(frontier, budget))
    assert got == _oracle(frontier, budget)
    assert sum(1 for t in got if t[1] == "hot.example") == budget


def test_group_limit_above_default_threshold(spark, frontier, threshold):
    plan = _plan(select_fetch_batch(frontier, threshold + 1))
    # the map-side partial top-k still runs before the exchange
    assert "WindowGroupLimit" in plan
    assert "_salt" not in plan
    assert int(spark.conf.get(THRESHOLD)) == threshold + 1


def test_higher_session_threshold_left_unchanged(spark, frontier, threshold):
    spark.conf.set(THRESHOLD, str(threshold + 500))
    for budget in (40, threshold + 1):
        assert "WindowGroupLimit" in _plan(select_fetch_batch(frontier, budget))
        assert int(spark.conf.get(THRESHOLD)) == threshold + 500
