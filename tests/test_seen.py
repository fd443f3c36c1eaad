"""URL-seen property tests (SURVEY §5.4): the J2 anti-join keeps exactly
the candidates that are not in the seen table — never a dropped URL,
never a repeat — whichever side of the size rule the seen table is on."""

import random

import pytest

from walker_spark.operators.seen import seen_anti_join


def _urls(rng, n, pool=4000):
    return [f"https://h{rng.randrange(40)}.example/p/{rng.randrange(pool)}" for _ in range(n)]


@pytest.mark.parametrize("broadcast", [False, True], ids=["shuffle", "broadcast"])
def test_seen_anti_join_equals_exact_oracle(spark, broadcast):
    # both seen_anti_join branches: seen side broadcast (exact row count
    # given) or shuffled (count unknown)
    rng = random.Random(13)
    seen_urls = sorted(set(_urls(rng, 2500)))
    cand_urls = sorted(set(_urls(rng, 2500)))  # overlaps seen heavily
    seen = spark.createDataFrame([(u,) for u in seen_urls], "url string")
    cands = spark.createDataFrame(
        [(u, "h", 1, 1) for u in cand_urls],
        "url string, host string, depth int, link_count long",
    )
    seen_rows = len(seen_urls) if broadcast else None

    # without the size threshold Spark would broadcast this small seen
    # side on its own; switched off, only the branch's hint broadcasts
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = seen_anti_join(cands, seen, seen_rows=seen_rows)
        plan = out._jdf.queryExecution().executedPlan().toString()
        got = {r["url"] for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert ("BroadcastHashJoin" in plan) == broadcast
    assert got == set(cand_urls) - set(seen_urls)
