"""URL-seen property tests (SURVEY §5.4): the J2 anti-join keeps exactly
the candidates that are not in the seen table — never a dropped URL,
never a repeat — whichever join Spark's size rule picks."""

import random

import pytest

from walker_spark.operators.seen import seen_anti_join


def _urls(rng, n, pool=4000):
    return [f"https://h{rng.randrange(40)}.example/p/{rng.randrange(pool)}" for _ in range(n)]


@pytest.mark.parametrize(
    "threshold, join",
    [("-1", ("SortMergeJoin", "ShuffledHashJoin")), (None, ("BroadcastHashJoin",))],
    ids=["shuffle", "broadcast"],
)
def test_seen_anti_join_equals_exact_oracle(spark, threshold, join):
    # one code path, both physical plans: at Spark's default
    # autoBroadcastJoinThreshold this small seen side broadcasts; at -1
    # the join shuffles
    rng = random.Random(13)
    seen_urls = sorted(set(_urls(rng, 2500)))
    cand_urls = sorted(set(_urls(rng, 2500)))  # overlaps seen heavily
    seen = spark.createDataFrame([(u,) for u in seen_urls], "url string")
    cands = spark.createDataFrame(
        [(u, "h", 1, 1) for u in cand_urls],
        "url string, host string, depth int, link_count long",
    )

    # AQE's runtime broadcast threshold falls back to this one, so -1
    # switches both off
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if threshold is not None:
        spark.conf.set(key, threshold)
    try:
        out = seen_anti_join(cands, seen)
        got = {r["url"] for r in out.collect()}
        # AQE may re-plan at run time: judge the final plan only
        plan = out._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
    finally:
        spark.conf.set(key, old)
    kinds = [k for k in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin") if k in plan]
    assert len(kinds) == 1 and kinds[0] in join, plan
    assert got == set(cand_urls) - set(seen_urls)
