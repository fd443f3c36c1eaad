"""URL-seen filter property tests (SURVEY §5.4): the Bloom prefilter
must be *exactly corrected* by the anti-join — never a dropped URL —
and a crawl with the bloom forced on must equal one with it off."""

import random

import pyspark.sql.functions as F
import pytest

from walker_spark.operators.seen import BloomShards, seen_anti_join, split_by_bloom


def _urls(rng, n, pool=4000):
    return [f"https://h{rng.randrange(40)}.example/p/{rng.randrange(pool)}" for _ in range(n)]


def test_bloom_no_false_negatives():
    rng = random.Random(7)
    b = BloomShards(n_shards=8, bits_per_shard=1 << 14, n_hashes=4)
    added = set(_urls(rng, 3000))
    for u in added:
        b.add(u)
    # every added url must test positive
    assert all(b.contains(u) for u in added)


@pytest.mark.parametrize("use_bloom", [True, False], ids=["bloom", "exact"])
@pytest.mark.parametrize("broadcast", [False, True], ids=["shuffle", "broadcast"])
def test_seen_anti_join_equals_exact_oracle(spark, use_bloom, broadcast):
    # all four seen_anti_join branches: Bloom prefilter or not × seen side
    # broadcast (exact row count given) or shuffled (count unknown)
    rng = random.Random(13)
    seen_urls = sorted(set(_urls(rng, 2500)))
    cand_urls = sorted(set(_urls(rng, 2500)))  # overlaps seen heavily
    seen = spark.createDataFrame([(u,) for u in seen_urls], "url string")
    cands = spark.createDataFrame(
        [(u, "h", 1, 1) for u in cand_urls],
        "url string, host string, depth int, link_count long",
    )
    bloom = None
    if use_bloom:
        # undersized bloom → plenty of false positives, zero false negatives
        bloom = BloomShards(n_shards=4, bits_per_shard=1 << 12, n_hashes=3)
        bloom.add_urls_distributed(seen)
    seen_rows = len(seen_urls) if broadcast else None

    # without the size threshold Spark would broadcast this small seen
    # side on its own; switched off, only the branch's hint broadcasts
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = seen_anti_join(cands, seen, bloom, seen_rows=seen_rows)
        plan = out._jdf.queryExecution().executedPlan().toString()
        got = {r["url"] for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert ("BroadcastHashJoin" in plan) == broadcast
    assert got == set(cand_urls) - set(seen_urls)


def test_bloom_split_semantics(spark):
    rng = random.Random(29)
    seen_urls = sorted(set(_urls(rng, 1000)))
    bloom = BloomShards(n_shards=4, bits_per_shard=1 << 16, n_hashes=5)
    seen = spark.createDataFrame([(u,) for u in seen_urls], "url string")
    bloom.add_urls_distributed(seen)
    cand_urls = sorted(set(_urls(rng, 1000)))
    cands = spark.createDataFrame([(u,) for u in cand_urls], "url string")
    tagged = {r["url"]: r["maybe_seen"] for r in split_by_bloom(cands, bloom).collect()}
    seen_set = set(seen_urls)
    for u, maybe in tagged.items():
        if u in seen_set:
            assert maybe, f"false negative for {u}"  # forbidden by construction


# full dual-crawl bloom-vs-exact parity sweep — ~1 min; VERDICT r4 #4 suite-wall triage
@pytest.mark.slow
def test_crawl_with_bloom_forced_matches_without(spark, tmp_path):
    from walker_spark.config import CrawlConfig, Target
    from walker_spark.plans.crawl import Crawler
    from walker_spark.sources.synthetic import SiteSpec, build_store, write_pages_tables

    spec = SiteSpec(seed=21, n_hosts=2, n_pages=40)
    paths = write_pages_tables(spark, spec, str(tmp_path / "site"))
    store = build_store(spec)

    def crawl(ck, use_bloom):
        c = Crawler(
            spark,
            CrawlConfig(
                target=Target(base_url="https://host-0000.example", paths=["/"]),
                host_budget=14,
                group_header="group",
                agent="walker-spark",
            ),
            pages=spark.read.parquet(paths["pages"]),
            redirect_edges=spark.read.parquet(paths["redirect_edges"]),
            robots_bodies=store.robots,
            checkpoint_dir=str(tmp_path / ck),
            use_bloom=use_bloom,
        )
        c.run()
        return {r["url"] for r in c.seen_df().collect()}

    assert crawl("with_bloom", True) == crawl("no_bloom", False)
