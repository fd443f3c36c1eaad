"""The correctness gate (BASELINE.md): the Spark BSP crawl must reproduce
the reference dispatcher's crawl ordering and URL-seen set exactly —
same fetch batches per round, same final seen set, same result codes.

The oracle (walker_spark.dispatcher) and the pipeline crawl the same
deterministic synthetic site, generated by the same pure functions.
"""

import pytest

from walker_spark.config import CrawlConfig, Target
from walker_spark.dispatcher import ReferenceDispatcher
from walker_spark.sources.synthetic import (
    SiteSpec,
    build_store,
    host_name,
    write_pages_tables,
)


def _conf(**kw):
    base = dict(
        target=Target(base_url="https://host-0000.example", paths=["/"]),
        host_budget=8,
        group_header="group",
        agent="walker-spark",
    )
    base.update(kw)
    return CrawlConfig(**base)


@pytest.fixture(scope="module")
def site(spark, tmp_path_factory):
    # 72 pages keeps every code path (redirects, robots hosts, filters,
    # multi-round budgeted politeness) while holding the 4-crawl sweep
    # inside the suite's 8-minute budget — parity is against a python
    # oracle that recomputes on the same site, so size is free coverage
    spec = SiteSpec(seed=42, n_hosts=4, n_pages=72)
    out = str(tmp_path_factory.mktemp("site"))
    paths = write_pages_tables(spark, spec, out)
    store = build_store(spec)
    return spec, paths, store


def _run_spark_crawl(spark, paths, store, conf, ckpt, **kw):
    from walker_spark.plans.crawl import Crawler

    crawler = Crawler(
        spark,
        conf,
        pages=spark.read.parquet(paths["pages"]),
        redirect_edges=spark.read.parquet(paths["redirect_edges"]),
        robots_bodies=store.robots,
        checkpoint_dir=ckpt,
        **kw,
    )
    summary = crawler.run()
    return crawler, summary


def test_generator_spark_matches_python(spark, site):
    spec, paths, store = site
    rows = spark.read.parquet(paths["pages"]).select("url", "html", "text").collect()
    py_pages = store.pages
    spark_urls = {r["url"] for r in rows}
    py_real = {u for u, p in py_pages.items() if not p.redirect_to}
    assert spark_urls == py_real
    for r in rows[:50]:
        assert bytes(r["html"]) == py_pages[r["url"]].html


def test_crawl_order_and_seen_parity(spark, site, tmp_path):
    spec, paths, store = site
    conf = _conf()
    oracle = ReferenceDispatcher(store, conf).run()
    crawler, summary = _run_spark_crawl(
        spark, paths, store, conf, str(tmp_path / "ck")
    )

    # URL-seen parity: exact same final seen set
    spark_seen = {r["url"] for r in crawler.seen_df().collect()}
    assert spark_seen == oracle.seen

    # result-set parity: same fetched URLs with same codes
    res = {
        r["url"]: (r["code"], r["depth"]) for r in crawler.results_df().collect()
    }
    assert set(res) == set(oracle.results)
    for url, orc in oracle.results.items():
        assert res[url] == (orc.code, orc.depth), url

    # crawl-order parity: identical (round, batch_pos, url) triples
    got = sorted(
        (r["round"], r["batch_pos"], r["url"]) for r in crawler.order_df().collect()
    )
    want = sorted((o["round"], o["batch_pos"], o["url"]) for o in oracle.order)
    assert got == want
    assert summary["rounds"] == oracle.rounds


def test_crawl_parity_with_filters(spark, site, tmp_path):
    """Depth cap + query and prefix filters engaged."""
    spec, paths, store = site
    conf = _conf(
        depth=4,
        ignore=["/docs/"],
        ignore_queries_with=["utm_source"],
        host_budget=5,
    )
    oracle = ReferenceDispatcher(store, conf).run()
    crawler, _ = _run_spark_crawl(spark, paths, store, conf, str(tmp_path / "ck2"))
    spark_seen = {r["url"] for r in crawler.seen_df().collect()}
    assert spark_seen == oracle.seen
    got = sorted(
        (r["round"], r["batch_pos"], r["url"]) for r in crawler.order_df().collect()
    )
    want = sorted((o["round"], o["batch_pos"], o["url"]) for o in oracle.order)
    assert got == want


@pytest.mark.slow
def test_crawl_parity_more_configs(spark, site, tmp_path):
    """Config-space sweep: paging on, all-queries ignored, robots off —
    each must reproduce the oracle's seen set and crawl order exactly.
    Marked ``slow`` (VERDICT r3 #7: "one more trim pass or a slow
    marker") — the three unmarked parity tests cover order/seen/filters/
    multi-host; this sweep re-runs the same oracle machinery over two
    extra configs and costs ~30-45 s of a throttle-sensitive suite.
    Run with ``pytest -m slow`` (CI sweep / pre-release)."""
    spec, paths, store = site
    sweeps = [
        _conf(paging=True, ignore_robots=True, depth=5, host_budget=12),
        _conf(ignore_all_queries=True, host_budget=9),
    ]
    for i, conf in enumerate(sweeps):
        oracle = ReferenceDispatcher(store, conf).run()
        crawler, _ = _run_spark_crawl(
            spark, paths, store, conf, str(tmp_path / f"cks{i}")
        )
        spark_seen = {r["url"] for r in crawler.seen_df().collect()}
        assert spark_seen == oracle.seen, f"config sweep {i}"
        got = sorted(
            (r["round"], r["batch_pos"], r["url"])
            for r in crawler.order_df().collect()
        )
        want = sorted((o["round"], o["batch_pos"], o["url"]) for o in oracle.order)
        assert got == want, f"config sweep {i}"


def test_fail_start_on_robots_forbidden_seed(spark, site, tmp_path):
    """Host 3 disallows everything → walker refuses to start
    (scrapeloop.go:281-289); so do we."""
    spec, paths, store = site
    conf = _conf(target=Target(base_url=f"https://{host_name(3)}", paths=["/"]))
    oracle = ReferenceDispatcher(store, conf)
    assert oracle.check_seeds() == ["/"]
    with pytest.raises(RuntimeError, match="robots.txt does not allow"):
        _run_spark_crawl(spark, paths, store, conf, str(tmp_path / "ck3"))


def test_multi_host_crawl_parity(spark, site, tmp_path):
    """Multi-seed mode: every host's index seeded; forbidden hosts dropped."""
    spec, paths, store = site
    conf = _conf()
    seeds = [f"https://{host_name(h)}/" for h in range(spec.n_hosts)]

    # oracle: per-host single-site crawls, unioned (cross-host links are
    # dropped by F3 in both engines, so the union is exact)
    all_seen: set[str] = set()
    orders = []
    for h in range(spec.n_hosts):
        c = _conf(target=Target(base_url=f"https://{host_name(h)}", paths=["/"]))
        d = ReferenceDispatcher(store, c, multi_host=False)
        if d.check_seeds():
            continue
        o = d.run()
        all_seen |= o.seen
        orders.append((h, o))

    from walker_spark.plans.crawl import Crawler

    crawler = Crawler(
        spark,
        conf,
        pages=spark.read.parquet(paths["pages"]),
        redirect_edges=spark.read.parquet(paths["redirect_edges"]),
        robots_bodies=store.robots,
        checkpoint_dir=str(tmp_path / "ck4"),
        multi_host=True,
        seeds=seeds,
    )
    crawler.run()
    spark_seen = {r["url"] for r in crawler.seen_df().collect()}
    assert spark_seen == all_seen
