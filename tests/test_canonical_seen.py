"""North-rule canonical seen-keying: with canonical_seen=True the
frontier dedups on canonicalize(url) — equivalent spellings (query-param
order, default ports, %-encoding case) collapse to one fetch of the
lexicographically smallest spelling. With False (walker parity), each
spelling is fetched separately."""

import pyspark.sql.functions as F

from walker_spark.config import CrawlConfig, Target
from walker_spark.dispatcher import PageStore, StorePage
from walker_spark.plans.crawl import Crawler

BASE = "https://h.example"

INDEX = """<html><body>
<a href="/p.html?b=2&a=1">one spelling</a>
<a href="/p.html?a=1&b=2">other spelling</a>
<a href="/q.html">q</a>
</body></html>"""

PAGE = "<html><head><title>p</title></head><body><h1>x</h1></body></html>"


def _pages(spark):
    rows = [
        (f"{BASE}/", INDEX.encode()),
        (f"{BASE}/p.html?b=2&a=1", PAGE.encode()),
        (f"{BASE}/p.html?a=1&b=2", PAGE.encode()),
        (f"{BASE}/q.html", PAGE.encode()),
    ]
    return spark.createDataFrame(
        [(u, "h.example", bytearray(h)) for u, h in rows],
        "url string, host string, html binary",
    )


def _run(spark, ckpt, canonical):
    conf = CrawlConfig(
        target=Target(base_url=BASE, paths=["/"]),
        host_budget=0,
        agent="walker-spark",
        ignore_robots=True,
        canonical_seen=canonical,
    )
    c = Crawler(
        spark,
        conf,
        pages=_pages(spark),
        checkpoint_dir=ckpt,
    )
    c.run()
    return c


def test_walker_mode_fetches_both_spellings(spark, tmp_path):
    c = _run(spark, str(tmp_path / "w"), canonical=False)
    urls = {r["url"] for r in c.results_df().collect()}
    assert f"{BASE}/p.html?b=2&a=1" in urls and f"{BASE}/p.html?a=1&b=2" in urls
    assert len(urls) == 4


def test_canonical_mode_fetches_one_spelling(spark, tmp_path):
    c = _run(spark, str(tmp_path / "c"), canonical=True)
    urls = {r["url"] for r in c.results_df().collect()}
    # min("https://h.example/p.html?a=1&b=2", "...?b=2&a=1") wins
    assert f"{BASE}/p.html?a=1&b=2" in urls
    assert f"{BASE}/p.html?b=2&a=1" not in urls
    assert len(urls) == 3
    # seen table holds canonical keys (sorted query params)
    seen = {r["canon"] for r in c.seen_df().collect()}
    assert f"{BASE}/p.html?a=1&b=2" in seen
