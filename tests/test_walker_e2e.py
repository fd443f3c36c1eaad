"""E2E shaped after the reference's own TestWalker (walker_test.go:30-83):
crawl a small example site with group-header routing and a schema
GroupValidator, then aggregate validation score/penalty per group (A8).

The oracle dispatcher computes the same crawl on the same store; the
Spark side must agree on results AND on the per-(group, path) rollup.
"""

import pyspark.sql.functions as F
import pytest

from walker_spark.config import CrawlConfig, Target
from walker_spark.dispatcher import PageStore, ReferenceDispatcher, StorePage
from walker_spark.functions.htmlschema import (
    GroupValidator,
    load_schema_html,
    validate,
    validation_metrics,
    validate_udf,
)
from walker_spark.plans.crawl import Crawler

BASE = "https://example.test"

# 5-page site mirroring htmlschema/example/htdocs: index → content page +
# catalogue category → two products. Group = path-derived (<app>/<page>).
PAGES = {
    "/": """<html><head><title>example index page</title></head><body>
        <h1>Welcome</h1>
        <a href="/content/page-a.html">a</a>
        <a href="/catalogue/category-x.html">cat</a></body></html>""",
    "/content/page-a.html": """<html><head><title>page a</title></head><body>
        <h1>Page A</h1><p>content</p></body></html>""",
    "/catalogue/category-x.html": """<html><head><title>category x</title></head><body>
        <h1>Category X</h1>
        <a href="/catalogue/product-1.html">p1</a>
        <a href="/catalogue/product-2.html">p2</a></body></html>""",
    "/catalogue/product-1.html": """<html><head><title>product one long title</title>
        <meta property="og:title" content="product one og title"></head><body>
        <h1>Product 1</h1></body></html>""",
    "/catalogue/product-2.html": """<html><head><title>p2</title></head><body>
        </body></html>""",  # short title + missing h1 → penalties
}

SCHEMAS = {
    "content/index": "<html><head><title val:score=10 val:min-length=5></title></head>"
    '<body><val:selector selector="h1"><h1 val:score=100></h1></val:selector></body></html>',
    "content/page": "<html><head><title val:score=10></title></head>"
    '<body><val:selector selector="h1"><h1 val:score=100></h1></val:selector></body></html>',
    "catalogue/category": "<html><head><title val:score=10></title></head>"
    '<body><val:selector selector="h1"><h1 val:score=50></h1></val:selector></body></html>',
    "catalogue/product": '<html><head><title val:score=10 val:min-length=10></title>'
    '<meta property="og:title" val:attr="content;min-length:10" val:optional></head>'
    '<body><h1 val:score=100>x</h1></body></html>',
}


@pytest.fixture(scope="module")
def store():
    pages = {
        BASE + path: StorePage(url=BASE + path, html=html.encode())
        for path, html in PAGES.items()
    }
    return PageStore(pages, robots={})


def _conf():
    return CrawlConfig(
        target=Target(base_url=BASE, paths=["/"]),
        host_budget=0,
        group_header="group",
        agent="walker-spark",
        ignore_robots=True,
    )


def test_e2e_scores_match_oracle(spark, store, tmp_path):
    gv = GroupValidator.from_dict(SCHEMAS)
    oracle = ReferenceDispatcher(store, _conf()).run()
    assert len(oracle.results) == 5

    pages_df = spark.createDataFrame(
        [(u, p.html) for u, p in store.pages.items()], "url string, html binary"
    ).select("url", F.lit("example.test").alias("host"), "html")
    crawler = Crawler(
        spark,
        _conf(),
        pages=pages_df,
        checkpoint_dir=str(tmp_path / "ck"),
        group_validator=gv,
    )
    crawler.run()
    res = crawler.results_df()
    got = {r["url"]: r for r in res.collect()}
    assert set(got) == set(oracle.results)

    # per-page validation scores must equal driver-side validation of the
    # same (group, html) pair — the pure-function contract of H4
    for url, orc in oracle.results.items():
        want = gv.validate(orc.group, store.pages[url].html.decode())
        have = got[url]["validation_report"]
        if want is None:
            assert have is None or have["score"] is None, url
        else:
            assert have["score"] == want.score, (url, orc.group)
            assert len(have["validations"]) == len(want.validations)

    # A8 rollup (validationmetrics.go): group/path score + penalty sums
    scores, penalties = validation_metrics(res, ["/", "/catalogue/"])
    sc = {(r["group"], r["path"]): r["score"] for r in scores.collect()}
    # product-2: title "p2" shorter than min-length 10 → content penalty;
    # its score still counts the matched title+h1 occurrence scores
    expected = {}
    for url, orc in oracle.results.items():
        rep = gv.validate(orc.group, store.pages[url].html.decode())
        if rep is None:
            continue
        path = "/catalogue/" if "/catalogue/" in url else "/"
        key = (orc.group, path)
        expected[key] = expected.get(key, 0) + rep.score
    assert sc == expected

    pen = {
        (r["group"], r["validation_type"]): r["penalty"]
        for r in penalties.collect()
    }
    assert ("catalogue/product", "content") in pen  # short title on product-2
