"""Walker's user extension points (SURVEY.md §2.10) on the BSP crawl:
ScrapeFunc, ValidationFunc, ScrapeResultModifierFunc, LinkListFilterFunc,
and the GroupValidator integration (walker_test.go's E2E shape)."""

import json

import pyspark.sql.functions as F
import pytest

from walker_spark.config import CrawlConfig, Target
from walker_spark.functions.htmlschema import GroupValidator
from walker_spark.plans.crawl import Crawler, fetch_and_extract
from walker_spark.sources.synthetic import SiteSpec, build_store, write_pages_tables


@pytest.fixture(scope="module")
def small_site(spark, tmp_path_factory):
    spec = SiteSpec(seed=5, n_hosts=1, n_pages=40)
    out = str(tmp_path_factory.mktemp("hooksite"))
    paths = write_pages_tables(spark, spec, out)
    return spec, paths, build_store(spec)


def _conf(**kw):
    base = dict(
        target=Target(base_url="https://host-0000.example", paths=["/"]),
        host_budget=0,
        group_header="group",
        agent="walker-spark",
    )
    base.update(kw)
    return CrawlConfig(**base)


def test_scrape_validation_modifier_hooks(spark, small_site, tmp_path):
    # hooks nested so cloudpickle ships them by value to executors
    def scrape_hook(html):
        return {"n_bytes": len(html)}

    def validation_hook(structure, data):
        out = []
        if structure and structure.get("title", "") == "":
            out.append({"level": "error", "message": "missing title", "group": "seo"})
        return out

    def modifier_hook(df):
        return df.withColumn("group", F.upper(F.col("group")))

    spec, paths, store = small_site
    schema = "<html><head><title val:score=10 val:min-length=1>t</title></head></html>"
    gv = GroupValidator.from_dict({"default": schema})
    c = Crawler(
        spark,
        _conf(max_rounds=2),
        pages=spark.read.parquet(paths["pages"]),
        redirect_edges=spark.read.parquet(paths["redirect_edges"]),
        robots_bodies=store.robots,
        checkpoint_dir=str(tmp_path / "ck"),
        scrape_func=scrape_hook,
        validation_func=validation_hook,
        result_modifier=modifier_hook,
        group_validator=gv,
    )
    c.run()
    res = c.results_df().filter(F.col("code") == 200).collect()
    assert res
    for r in res:
        assert json.loads(r["data"])["n_bytes"] > 0
        assert r["group"] == r["group"].upper()  # modifier ran
        if r["structure"]["title"] == "":
            assert any(v["message"] == "missing title" for v in r["validations"])
    # group validator produced reports for default-group pages
    default_pages = [r for r in res if r["group"] == "DEFAULT"]
    assert any(r["validation_report"]["score"] is not None for r in default_pages)


def test_link_list_filter_replaces_stack(spark, small_site, tmp_path):
    def link_filter_hook(base, url, links, structure):
        out = {}
        for href in links:
            if href.startswith("/catalogue/"):
                out[base + href] = 1
        return out

    spec, paths, store = small_site
    c = Crawler(
        spark,
        _conf(max_rounds=3),
        pages=spark.read.parquet(paths["pages"]),
        redirect_edges=spark.read.parquet(paths["redirect_edges"]),
        robots_bodies=store.robots,
        checkpoint_dir=str(tmp_path / "ck2"),
        link_list_filter=link_filter_hook,
    )
    c.run()
    seen = {r["url"] for r in c.seen_df().collect()}
    # everything ever enqueued beyond the seed came from the custom filter
    assert all(
        "/catalogue/" in u or u == "https://host-0000.example/" for u in seen
    ), sorted(seen)[:5]


def test_link_list_filter_error_lands_in_its_row(spark):
    def link_filter_hook(base, url, links, structure):
        if url.endswith("/bad"):
            raise ValueError("hook failed on bad")
        return {base + "/next": 1}

    urls = ["https://host-0000.example/good", "https://host-0000.example/bad"]
    batch = spark.createDataFrame(
        [(u, "host-0000.example", 0, i + 1) for i, u in enumerate(urls)],
        "url string, host string, depth int, link_count long",
    )
    pages = spark.createDataFrame(
        [(u, bytearray(b"<html><a href='/x'>x</a></html>")) for u in urls],
        "url string, html binary",
    )
    rows = {
        r["url"]: r
        for r in fetch_and_extract(
            batch, pages, None, 0, False, False, "https://host-0000.example",
            link_list_filter=link_filter_hook,
        ).collect()
    }
    assert [rows[u]["link_count"] for u in urls] == [1, 2]
    assert "hook failed on bad" in rows[urls[1]]["error"]
    assert not rows[urls[1]]["custom_links"]
    assert rows[urls[0]]["error"] == ""
    assert rows[urls[0]]["custom_links"] == {"https://host-0000.example/next": 1}
