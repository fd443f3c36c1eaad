"""The served report surface: all 11 endpoints + /metrics render, the
dual running/complete snapshot selector works, and golden-shape checks
pin the text formats (reference reports/reports.go:61-127, metrics.go)."""

import urllib.request

import pytest
import yaml

from walker_spark.config import CrawlConfig, Target
from walker_spark.operators.prometheus import render_prometheus
from walker_spark.operators.report_server import (
    REPORT_NAMES,
    render_report,
    report_dual_status,
    results_yaml,
    serve_reports,
)
from walker_spark.plans.crawl import Crawler
from walker_spark.sources.synthetic import SiteSpec, build_store, write_pages_tables


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("reports_srv")
    spec = SiteSpec(seed=31, n_hosts=2, n_pages=44)
    paths = write_pages_tables(spark, spec, str(tmp / "site"))
    store = build_store(spec)
    conf = CrawlConfig(
        target=Target(base_url="https://host-0000.example", paths=["/"]),
        host_budget=10,
        group_header="group",
        agent="walker-spark",
    )
    c = Crawler(
        spark,
        conf,
        pages=spark.read.parquet(paths["pages"]),
        redirect_edges=spark.read.parquet(paths["redirect_edges"]),
        robots_bodies=store.robots,
        checkpoint_dir=str(tmp / "ck"),
    )
    c.run()
    return c


def test_all_endpoints_render(crawled):
    results = crawled.results_df()
    for name in REPORT_NAMES:
        text = render_report(name, results)
        assert isinstance(text, str) and len(text) > 0, name


def test_results_yaml_roundtrips(crawled):
    one = crawled.results_df().select("url").first()["url"]
    text = results_yaml(crawled.results_df(), url=one)
    header, body = text.split("\n", 2)[0], text.split("\n", 2)[2]
    assert header == "results 1"
    doc = yaml.safe_load(body)
    assert doc["url"] == one and "code" in doc and "duration_us" in doc


def test_prometheus_families(crawled):
    text = render_prometheus(crawled.results_df(), frontier_open=0, paths=["/"])
    for family, kind in [
        ("walker_scrape_durations_seconds", "summary"),
        ("walker_validation_score", "summary"),
        ("walker_validation_penalty", "summary"),
        ("walker_scrape_running_total", "counter"),
        ("walker_scrape_counter_total", "counter"),
        ("walker_progress_gauge_open", "gauge"),
        ("walker_progress_gauge_complete", "gauge"),
        ("walker_progress_status_code_total", "counter"),
    ]:
        assert f"# TYPE {family} {kind}" in text, family
    # summary structure: quantile lines + _sum + _count
    assert 'walker_scrape_durations_seconds{group="' in text
    assert 'quantile="0.5"' in text and 'quantile="0.99"' in text
    assert "walker_scrape_durations_seconds_sum{" in text
    assert "walker_scrape_durations_seconds_count{" in text
    # counter totals must agree with the result count
    n = crawled.results_df().count()
    assert f"walker_scrape_counter_total {n}" in text
    assert f"walker_progress_gauge_complete {n}" in text


def test_dual_status_selector(crawled):
    running = crawled.running_results_df()
    complete = crawled.complete_results_df()
    both = report_dual_status("errors", running, complete)
    assert "STATUS running" in both and "STATUS complete" in both
    only = report_dual_status("errors", running, complete, statuses=["complete"])
    assert "STATUS complete" in only and "STATUS running" not in only
    # nil snapshot renders walker's "is nil" line
    nil = report_dual_status("errors", None, complete, statuses=["running"])
    assert "STATUS running is nil" in nil


def test_url_prefix_filters(crawled):
    one = crawled.results_df().select("url").first()["url"]
    text = render_report("list", crawled.results_df(), url=one)
    body = [ln for ln in text.splitlines()[2:] if ln]
    assert len(body) == 1 and body[0].endswith(one)


def test_http_server_serves(crawled):
    server, _t = serve_reports(crawled, port=0, paths=["/"])
    port = server.server_address[1]
    try:
        menu = urllib.request.urlopen(f"http://127.0.0.1:{port}/").read().decode()
        assert "broken-links" in menu and "/metrics" in menu
        metrics = urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics").read().decode()
        assert "# TYPE walker_scrape_durations_seconds summary" in metrics
        errors = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/errors?status=complete"
        ).read().decode()
        assert "STATUS complete" in errors
        assert urllib.request.urlopen(f"http://127.0.0.1:{port}/nope").status == 404
    except urllib.error.HTTPError as e:
        if e.code != 404:
            raise
    finally:
        server.shutdown()


def test_list_pagination_endpoint(crawled):
    """?page=/&pageSize= on /list: walker's Service pagination
    (service.go:137-166) wired to the HTTP surface — page through a
    3-page result set and reassemble the full URL-sorted list."""
    server, _t = serve_reports(crawled, port=0, paths=["/"])
    port = server.server_address[1]
    try:
        full = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/list?status=complete"
        ).read().decode()
        all_rows = [ln for ln in full.splitlines() if ln.startswith(("2", "4"))]
        n = len(all_rows)
        size = (n + 2) // 3  # 3 pages
        seen = []
        for page in range(3):
            txt = urllib.request.urlopen(
                f"http://127.0.0.1:{port}/list?status=complete&page={page}&pageSize={size}"
            ).read().decode()
            rows = [ln for ln in txt.splitlines() if ln.startswith(("2", "4"))]
            assert len(rows) <= size
            seen += rows
        # pagination sorts by url; the unpaged list sorts by "code url"
        # entry — compare as sets and check page disjointness
        assert len(seen) == n and set(seen) == set(all_rows)
        # beyond the last page: empty
        txt = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/list?status=complete&page=9&pageSize={size}"
        ).read().decode()
        assert not [ln for ln in txt.splitlines() if ln.startswith(("2", "4"))]
    finally:
        server.shutdown()
