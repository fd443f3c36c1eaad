"""Report-layer unit tests over a crafted results frame with hand-computed
goldens (walker report semantics, SURVEY.md §2.3-2.5)."""

import pyspark.sql.functions as F
import pytest

from walker_spark.operators import reports as R
from walker_spark.plans.crawl import RESULT_SCHEMA


def _mk_results(spark):
    def row(url, code=200, dur_ms=100, group="default", redirects=None,
            nlinks=None, title="t", desc="d", headings=None, canonical=None,
            ct="text/html"):
        return {
            "url": url, "host": "h.example", "depth": 0, "round": 0,
            "link_count": 0, "code": code, "status": f"{code} X",
            "content_type": ct, "group": group, "error": "",
            "duration_us": dur_ms * 1000, "time_us": 0,
            "redirects": redirects or [],
            "links": {}, "normalized_links": nlinks or {},
            "link_norms": list((nlinks or {}).keys()),
            "link_next_norm": "", "link_prev_norm": "",
            "structure": {
                "title": title, "description": desc, "robots": "",
                "headings": headings if headings is not None else [{"level": 1, "text": "H"}],
                "linked_data": [], "canonical": canonical or url,
                "link_prev": "", "link_next": "",
            },
            "text": "", "data": None, "validations": None,
            "validation_report": None, "custom_links": None,
        }

    B = "https://h.example"
    rows = [
        row(f"{B}/a", dur_ms=30, nlinks={f"{B}/b": 2, f"{B}/missing": 1}),
        row(f"{B}/b", dur_ms=150, title="dup-title", nlinks={f"{B}/missing": 1}),
        row(f"{B}/c", dur_ms=700, title="dup-title", desc=""),
        row(f"{B}/missing", code=404, dur_ms=2000),
        row(f"{B}/err", code=503, dur_ms=80),
        row(f"{B}/r", code=200, dur_ms=40,
            redirects=[{"code": 301, "url": f"{B}/r2"}], canonical=f"{B}/r2"),
        row(f"{B}/noh1", dur_ms=60, headings=[{"level": 2, "text": "x"}]),
    ]
    return spark.createDataFrame(rows, RESULT_SCHEMA)


@pytest.fixture(scope="module")
def results(spark):
    return _mk_results(spark)


def test_status_histogram(results):
    got = {(r["code"], r["cnt"]) for r in R.status_histogram(results).collect()}
    assert got == {(200, 5), (404, 1), (503, 1)}


def test_error_report(results):
    got = {r["error_class"]: r["cnt"] for r in R.error_report(results).collect()}
    assert got == {"ok": 5, "not_found": 1, "server_error": 1}


def test_latency_buckets(results):
    got = {(r["bucket"], r["cnt"]) for r in R.latency_buckets(results).collect()}
    assert ("awesome", 2) in got  # 30,40ms
    assert ("great", 2) in got  # 60,80ms
    assert ("ok, google loves you", 1) in got  # 150
    assert ("bad, users start to feel a real difference", 1) in got  # 700
    assert ("really bad, you are loosing users", 1) in got  # 2000


def test_broken_links_backjoin(results):
    rows = R.broken_links(results).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["dst_url"].endswith("/missing")
    assert r["n_sources"] == 2
    assert [s.split("/")[-1] for s in r["sources"]] == ["a", "b"]


def test_reverse_links(results):
    got = {r["url"].split("/")[-1]: r["linked_from"] for r in R.reverse_links(results).collect()}
    assert [s.split("/")[-1] for s in got["b"]] == ["a"]
    assert [s.split("/")[-1] for s in got["missing"]] == ["a", "b"]
    assert got["c"] == []


def test_final_url_and_redirect_report(results):
    rr = R.redirect_report(results).collect()
    assert len(rr) == 1 and rr[0]["max_code"] == 301 and rr[0]["cnt"] == 1


def test_seo_report(results):
    seo = R.seo_report(results)
    dup_titles = {r["title"]: r["urls"] for r in seo["duplicate_titles"].collect()}
    # "dup-title" shared by b,c; the default "t" shared by a,r,noh1
    assert set(dup_titles) == {"dup-title", "t"}
    assert [u.split("/")[-1] for u in dup_titles["dup-title"]] == ["b", "c"]
    missing_desc = [r["url"].split("/")[-1] for r in seo["missing_descriptions"].collect()]
    assert missing_desc == ["c"]
    missing_h1 = [r["url"].split("/")[-1] for r in seo["missing_h1"].collect()]
    # /noh1 has only h2; 404/503 are ineligible by code; /r eligible via
    # canonical == final redirect url
    assert missing_h1 == ["noh1"]
    # canonical-mismatch exclusion: all eligible pages have canonical==final
    assert seo["duplicate_h1"].count() >= 1  # "H" shared by eligible pages


def test_pagination_and_highscore(results):
    page0 = [r["url"].split("/")[-1] for r in R.paginate(results, 0, 3).collect()]
    page1 = [r["url"].split("/")[-1] for r in R.paginate(results, 1, 3).collect()]
    assert page0 == ["a", "b", "c"] and page1 == ["err", "missing", "noh1"]
    # negative page: service.go:153-165 computes end BEFORE clamping
    # start, end <= start -> the FULL sorted set comes back unsliced
    full = [r["url"].split("/")[-1] for r in R.paginate(results, -1, 3).collect()]
    assert len(full) == results.count() and full[:3] == page0
    hs = R.highscore(results).collect()
    assert [r["rank"] for r in hs] == list(range(1, 8))
    assert hs[0]["duration_us"] == 30000


def test_filter_results(results):
    assert R.filter_results(results, status=[200]).count() == 5
    assert R.filter_results(results, min_dur_us=50000, max_dur_us=200000).count() == 3
    assert R.filter_results(results, prefix="https://h.example/m").count() == 1


def test_render_summary_and_gauges(spark, results):
    txt = R.render_summary(results)
    assert "status codes" in txt and "404 1" in txt and "performance buckets" in txt
    frontier = spark.createDataFrame(
        [("u", "h", 0, 0)], "url string, host string, depth int, link_count long"
    )
    g = R.progress_gauges(frontier, results)
    assert g == {"open": 1, "done": 7, "pending": 0}
