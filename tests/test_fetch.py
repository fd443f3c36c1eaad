"""J1's row contract: the fetch join gives exactly one result row per
batch row, whether the url has a page, has none, redirects to a page, or
fails to resolve its redirects."""

from walker_spark.plans.crawl import fetch_and_extract

ORIGIN = "https://host-0000.example"
CHAIN = "array<struct<code:int,url:string>>"


def test_one_result_row_per_batch_row(spark):
    page, missing, final = f"{ORIGIN}/page", f"{ORIGIN}/missing", f"{ORIGIN}/final"
    redir, redir2, loop = f"{ORIGIN}/redir", f"{ORIGIN}/redir2", f"{ORIGIN}/loop"
    urls = [page, missing, redir, loop, redir2]
    batch = spark.createDataFrame(
        [(u, "host-0000.example", 1, 1, i) for i, u in enumerate(urls)],
        "url string, host string, depth int, link_count long, batch_pos long",
    )
    loop_chain = [(302, f"{ORIGIN}/loop{i}") for i in range(10)]
    redirect_map = spark.createDataFrame(
        [
            (redir, final, [(301, final)], ""),
            # a second source landing on the same page: a duplicate key
            # on the join's build side
            (redir2, final, [(302, redir), (301, final)], ""),
            (loop, None, loop_chain, "stopped after 10 redirects"),
        ],
        f"src string, final_url string, redirects {CHAIN}, error string",
    )
    html = bytearray(b"<html><head><title>t</title></head><a href='/x'>x</a></html>")
    pages = spark.createDataFrame([(page, html), (final, html)], "url string, html binary")

    got = fetch_and_extract(
        batch, pages, redirect_map, 0, False, False, ORIGIN
    ).collect()

    assert sorted(r["url"] for r in got) == sorted(urls)
    rows = {r["url"]: r for r in got}
    want = {
        page: (200, ""),
        missing: (404, ""),
        redir: (200, ""),
        loop: (0, "stopped after 10 redirects"),
        redir2: (200, ""),
    }
    assert {u: (r["code"], r["error"]) for u, r in rows.items()} == want
    chain = lambda u: [(c["code"], c["url"]) for c in rows[u]["redirects"]]  # noqa: E731
    assert chain(redir) == [(301, final)]
    assert chain(redir2) == [(302, redir), (301, final)]
    assert chain(loop) == loop_chain
    assert rows[redir]["link_norms"] == [f"{ORIGIN}/x"]
    assert rows[missing]["link_norms"] == []


def test_page_with_marked_section_fetches(spark):
    # a stray `<![` on one page used to raise inside the extract UDF and
    # fail the whole results write
    page = f"{ORIGIN}/page"
    batch = spark.createDataFrame(
        [(page, "host-0000.example", 1, 1, 0)],
        "url string, host string, depth int, link_count long, batch_pos long",
    )
    html = bytearray(b"<html><![foo[x]]><a href='/x'>x</a></html>")
    pages = spark.createDataFrame([(page, html)], "url string, html binary")
    got = fetch_and_extract(batch, pages, None, 0, False, False, ORIGIN).collect()
    assert [(r["code"], r["link_norms"]) for r in got] == [(200, [f"{ORIGIN}/x"])]
