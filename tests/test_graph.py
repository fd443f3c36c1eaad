"""PageRank: distributed loop vs an independent single-machine
reference, mass conservation, dangling handling."""

import math

from walker_spark.operators.graph import pagerank


def _reference(edges, nodes, iters=5, d=0.85, q=12):
    """Plain-Python PageRank with the operator's exact quantization
    (half-away rounding per step) — an independent reference."""
    def rq(x):
        return math.floor(x * 10.0**q + 0.5) / 10.0**q

    n = len(nodes)
    out = {}
    for s, _t in edges:
        out[s] = out.get(s, 0) + 1
    r = {v: rq(1.0 / n) for v in nodes}
    for _ in range(iters):
        inc = {v: 0.0 for v in nodes}
        for s, t in edges:
            inc[t] += rq(r[s] / out[s])
        dang = sum(r[v] for v in nodes if v not in out)
        base = (1.0 - d) / n + d * rq(dang) / n
        r = {v: rq(base + d * inc[v]) for v in nodes}
    return {v: round(r[v], 6) for v in nodes}


# a graph with hubs, chains, a dangling sink, and (with nodes 0..10)
# an isolated node
_EDGES = (
    [(0, i) for i in range(1, 6)]          # hub out
    + [(i, 0) for i in range(1, 6)]        # hub in
    + [(5, 6), (6, 7), (7, 8)]             # chain into dangling 8
    + [(2, 9), (3, 9)]                     # 9: two in-links, dangling
)


def test_pagerank_matches_reference(spark):
    edges = _EDGES
    nodes = list(range(11))                    # 10 is isolated
    e = spark.createDataFrame(edges, "s long, t long")
    v = spark.createDataFrame([(x,) for x in nodes], "id long")
    got = {r["id"]: r["rank"] for r in pagerank(e, nodes=v, iterations=5).collect()}
    want = _reference(edges, nodes)
    assert got == want
    # mass is conserved up to quantization dust
    assert abs(sum(got.values()) - 1.0) < 1e-4
    # structure sanity: the hub outranks chain members; 9 > isolated 10
    assert got[0] == max(got.values())
    assert got[9] > got[10] > 0


def test_pagerank_deep_loop_matches_reference(spark):
    nodes = list(range(11))
    e = spark.createDataFrame(_EDGES, "s long, t long")
    v = spark.createDataFrame([(x,) for x in nodes], "id long")
    got = {r["id"]: r["rank"] for r in pagerank(e, nodes=v, iterations=8).collect()}
    assert got == _reference(_EDGES, nodes, iters=8)


def test_pagerank_plan_size_flat_in_iterations(spark):
    # each iteration ends in a checkpoint, so the plan handed to the
    # optimizer holds one iteration whatever the count; an uncut loop
    # re-plans the rank subtree once per reference, ~2^iterations
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (2, 3)], "s long, t long")
    v = spark.createDataFrame([(x,) for x in range(4)], "id long")

    def plan_chars(iterations):
        df = pagerank(e, nodes=v, iterations=iterations)
        return len(df._jdf.queryExecution().optimizedPlan().toString())

    assert plan_chars(6) <= plan_chars(3)


def test_pagerank_edge_derived_nodes_and_empty(spark):
    e = spark.createDataFrame([(1, 2), (2, 1)], "s long, t long")
    got = {r["id"]: r["rank"] for r in pagerank(e, iterations=3).collect()}
    # symmetric 2-cycle: equal ranks, each ~0.5
    assert got[1] == got[2]
    assert abs(got[1] - 0.5) < 1e-6
    empty = spark.createDataFrame([], "s long, t long")
    assert pagerank(empty, iterations=2).collect() == []


def test_extract_anchor_texts_and_rollup(spark):
    from walker_spark.functions.extract import extract_anchor_texts
    from walker_spark.operators.graph import anchor_rollup_from_pages

    html = (
        "<html><body>"
        '<a href="/a">First  Link</a>'
        '<a href="/b"><b>bold</b> text</a>'
        '<a href="/a">First Link</a>'
        '<a href="">empty href skipped</a>'
        '<a href="/c">unclosed <a href="/d">next closes prev</a>'
        "<noscript><a href='/n'>ns</a></noscript>"
        "</body></html>"
    )
    pairs = extract_anchor_texts(html)
    assert ("/a", "First Link") in pairs
    assert pairs.count(("/a", "First Link")) == 2
    assert ("/b", "bold text") in pairs  # nested markup, collapsed ws
    assert ("/c", "unclosed") in pairs  # implicit close on new <a>
    assert ("/d", "next closes prev") in pairs
    assert not any(h == "" for h, _ in pairs)

    # absolute normalization against the page URL
    norm = extract_anchor_texts(html, base_url="https://Ex.com/x/page#frag")
    assert ("https://Ex.com/a", "First Link") in norm

    pages = spark.createDataFrame(
        [
            ("https://h.example/p1", html.encode()),
            ("https://h.example/p2", b'<a href="/a">First Link</a>'),
        ],
        "url string, html binary",
    )
    out = {
        r["target_id"] if "target_id" in r.asDict() else r["target"]: r
        for r in anchor_rollup_from_pages(pages, k=2).collect()
    }
    a = out["https://h.example/a"]
    assert a["n_inlinks"] == 3 and a["n_unique_anchors"] == 1
    assert a["top_anchors"] == "First Link"


def test_anchor_rollup_topk_determinism(spark):
    from walker_spark.operators.graph import anchor_text_rollup

    links = spark.createDataFrame(
        [("t", "b"), ("t", "a"), ("t", "c"), ("t", "c")],
        "target string, anchor string",
    )
    row = anchor_text_rollup(links, k=2).collect()[0]
    # c wins on count; a/b tie on count=1 -> lexicographic 'a'
    assert row["top_anchors"] == "c|a"
    assert row["n_inlinks"] == 4 and row["n_unique_anchors"] == 3


def test_hits_semantics(spark):
    from walker_spark.operators.graph import hits

    # 1 links to both authorities, 2 to one; 3 has the most inlinks
    edges = spark.createDataFrame(
        [(1, 3), (1, 4), (2, 3)], "s long, t long"
    )
    out = {r["id"]: r for r in hits(edges, iterations=8).collect()}
    assert out[1]["hub"] > out[2]["hub"] > 0.0
    assert out[3]["authority"] > out[4]["authority"] > 0.0
    # pure hubs have no authority and vice versa
    assert out[1]["authority"] == 0.0 and out[3]["hub"] == 0.0
    # L1 normalization: each family sums to ~1 on the 6-dec output grid
    assert abs(sum(r["hub"] for r in out.values()) - 1.0) < 1e-5
    assert abs(sum(r["authority"] for r in out.values()) - 1.0) < 1e-5


def test_hits_partitioning_invariant(spark):
    from walker_spark.operators.graph import hits

    import random

    rng = random.Random(11)
    edges = spark.createDataFrame(
        [(rng.randrange(60), rng.randrange(60)) for _ in range(300)],
        "s long, t long",
    ).filter("s <> t")
    a = hits(edges, iterations=4).collect()
    b = hits(edges.repartition(13), iterations=4).collect()
    assert {(r["id"], r["hub"], r["authority"]) for r in a} == {
        (r["id"], r["hub"], r["authority"]) for r in b
    }


def test_hits_empty_and_isolated(spark):
    from walker_spark.operators.graph import hits

    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    empty = spark.createDataFrame([], "s long, t long")
    out = {r["id"]: r for r in hits(empty, nodes=nodes).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert all(r["hub"] == 0.0 and r["authority"] == 0.0 for r in out.values())

    # isolated node rides along with zeros
    edges = spark.createDataFrame([(0, 1)], "s long, t long")
    out2 = {r["id"]: r for r in hits(edges, nodes=nodes, iterations=3).collect()}
    assert out2[0]["hub"] == 1.0 and out2[1]["authority"] == 1.0
    assert out2[2]["hub"] == 0.0 and out2[2]["authority"] == 0.0


def test_host_graph(spark):
    from walker_spark.operators.graph import host_graph

    links = spark.createDataFrame(
        [
            ("http://a.com/1", "http://b.com/x"),
            ("http://a.com/2", "http://b.com/x"),
            ("http://a.com/1", "HTTP://B.COM/y"),      # case-folds to b.com
            ("http://a.com/3", "http://a.com/self"),    # self-loop dropped
            ("http://c.com:8080/p", "http://a.com/1"),  # port split off host
        ],
        "src_url string, dst_url string",
    )
    out = {(r["src_host"], r["dst_host"]): r for r in host_graph(links).collect()}
    ab = out[("a.com", "b.com")]
    # n_dst_pages counts DISTINCT raw urls: b.com/x (deduped) + B.COM/y
    assert ab["n_links"] == 3 and ab["n_src_pages"] == 2 and ab["n_dst_pages"] == 2
    assert ("a.com", "a.com") not in out
    assert ("c.com", "a.com") in out
    kept = {(r["src_host"], r["dst_host"]) for r in host_graph(links, keep_self=True).collect()}
    assert ("a.com", "a.com") in kept
