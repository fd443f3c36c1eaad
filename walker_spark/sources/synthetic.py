"""Deterministic synthetic Common-Crawl-style site generator.

Produces the ``pages`` table of BASELINE.json's ``input_hint``
``(url, warc_ts, html, text, lang)`` plus the ``redirect_edges`` and
``robots`` side tables, at any scale, from a seed — per FIXTURES.md §1:
power-law host sizes (hot hosts exercise skew handling), out-degree 3-12,
~85% same-host links, ~2% broken links, ~3% redirect chains, ~1%
noscript-wrapped links (the reference quirk, ``scrape.go:175-180``),
duplicate/missing titles/descriptions/h1 for the SEO reports, pager
rel=next/prev links, query/tracking links, robots-disallowed subtrees.

Everything is a pure function of ``(seed, host_idx, page_idx)``: the
pure-Python path (:func:`build_store`) feeds the dispatcher oracle; the
Spark path (:func:`write_pages_tables`) generates the same rows
distributed via ``mapInPandas`` over a range — byte-identical by
construction, so the oracle and the pipeline crawl the same site.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from ..dispatcher import PageStore, StorePage
from ..functions.extract import extract_text

__all__ = ["SiteSpec", "host_name", "page_count_per_host", "gen_host_pages", "build_store"]

_EPOCH_S = 1_600_000_000  # warc_ts base
_SECTIONS = ["catalogue", "content", "blog", "shop", "docs"]
_LANGS = ["en", "de", "fr", "it", "es"]


@dataclass(frozen=True)
class SiteSpec:
    seed: int = 42
    n_hosts: int = 10
    n_pages: int = 1000  # total across hosts (power-law split)
    zipf_s: float = 1.2  # 0.0 = uniform host sizes
    scheme: str = "https"
    # floor per-host page count (skew benches: every host must hold at
    # least the politeness budget so fetch volume matches across sites)
    min_host_pages: int = 1

    def host(self, h: int) -> str:
        return host_name(h)


def host_name(h: int) -> str:
    return f"host-{h:04d}.example"


def page_count_per_host(spec: SiteSpec) -> list[int]:
    """Power-law (Zipf ``s``) page counts per host, summing to n_pages,
    each host ≥ 1. Host 0 is the hot host."""
    weights = [(r + 1) ** -spec.zipf_s for r in range(spec.n_hosts)]
    total_w = sum(weights)
    floor = max(1, spec.min_host_pages)
    counts = [max(floor, int(spec.n_pages * w / total_w)) for w in weights]
    # fix rounding drift onto the hot host
    counts[0] += spec.n_pages - sum(counts)
    if counts[0] < floor:
        counts[0] = floor
    return counts


def _rng(spec: SiteSpec, *key) -> random.Random:
    return random.Random(f"{spec.seed}:" + ":".join(str(k) for k in key))


def _page_path(spec: SiteSpec, h: int, i: int) -> str:
    """Deterministic URL path for page i of host h."""
    if i == 0:
        return "/"
    if 1 <= i <= len(_SECTIONS):
        return f"/{_SECTIONS[i - 1]}/"  # one listing root per section → group "<sec>/index"
    r = _rng(spec, "path", h, i)
    sec = _SECTIONS[r.randrange(len(_SECTIONS))]
    kind = r.random()
    if kind < 0.13:
        return f"/a/b/c/{sec}/p-{i}.html"  # deep path (depth 5)
    if kind < 0.17:
        return f"/private/p-{i}.html"  # robots-disallowed subtree
    if kind < 0.27:
        return f"/{sec}/list-{i}.html"  # paginated listing
    return f"/{sec}/p-{i}.html"


def page_url(spec: SiteSpec, h: int, i: int) -> str:
    return f"{spec.scheme}://{host_name(h)}{_page_path(spec, h, i)}"


def robots_body(spec: SiteSpec, h: int) -> str | None:
    """~20% of hosts run a robots.txt disallowing /private/ (and for the
    engine agent a wildcard rule); host 3 disallows everything — the
    fail-start case (``scrapeloop.go:281-289``)."""
    if h == 3:
        return "User-agent: *\nDisallow: /\n"
    if h % 5 == 0:
        return (
            "User-agent: *\n"
            "Disallow: /private/\n"
            "Disallow: /*?*utm_source=\n"
            "Allow: /private/open/\n"
        )
    return None


def gen_host_pages(spec: SiteSpec, h: int, n_h: int, counts: list[int]) -> list[dict]:
    """All page rows for host ``h`` (which has ``n_h`` pages).

    Returns dicts: url, warc_ts_us, html (bytes), text, lang, host,
    redirect_to, redirect_code (empty for real pages).
    """
    host = host_name(h)
    origin = f"{spec.scheme}://{host}"
    lang = _LANGS[h % len(_LANGS)]
    rows: list[dict] = []

    paths = [_page_path(spec, h, i) for i in range(n_h)]
    urls = [origin + p for p in paths]

    for i in range(n_h):
        r = _rng(spec, "page", h, i)
        path = paths[i]
        url = urls[i]

        # ---- link targets ----
        out_deg = 3 + r.randrange(10)
        hrefs: list[str] = []
        if i == 0:
            # index fans out to the first pages so the crawl can reach
            # the graph even at tiny sizes
            hrefs.extend(paths[1 : min(n_h, 6)])
        for _ in range(out_deg):
            roll = r.random()
            if roll < 0.85 or spec.n_hosts == 1:
                j = r.randrange(n_h)
                style = r.random()
                if style < 0.7:
                    hrefs.append(paths[j])
                elif style < 0.9:
                    hrefs.append(origin + paths[j])
                else:
                    hrefs.append(paths[j] + "#sec-" + str(r.randrange(5)))
            elif roll < 0.97:
                g = r.randrange(spec.n_hosts)
                other_n = counts[g]
                hrefs.append(
                    f"{spec.scheme}://{host_name(g)}" + _page_path(spec, g, r.randrange(other_n))
                )
            else:
                hrefs.append(f"/dead/m-{r.randrange(1_000_000)}.html")  # broken
        if r.random() < 0.03:
            hrefs.append(f"/r/{r.randrange(max(1, n_h))}")  # redirect hop
        if r.random() < 0.08:
            j = r.randrange(n_h)
            hrefs.append(paths[j] + "?utm_source=news&utm_campaign=x")
        if r.random() < 0.08:
            j = r.randrange(n_h)
            hrefs.append(paths[j].rstrip("/") + "?color=red&size=1")
        if r.random() < 0.05:
            hrefs.append("mailto:info@" + host)
        if r.random() < 0.05:
            hrefs.append("javascript:void(0)")

        noscript_hrefs: list[str] = []
        if r.random() < 0.01 and len(hrefs) > 2:
            noscript_hrefs = [hrefs.pop(), hrefs.pop()]

        # ---- SEO fields ----
        sec = path.split("/")[1] if "/" in path.strip("/") or path != "/" else ""
        title = f"Page {i} of {host}"
        troll = r.random()
        if troll < 0.10:
            title = f"Duplicate Title {r.randrange(4)}"
        elif troll < 0.15:
            title = ""
        desc = f"Description for page {i} on {host}."
        droll = r.random()
        if droll < 0.10:
            desc = f"Duplicate description {r.randrange(4)}"
        elif droll < 0.25:
            desc = ""
        h1 = f"Heading {i}"
        hroll = r.random()
        if hroll < 0.08:
            h1 = f"Duplicate H1 {r.randrange(4)}"
        elif hroll < 0.14:
            h1 = None  # missing h1
        elif hroll < 0.18:
            h1 = "   "  # empty h1 (whitespace only)
        meta_robots = ""
        if r.random() < 0.02:
            meta_robots = "noindex,nofollow"

        canonical = url
        croll = r.random()
        if croll < 0.05:
            canonical = origin + paths[r.randrange(n_h)]  # canonical mismatch
        elif croll < 0.10:
            canonical = None  # absent
        elif croll < 0.15:
            canonical = path  # relative canonical

        is_listing = "/list-" in path or path.endswith("/")
        page_q = None
        if is_listing and r.random() < 0.6:
            page_q = r.randrange(2, 5)

        # ---- build html ----
        parts = ["<!DOCTYPE html>\n<html>\n<head>\n"]
        if title:
            parts.append(f"  <title>{title}</title>\n")
        if desc:
            parts.append(f'  <meta name="description" content="{desc}">\n')
        if meta_robots:
            parts.append(f'  <meta name="robots" content="{meta_robots}">\n')
        if canonical is not None:
            parts.append(f'  <link rel="canonical" href="{canonical}">\n')
        if page_q is not None:
            parts.append(f'  <link rel="prev" href="{path}?page={page_q - 1}">\n')
            parts.append(f'  <link rel="next" href="{path}?page={page_q + 1}">\n')
        parts.append("</head>\n<body>\n")
        if h1 is not None:
            parts.append(f"  <h1>{h1}</h1>\n")
        parts.append(f"  <h2>Section {sec or 'root'}</h2>\n")
        if sec == "catalogue":
            parts.append(
                '  <script type="application/ld+json">'
                '{"@context":"http://schema.org","@type":"Product","name":"P%d"}'
                "</script>\n" % i
            )
        parts.append(
            f"  <p>Deterministic body text for page {i} on {host}. "
            f"Sector {sec or 'root'} lorem ipsum {r.randrange(10 ** 6)}.</p>\n"
        )
        for href in hrefs:
            parts.append(f'  <a href="{href}">link {href[:40]}</a>\n')
        if noscript_hrefs:
            parts.append("  <noscript>\n")
            for href in noscript_hrefs:
                parts.append(f'    <a href="{href}">ns {href[:40]}</a>\n')
            parts.append("  </noscript>\n")
        parts.append("</body>\n</html>\n")
        html = "".join(parts)

        rows.append(
            {
                "url": url,
                "warc_ts_us": (_EPOCH_S + (h * 100_000 + i) % 10_000_000) * 1_000_000,
                "html": html.encode("utf-8"),
                "text": extract_text(html),
                "lang": lang,
                "host": host,
                "redirect_to": "",
                "redirect_code": 0,
            }
        )

    # redirect entities /r/<k> → page k (chain of 1; a few chain twice)
    for k in range(n_h):
        r = _rng(spec, "redir", h, k)
        if r.random() < 0.5:
            continue  # only some /r/ URLs exist
        target = urls[r.randrange(n_h)]
        via_double = r.random() < 0.2 and k + 1 < n_h
        rows.append(
            {
                "url": f"{origin}/r/{k}",
                "warc_ts_us": 0,
                "html": b"",
                "text": "",
                "lang": lang,
                "host": host,
                "redirect_to": f"{origin}/r/{k + 1}" if via_double and _redir_exists(spec, h, k + 1) else target,
                "redirect_code": 301 if r.random() < 0.8 else 302,
            }
        )
    return rows


def _redir_exists(spec: SiteSpec, h: int, k: int) -> bool:
    return _rng(spec, "redir", h, k).random() >= 0.5


def write_pages_tables(spark, spec: SiteSpec, out_dir: str) -> dict[str, str]:
    """Distributed generation of the same rows: one task slice per host
    (generation is a pure function of (seed, host, i), so the Spark path
    and :func:`build_store` are byte-identical). Writes:

    * ``pages.parquet``          (url, warc_ts, html, text, lang, host, host_hash)
    * ``redirect_edges.parquet`` (src, code, dst, host)
    * ``robots.parquet``         (host, body)
    * ``seeds.parquet``          (url, host)
    """
    import pandas as pd
    from pyspark.sql import functions as F

    counts = page_count_per_host(spec)
    hosts_df = spark.createDataFrame(
        [(h, counts[h]) for h in range(spec.n_hosts)], "h int, n_h int"
    ).repartition(min(spec.n_hosts, 256), "h")

    out_schema = (
        "url string, warc_ts_us long, html binary, text string, lang string, "
        "host string, redirect_to string, redirect_code int"
    )

    def gen(batches):
        for pdf in batches:
            for t in pdf.itertuples(index=False):
                rows = gen_host_pages(spec, int(t.h), int(t.n_h), counts)
                if rows:
                    yield pd.DataFrame(rows)

    all_rows = hosts_df.mapInPandas(gen, out_schema)
    all_rows = all_rows.withColumn(
        "warc_ts", (F.col("warc_ts_us") / 1_000_000).cast("timestamp")
    ).withColumn("host_hash", F.pmod(F.xxhash64("host"), F.lit(64)))

    paths = {}
    pages = all_rows.filter(F.col("redirect_to") == "").select(
        "url", "warc_ts", "html", "text", "lang", "host", "host_hash"
    )
    paths["pages"] = f"{out_dir}/pages.parquet"
    # Spread pages over url-keyed files: generation parallelism is
    # per-host, which for few-host sites yields a handful of one-row-
    # group files — capping any later scan (and the scan-side extract
    # stage) at that file count. A real Common-Crawl table is thousands
    # of files; mimic that shape, scaled to the site size.
    n_files = min(256, max(8, sum(counts) // 1000))
    pages.repartition(n_files, "url").write.mode("overwrite").parquet(paths["pages"])

    redirects = all_rows.filter(F.col("redirect_to") != "").select(
        F.col("url").alias("src"),
        F.col("redirect_code").alias("code"),
        F.col("redirect_to").alias("dst"),
        "host",
    )
    paths["redirect_edges"] = f"{out_dir}/redirect_edges.parquet"
    redirects.write.mode("overwrite").parquet(paths["redirect_edges"])

    robots_rows = [
        (host_name(h), robots_body(spec, h))
        for h in range(spec.n_hosts)
        if robots_body(spec, h) is not None
    ]
    robots_df = spark.createDataFrame(robots_rows or [("", "")], "host string, body string")
    if not robots_rows:
        robots_df = robots_df.limit(0)
    paths["robots"] = f"{out_dir}/robots.parquet"
    robots_df.write.mode("overwrite").parquet(paths["robots"])

    seeds_df = spark.createDataFrame(
        [(f"{spec.scheme}://{host_name(h)}/", host_name(h)) for h in range(spec.n_hosts)],
        "url string, host string",
    )
    paths["seeds"] = f"{out_dir}/seeds.parquet"
    seeds_df.write.mode("overwrite").parquet(paths["seeds"])
    return paths


def build_store(spec: SiteSpec) -> PageStore:
    """Pure-Python page store for the dispatcher oracle."""
    counts = page_count_per_host(spec)
    pages: dict[str, StorePage] = {}
    robots: dict[str, str] = {}
    for h in range(spec.n_hosts):
        for row in gen_host_pages(spec, h, counts[h], counts):
            if row["redirect_to"]:
                pages[row["url"]] = StorePage(
                    url=row["url"],
                    redirect_to=row["redirect_to"],
                    redirect_code=row["redirect_code"],
                )
            else:
                pages[row["url"]] = StorePage(url=row["url"], html=row["html"])
        body = robots_body(spec, h)
        if body is not None:
            robots[host_name(h)] = body
    return PageStore(pages, robots)
