"""Pure-Python reference dispatcher — the deterministic crawl oracle.

Walker's dispatcher (``scrapeloop.go:202-246,313-368``) picks jobs by Go
map iteration, which is *randomized*; its tests only pin down the
deterministic envelope: BFS round structure (a drained frontier completes
a loop), dedup-first-wins enqueue (``scrapeloop.go:361-367``), and the
bounded-concurrency fetch budget. This module pins the full deterministic
semantics our Spark pipeline must reproduce (SURVEY.md §5.3):

* BSP rounds: round *r* fetches a batch selected from the frontier;
  links discovered in round *r* join the frontier with depth *r+1*.
* Per-host politeness budget: within each host, order by
  ``(depth asc, link_count desc, url asc)`` and take the first
  ``host_budget`` (0 = unlimited). Unselected entries stay queued.
* Dedup first-wins: a URL is enqueued once, ever; same-round duplicate
  discoveries merge their occurrence counts into ``link_count``
  (order-independent, unlike walker's arrival order — spec'd this way so
  the distributed pipeline can reproduce it exactly).
* Fetch = lookup in a page store (redirects followed, cap 10); link
  extraction + the filterscrapelinks chain exactly as the reference.

The oracle produces the golden ``(round, batch_pos, url, …)`` order and
the final URL-seen set; `plans/crawl.py` must emit identical batches.
"""

from __future__ import annotations

import http.client
from dataclasses import dataclass, field

from .config import CrawlConfig
from .functions.extract import extract_links, extract_structure
from .functions.hashing import synthetic_duration_us, synthetic_time_us
from .functions.robots import RobotsGroup, parse_robots
from .linkcore import LinkLimitations, filter_scrape_links
from .urlnorm import normalize_link, split_url, url_host, url_path

__all__ = ["StorePage", "PageStore", "OracleResult", "ReferenceDispatcher"]

REDIRECT_CAP = 10  # scrapeloop.go:66-67


@dataclass
class StorePage:
    """One fetchable entity. Either a real page (html set) or a redirect
    (redirect_to set)."""

    url: str
    html: bytes = b""
    content_type: str = "text/html; charset=utf-8"
    code: int = 200
    group_header: str = ""  # value the synthetic server would send
    redirect_to: str = ""
    redirect_code: int = 301


class PageStore:
    """URL → StorePage dict plus per-host robots bodies."""

    def __init__(self, pages: dict[str, StorePage], robots: dict[str, str] | None = None):
        self.pages = pages
        self.robots = robots or {}


@dataclass
class FetchedResult:
    url: str
    host: str
    depth: int
    round_no: int
    batch_pos: int
    code: int = 0
    status: str = ""
    content_type: str = ""
    group: str = "default"
    error: str = ""
    duration_us: int = 0
    time_us: int = 0
    redirects: list[tuple[int, str]] = field(default_factory=list)
    links: dict[str, int] = field(default_factory=dict)
    normalized_links: dict[str, int] = field(default_factory=dict)
    structure: dict = field(default_factory=dict)


@dataclass
class OracleResult:
    order: list[dict]  # (round, batch_pos, url, host, depth, link_count)
    results: dict[str, FetchedResult]
    seen: set[str]
    rounds: int


def _status_line(code: int) -> str:
    return f"{code} {http.client.responses.get(code, '')}".rstrip()


def _derive_group(path: str, group_header_enabled: bool) -> str:
    """Synthetic stand-in for the example server's group header
    (reference ``htmlschema/example/server.go:22-49``) plus walker's
    trailing-slash → +\"index\" rule (``scrape.go:85-88``)."""
    if not group_header_enabled:
        return "default"
    if path == "/":
        return "content/index"
    parts = path.split("/")
    group = "default"
    if len(parts) == 3:
        page_parts = parts[2].split("-")
        if len(page_parts) == 1:
            page = page_parts[0]
            page = page[: -len(".html")] if page.endswith(".html") else page
        elif len(page_parts) == 2:
            page = page_parts[0]
        else:
            return "default"
        group = parts[1] + "/" + page
    if group.endswith("/"):
        group += "index"
    return group


class ReferenceDispatcher:
    def __init__(self, store: PageStore, conf: CrawlConfig, multi_host: bool = False):
        self.store = store
        self.conf = conf
        self.multi_host = multi_host
        self.ll = LinkLimitations(
            depth=conf.depth,
            paging=conf.paging,
            ignore_all_queries=conf.ignore_all_queries,
            ignore_path_prefixes=list(conf.ignore),
            include_path_prefixes=list(conf.target.paths),
            ignore_queries_with=list(conf.ignore_queries_with),
        )

    def _robots_group(self, host: str) -> RobotsGroup | None:
        if self.conf.ignore_robots:
            return None
        body = self.store.robots.get(host)
        if body is None:
            return None  # no robots.txt → nil group → everything allowed
        return parse_robots(body).find_group(self.conf.agent)

    def _base_for(self, url: str) -> str:
        if self.multi_host:
            u = split_url(url)
            return f"{u.scheme}://{u.host}"
        return self.conf.target.base_url

    def check_seeds(self) -> list[str]:
        """Fail-start check (``scrapeloop.go:281-289``): seed paths the
        robots group forbids. Non-empty → walker refuses to start."""
        host = url_host(self.conf.target.base_url)
        g = self._robots_group(host)
        if g is None:
            return []
        return [p for p in self.conf.target.paths if not g.test(p)]

    def _fetch(self, url: str) -> tuple[StorePage | None, list[tuple[int, str]], str]:
        """Follow redirects in the store; returns (final page | None,
        redirect chain, error)."""
        chain: list[tuple[int, str]] = []
        cur = url
        while True:
            page = self.store.pages.get(cur)
            if page is None:
                return None, chain, ""
            if not page.redirect_to:
                return page, chain, ""
            # Go's CheckRedirect (scrapeloop.go:65-68) errors when
            # len(via) > 9 and `via` includes the initial request: the
            # 10th *attempted* redirect fails, so at most 9 are followed
            # and the error chain carries the 9 recorded hops.
            if len(chain) >= REDIRECT_CAP - 1:
                return None, chain, "stopped after 10 redirects"
            chain.append((page.redirect_code, page.redirect_to))
            cur = page.redirect_to

    def run(self) -> OracleResult:
        conf = self.conf
        seeds = conf.seed_urls()
        jobs: dict[str, tuple[int, int]] = {}  # url -> (depth, link_count)
        for s in seeds:
            if s not in jobs:
                jobs[s] = (0, 0)
        results: dict[str, FetchedResult] = {}
        order: list[dict] = []
        robots_cache: dict[str, RobotsGroup | None] = {}
        round_no = 0
        group_enabled = conf.group_header != ""

        while jobs and (conf.max_rounds <= 0 or round_no < conf.max_rounds):
            # --- politeness selection (W5) ---
            by_host: dict[str, list[tuple[int, int, str]]] = {}
            for url, (depth, lc) in jobs.items():
                by_host.setdefault(url_host(url), []).append((depth, lc, url))
            batch: list[tuple[str, str, int, int]] = []  # host,url,depth,lc
            for host in sorted(by_host):
                entries = sorted(by_host[host], key=lambda e: (e[0], -e[1], e[2]))
                if conf.host_budget > 0:
                    entries = entries[: conf.host_budget]
                for depth, lc, url in entries:
                    batch.append((host, url, depth, lc))

            # --- fetch + integrate, in deterministic batch order ---
            new_jobs: dict[str, tuple[int, int]] = {}
            for pos, (host, url, depth, lc) in enumerate(batch):
                order.append(
                    {
                        "round": round_no,
                        "batch_pos": pos,
                        "url": url,
                        "host": host,
                        "depth": depth,
                        "link_count": lc,
                    }
                )
                del jobs[url]
                r = FetchedResult(
                    url=url,
                    host=host,
                    depth=depth,
                    round_no=round_no,
                    batch_pos=pos,
                    duration_us=synthetic_duration_us(url),
                    time_us=synthetic_time_us(round_no),
                )
                page, chain, err = self._fetch(url)
                r.redirects = chain
                if err:
                    r.error = err
                    r.code = 0
                elif page is None:
                    r.code = 404
                    r.status = _status_line(404)
                    r.content_type = "text/plain; charset=utf-8"
                else:
                    r.code = page.code
                    r.status = _status_line(page.code)
                    r.content_type = page.content_type
                    final_url = chain[-1][1] if chain else url
                    r.group = _derive_group(url_path(final_url), group_enabled)
                    if "html" in r.content_type:
                        html = page.html.decode("utf-8", errors="replace")
                        r.links = extract_links(html)
                        r.structure = extract_structure(html)
                        base = self._base_for(url)
                        nl: dict[str, int] = {}
                        for raw, c in r.links.items():
                            n = normalize_link(base, raw)
                            if n is not None:
                                nl[n] = c
                        r.normalized_links = nl
                results[url] = r

                # link following (scrapeloop.go:346-367)
                if r.structure and "nofollow" in r.structure.get("robots", "") and not conf.ignore_robots:
                    continue
                if not r.links:
                    continue
                base = self._base_for(url)
                s = r.structure or {}
                nn = normalize_link(base, s.get("link_next", "")) or ""
                pn = normalize_link(base, s.get("link_prev", "")) or ""
                if host not in robots_cache:
                    robots_cache[host] = self._robots_group(host)
                surviving = filter_scrape_links(
                    r.links, base, nn, pn, self.ll, robots_cache[host]
                )
                for link, cnt in surviving.items():
                    if link in results or link in jobs:
                        continue  # dedup first-wins
                    if link in new_jobs:
                        # same-round merge, order-independent:
                        # depth = min over discoverers, count = sum
                        d, c = new_jobs[link]
                        new_jobs[link] = (min(d, depth + 1), c + cnt)
                    else:
                        new_jobs[link] = (depth + 1, cnt)

            for link, (d, c) in new_jobs.items():
                if link not in results and link not in jobs:
                    jobs[link] = (d, c)
            round_no += 1

        return OracleResult(
            order=order, results=results, seen=set(results) | set(jobs), rounds=round_no
        )
