"""Crawl configuration, mirroring reference ``config/config.go``.

YAML shape (polymorphic ``target``: plain string or {baseurl, paths}),
defaults from ``config/config.go:69-76``, and the path-defaulting rule of
``config/config.go:125-137`` (no paths → path of base URL, or ``/``).

Spark-specific additions (the BSP engine needs them; walker has no
equivalents because it crawls live with a worker pool):

* ``host_budget``   — max URLs fetched per host per round (politeness
  quota; walker approximates with its global concurrency cap,
  ``scrapeloop.go:209-212``).
* ``max_rounds``    — BSP safety stop (walker loops forever).
* ``partitions``    — number of host-hash partitions P for the frontier /
  seen tables (``host_hash = xxhash64(host) % P``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from urllib.parse import urlsplit

try:
    import yaml  # type: ignore
except ImportError:  # pragma: no cover - yaml is stdlib-adjacent but optional
    yaml = None

__all__ = ["Target", "CrawlConfig", "load_config", "sort_paths_by_length"]


@dataclass
class Target:
    base_url: str = ""
    paths: list[str] = field(default_factory=list)


@dataclass
class CrawlConfig:
    # walker-parity fields (config/config.go:43-57)
    concurrency: int = 2
    target: Target = field(default_factory=Target)
    ignore: list[str] = field(default_factory=list)
    ignore_queries_with: list[str] = field(default_factory=list)
    ignore_all_queries: bool = False
    depth: int = 0
    paging: bool = False
    ignore_robots: bool = False
    group_header: str = ""
    agent: str = "foomo-walker"
    # Spark-engine fields
    host_budget: int = 16
    max_rounds: int = 0  # 0 = run to fixpoint
    partitions: int = 32
    # north-rule seen-keying: dedup the frontier on canonicalize(url)
    # (lowercase host, default-port strip, sorted query params) instead
    # of walker's raw normalized string; the lexicographically smallest
    # spelling is fetched. False = exact walker parity.
    canonical_seen: bool = False

    def seed_urls(self) -> list[str]:
        """Round-0 frontier, mirroring restart() seeding
        (``scrapeloop.go:128-153``): scheme://host + path + ?query."""
        u = urlsplit(self.target.base_url)
        base = f"{u.scheme}://{u.netloc}"
        q = f"?{u.query}" if u.query else ""
        return [base + p + q for p in self.target.paths]


def _apply_target(conf: CrawlConfig, raw) -> None:
    if isinstance(raw, str):
        conf.target.base_url = raw
    elif isinstance(raw, dict):
        for key, v in raw.items():
            k = key.lower()
            if k == "baseurl":
                if not isinstance(v, str):
                    raise ValueError("illegal type for target.BaseURL")
                conf.target.base_url = v
            elif k == "paths":
                if not isinstance(v, list):
                    raise ValueError("illegal type for target.Paths")
                conf.target.paths = [str(p) for p in v]


def load_config(yaml_text: str) -> CrawlConfig:
    """Parse YAML → :class:`CrawlConfig` with walker's defaulting rules."""
    if yaml is None:  # pragma: no cover
        raise RuntimeError("pyyaml not available")
    data = yaml.safe_load(yaml_text) or {}
    lowered = {str(k).lower(): v for k, v in data.items()}
    conf = CrawlConfig()
    simple = {
        "concurrency": "concurrency",
        "ignore": "ignore",
        "ignorequerieswith": "ignore_queries_with",
        "ignoreallqueries": "ignore_all_queries",
        "depth": "depth",
        "paging": "paging",
        "ignorerobots": "ignore_robots",
        "groupheader": "group_header",
        "agent": "agent",
        "hostbudget": "host_budget",
        "maxrounds": "max_rounds",
        "partitions": "partitions",
    }
    for yk, attr in simple.items():
        if yk in lowered and lowered[yk] is not None:
            setattr(conf, attr, lowered[yk])
    _apply_target(conf, lowered.get("target"))

    if not conf.target.paths:
        u = urlsplit(conf.target.base_url)
        if u.path == "":
            conf.target.paths = ["/"]
        else:
            conf.target.paths = [u.path]
            conf.target.base_url = f"{u.scheme}://{u.netloc}" + (
                f"?{u.query}" if u.query else ""
            )
    if not conf.target.base_url:
        raise ValueError("target base url must not be empty")
    return conf


def sort_paths_by_length(paths: list[str]) -> list[str]:
    """Longest-first path sort for longest-prefix matching
    (reference ``walker.go:31-42``, used by validation metrics)."""
    return sorted(paths, key=lambda p: (-len(p), p))
