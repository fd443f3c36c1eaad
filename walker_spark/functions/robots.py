"""robots.txt parsing and matching.

The reference delegates to ``temoto/robotstxt`` (``robotstxt.go:9-19``,
group selection ``scrapeloop.go:277-293``). We implement the public
Google Robots Exclusion Protocol semantics from scratch:

* groups of ``User-agent`` lines followed by ``Allow``/``Disallow`` rules;
* group selection: longest user-agent token that prefix-matches the
  agent (case-insensitive), falling back to ``*``;
* path matching: ``*`` wildcard, ``$`` end anchor, longest-pattern-wins,
  ``Allow`` wins ties, no match → allowed; empty Disallow = allow all.

Pure Python core, used by the dispatcher oracle and by a broadcast into
the Spark-side vectorized filter.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

__all__ = ["Rule", "RobotsGroup", "RobotsData", "parse_robots"]


@dataclass
class Rule:
    allow: bool
    pattern: str
    _regex: re.Pattern | None = None

    def matches(self, path: str) -> bool:
        if "*" not in self.pattern and "$" not in self.pattern:
            return path.startswith(self.pattern)
        if self._regex is None:
            self._regex = _compile(self.pattern)
        return self._regex.match(path) is not None

    @property
    def specificity(self) -> int:
        return len(self.pattern)


def _compile(pattern: str) -> re.Pattern:
    out = []
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        else:
            out.append(re.escape(ch))
    if anchored:
        out.append("$")
    return re.compile("".join(out))


@dataclass
class RobotsGroup:
    agents: list[str] = field(default_factory=list)
    rules: list[Rule] = field(default_factory=list)

    def test(self, path: str) -> bool:
        """True = allowed. Longest matching pattern wins; Allow wins ties."""
        best: Rule | None = None
        for r in self.rules:
            if not r.pattern:
                continue  # empty Disallow/Allow matches nothing
            if r.matches(path):
                if (
                    best is None
                    or r.specificity > best.specificity
                    or (r.specificity == best.specificity and r.allow and not best.allow)
                ):
                    best = r
        return True if best is None else best.allow


_EMPTY_GROUP = RobotsGroup()


@dataclass
class RobotsData:
    groups: list[RobotsGroup] = field(default_factory=list)
    # REP: Sitemap is a cross-group field (sitemaps.org/protocol.html
    # §"Informing search engine crawlers"); order preserved, case kept
    # (URLs are case-sensitive past the host).
    sitemaps: list[str] = field(default_factory=list)

    def find_group(self, agent: str) -> RobotsGroup:
        """Longest user-agent token prefix-matching ``agent``; ``*``
        fallback; no group → allow-all."""
        agent_l = agent.lower()
        best: RobotsGroup | None = None
        best_len = -1
        star: RobotsGroup | None = None
        for g in self.groups:
            for tok in g.agents:
                if tok == "*":
                    if star is None:
                        star = g
                elif agent_l.startswith(tok) and len(tok) > best_len:
                    best, best_len = g, len(tok)
        if best is not None:
            return best
        if star is not None:
            return star
        return _EMPTY_GROUP


def parse_robots(body: str) -> RobotsData:
    data = RobotsData()
    group: RobotsGroup | None = None
    last_was_agent = False
    for raw_line in body.splitlines():
        line = raw_line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if group is None or not last_was_agent:
                group = RobotsGroup()
                data.groups.append(group)
            group.agents.append(val.lower())
            last_was_agent = True
        elif key in ("allow", "disallow"):
            last_was_agent = False
            if group is None:
                continue  # rules before any user-agent line are ignored
            group.rules.append(Rule(allow=(key == "allow"), pattern=val))
        elif key == "sitemap":
            last_was_agent = False
            if val:
                data.sitemaps.append(val)
        else:
            last_was_agent = False
    return data

