"""URL normalization and canonicalization.

Two distinct operations, both pure Python (zero Spark deps) with
vectorized pandas wrappers for use inside Arrow-batched UDFs:

* :func:`normalize_link` — byte-parity reimplementation of walker's
  ``NormalizeLink`` (reference ``filterscrapelinks.go:20-43``): strip the
  ``#fragment``, inherit host / scheme / userinfo from the base URL when
  empty, and render the URL the way Go's ``net/url.URL.String()`` does
  (including the "insert '/' before a rootless path when a host is
  present" rule and opaque-URL passthrough for ``mailto:`` and friends).
  Notably walker does **not** resolve relative paths against the base
  path (no ``ResolveReference``): ``foo/bar`` found on ``/a/b`` becomes
  ``https://host/foo/bar``, and we replicate that quirk.

* :func:`canonicalize` — the *seen-filter* canonical form mandated by the
  north rule: lowercase scheme+host, strip fragments and default ports,
  sort query parameters. In canonical-seen mode this is the key of the
  URL-seen anti-join; it is an upgrade over the reference (walker keys
  its maps by the normalized string only).

Plus cheap accessors (``url_host``, ``url_path``, ``url_depth``) used by
the link-filter stack and the politeness partitioner.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from urllib.parse import urlsplit

__all__ = [
    "SplitURL",
    "split_url",
    "normalize_link",
    "canonicalize",
    "url_host",
    "url_path",
    "url_scheme",
    "url_query_names",
    "path_depth",
]

_DEFAULT_PORTS = {"http": "80", "https": "443"}


@dataclass
class SplitURL:
    """Decomposed URL, mirroring the fields of Go's ``url.URL`` that
    walker touches (scheme, userinfo, host[:port], path, query, opaque)."""

    scheme: str = ""
    userinfo: str = ""  # "user" or "user:pass", no trailing @
    host: str = ""  # host[:port], no userinfo
    path: str = ""  # raw (as given) path
    query: str = ""  # raw query, no leading ?
    opaque: str = ""  # non-rooted scheme-specific part (mailto:addr)

    def render(self) -> str:
        """Render like Go ``url.URL.String()`` (net/url) for the subset of
        states reachable from :func:`split_url` + walker's mutations."""
        if self.opaque:
            s = f"{self.scheme}:{self.opaque}" if self.scheme else self.opaque
            if self.query:
                s += "?" + self.query
            return s
        out = []
        if self.scheme:
            out.append(self.scheme + ":")
        if self.scheme or self.host or self.userinfo:
            out.append("//")
            if self.userinfo:
                out.append(self.userinfo + "@")
            out.append(self.host)
        p = self.path
        if p and not p.startswith("/") and self.host:
            out.append("/")
        out.append(p)
        if self.query:
            out.append("?" + self.query)
        return "".join(out)


def split_url(raw: str) -> SplitURL:
    """Parse ``raw`` approximating Go ``url.Parse`` on the states walker
    cares about. Fragments are NOT handled here (walker strips them before
    parsing; so do callers)."""
    u = SplitURL()
    # Detect an opaque URL the way Go does: scheme followed by a
    # non-'/'-rooted remainder (mailto:x@y, tel:+41, javascript:void(0)).
    sp = urlsplit(raw)
    scheme = sp.scheme
    # urlsplit mis-handles things like "a/b:c" (no scheme) fine; but it
    # lowercases the scheme, matching Go.
    if scheme and not raw[len(scheme) + 1 :].startswith("/"):
        rest = raw[len(scheme) + 1 :]
        q = ""
        if "?" in rest:
            rest, q = rest.split("?", 1)
        u.scheme = scheme
        u.opaque = rest
        u.query = q
        return u
    u.scheme = scheme
    netloc = sp.netloc
    if "@" in netloc:
        u.userinfo, netloc = netloc.rsplit("@", 1)
    u.host = netloc
    u.path = sp.path
    u.query = sp.query
    return u


def normalize_link(base_url: str, link_url: str) -> str | None:
    """walker ``NormalizeLink`` parity (``filterscrapelinks.go:20-43``).

    Returns the normalized absolute URL string, or ``None`` when the link
    is unparseable (walker drops those silently).
    """
    # "let us ditch anchors"
    link_url = link_url.split("#", 1)[0]
    try:
        link = split_url(link_url)
        base = split_url(base_url.split("#", 1)[0])
    except ValueError:
        return None
    if link.opaque:
        # Go sets Host/Scheme fields but String() renders the opaque form
        # unchanged (scheme non-empty by construction).
        return link.render()
    if link.host == "":
        link.host = base.host
    if link.scheme == "" or link.scheme == "//":
        link.scheme = base.scheme
    if base.userinfo:
        link.userinfo = base.userinfo
    return link.render()


def _sorted_query(query: str) -> str:
    if not query:
        return ""
    parts = query.split("&")
    return "&".join(sorted(parts))


_PCT_RE = re.compile(r"%([0-9a-fA-F]{2})")
_UNRESERVED = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)


def _norm_pct(s: str) -> str:
    """RFC 3986 percent-encoding normalization: decode unreserved chars,
    uppercase the hex of everything else (``%2f`` stays ``%2F`` — decoding
    it would change the path structure)."""

    def _one(m: re.Match) -> str:
        ch = chr(int(m.group(1), 16))
        return ch if ch in _UNRESERVED else "%" + m.group(1).upper()

    return _PCT_RE.sub(_one, s)


def canonicalize(url: str) -> str:
    """Seen-filter canonical form (north rule): lowercase scheme + host,
    strip fragment, strip default port, sort query params, normalize
    percent-encodings so equivalent spellings collide."""
    url = url.split("#", 1)[0]
    u = split_url(url)
    if u.opaque:
        return u.render()
    u.scheme = u.scheme.lower()
    host = u.host.lower()
    if ":" in host and not host.endswith("]"):
        h, _, port = host.rpartition(":")
        if _DEFAULT_PORTS.get(u.scheme) == port:
            host = h
    u.host = host
    if u.path:
        u.path = _norm_pct(u.path)
    u.query = _sorted_query(_norm_pct(u.query))
    return u.render()


def url_host(url: str) -> str:
    try:
        return split_url(url.split("#", 1)[0]).host
    except ValueError:
        return ""


def url_scheme(url: str) -> str:
    try:
        return split_url(url.split("#", 1)[0]).scheme
    except ValueError:
        return ""


def url_path(url: str) -> str:
    try:
        u = split_url(url.split("#", 1)[0])
    except ValueError:
        return ""
    return "" if u.opaque else u.path


def url_query_names(url: str) -> list[str]:
    """Distinct query parameter names, mirroring Go ``url.Values`` keys
    (``a`` in ``?a`` counts, with empty value)."""
    try:
        u = split_url(url.split("#", 1)[0])
    except ValueError:
        return []
    if not u.query:
        return []
    names = []
    for part in u.query.split("&"):
        if part == "":
            continue
        name = part.split("=", 1)[0]
        if name not in names:
            names.append(name)
    return names


def path_depth(path: str) -> int:
    """walker depth metric: ``len(strings.Split(path, "/")) - 1``
    (``filterscrapelinks.go:74``) — path-segment count, not BFS hops."""
    return len(path.split("/")) - 1
