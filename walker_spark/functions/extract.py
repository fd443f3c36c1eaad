"""HTML extraction: links + SEO structure.

Parity reimplementation of the reference extractors on stdlib
``html.parser`` (no external HTML libs in this sandbox):

* :func:`extract_links`    ← ``scrape.go:159-190`` (extractLinks): first
  ``link[rel=canonical]`` href, every ``a[href]`` (href != ""), and —
  the reference's quirk — the *raw text* of each ``<noscript>`` re-parsed
  as HTML with its ``a[href]`` collected too. Returns an href→count map.
  Go's net/html parses ``<noscript>`` content as raw text (scripting on),
  so the outer ``Find("a")`` does NOT see those anchors; only the
  re-parse does. We replicate by treating ``noscript`` as CDATA.
* :func:`extract_structure` ← ``extract.go:17-70`` (ExtractStructure):
  title / meta description / meta robots (first match wins),
  link rel canonical/prev/next (document order, LAST match wins — the
  reference overwrites on Each), ld+json ``@context``/``@type`` pairs
  (unparseable JSON skipped), h1-h6 headings in document order, all
  text trimmed of exactly ``" \\t\\n"`` (``extract.go:12-14`` — \\r is
  NOT trimmed).

The Spark extract stage (``plans/crawl.py::fetch_and_extract``) calls
:func:`extract_all` once per page inside its ``mapInPandas`` batch loop,
so one parse yields the links, the structure and the text.
"""

from __future__ import annotations

import json

from .dom import TolerantHTMLParser

__all__ = [
    "TRIM_CHARS",
    "trim_text",
    "extract_links",
    "extract_anchor_texts",
    "extract_structure",
    "extract_all",
    "extract_text",
    "STRUCTURE_SPARK_TYPE",
]

TRIM_CHARS = " \t\n"  # extract.go:12-14 — space, tab, newline only


def trim_text(txt: str) -> str:
    return txt.strip(TRIM_CHARS)


_VOID = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

_HEADING_LEVEL = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}


class _Doc(TolerantHTMLParser):
    """One-pass collector for everything walker's selectors touch.

    ``noscript`` joins script/style as CDATA so its content surfaces as
    raw text (matching net/html with scripting enabled), then gets
    re-parsed separately — reference ``scrape.go:175-180``.
    """

    CDATA_CONTENT_ELEMENTS = ("script", "style", "noscript")

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.title: str | None = None
        self._title_buf: list[str] | None = None
        self.paragraphs: list[list[str]] = []
        self._open_para: list[str] | None = None
        self.description: str | None = None
        self.robots: str | None = None
        self.rel_links: list[tuple[str, str]] = []  # (rel, href) doc order
        self.ldjson_texts: list[str] = []
        self.headings: list[tuple[int, list[str]]] = []
        self._open_heading: list[str] | None = None
        self.anchors: list[str] = []  # hrefs in doc order (href != "")
        self.noscript_texts: list[str] = []
        self._cdata_tag: str | None = None
        self._cdata_buf: list[str] = []
        self._cdata_attrs: dict[str, str] = {}

    def updatepos(self, i, j):
        """Skip ``_markupbase``'s line/column bookkeeping — ~12% of
        total parse time (profiled on the bench pages), and nothing
        here ever calls ``getpos()``. The base method's only observable
        effect for this subclass is returning ``j``, reproduced here,
        so tokenization is bit-identical."""
        return j

    @staticmethod
    def _attrs(attrs: list[tuple[str, str | None]]) -> dict[str, str]:
        d: dict[str, str] = {}
        for k, v in attrs:
            if k not in d:
                d[k] = v if v is not None else ""
        return d

    def handle_starttag(self, tag, attrs):
        a = self._attrs(attrs)
        if tag in ("script", "style", "noscript"):
            self._cdata_tag = tag
            self._cdata_buf = []
            self._cdata_attrs = a
            return
        if tag == "title" and self.title is None and self._title_buf is None:
            self._title_buf = []
        elif tag == "meta":
            name = a.get("name")
            if name == "description" and self.description is None:
                self.description = a.get("content", "")
            elif name == "robots" and self.robots is None:
                self.robots = a.get("content", "")
        elif tag == "link":
            rel, href = a.get("rel"), a.get("href")
            if rel in ("canonical", "prev", "next") and href is not None:
                self.rel_links.append((rel, href))
        elif tag == "a":
            href = a.get("href")
            if href is not None and href != "":
                self.anchors.append(href)
        elif tag in _HEADING_LEVEL:
            self._open_heading = []
            self.headings.append((_HEADING_LEVEL[tag], self._open_heading))
        elif tag == "p":
            # HTML5 auto-closes an open <p> on a new <p> start tag.
            self._open_para = []
            self.paragraphs.append(self._open_para)

    def handle_startendtag(self, tag, attrs):
        if tag in ("script", "style", "noscript"):
            return  # self-closed CDATA element: no content
        self.handle_starttag(tag, attrs)

    def handle_endtag(self, tag):
        if tag == self._cdata_tag:
            text = "".join(self._cdata_buf)
            if tag == "script" and self._cdata_attrs.get("type") == "application/ld+json":
                self.ldjson_texts.append(text)
            elif tag == "noscript":
                self.noscript_texts.append(text)
            self._cdata_tag = None
            self._cdata_buf = []
            self._cdata_attrs = {}
            return
        if tag == "title" and self._title_buf is not None:
            self.title = "".join(self._title_buf)
            self._title_buf = None
        elif tag in _HEADING_LEVEL and self._open_heading is not None:
            self._open_heading = None
        elif tag == "p":
            self._open_para = None

    def handle_data(self, data):
        if self._cdata_tag is not None:
            self._cdata_buf.append(data)
            return
        if self._title_buf is not None:
            self._title_buf.append(data)
        if self._open_heading is not None:
            self._open_heading.append(data)
        if self._open_para is not None:
            self._open_para.append(data)


def _parse(html: str) -> _Doc:
    d = _Doc()
    d.feed(html)
    d.close()
    # EOF inside an unclosed CDATA element: flush like net/html does.
    if d._cdata_tag is not None:
        d.handle_endtag(d._cdata_tag)
    # EOF inside <title>.
    if d._title_buf is not None:
        d.title = "".join(d._title_buf)
        d._title_buf = None
    return d


class _AnchorOnly(TolerantHTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.anchors: list[str] = []

    def updatepos(self, i, j):  # see _Doc.updatepos
        return j

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            for k, v in attrs:
                if k == "href":
                    if v:
                        self.anchors.append(v)
                    break

    def handle_startendtag(self, tag, attrs):
        self.handle_starttag(tag, attrs)


def extract_links(html: str) -> dict[str, int]:
    """href → occurrence count; reference ``extractLinks`` minus the
    normalization pass (see :mod:`walker_spark.urlnorm` for that).

    Counts: first canonical link href (even ""), every a[href != ""],
    every a[href != ""] found by re-parsing noscript raw text.
    """
    return _links_from_doc(_parse(html))


def _links_from_doc(d: _Doc) -> dict[str, int]:
    links: dict[str, int] = {}
    for rel, href in d.rel_links:
        if rel == "canonical":
            links[href] = links.get(href, 0) + 1
            break  # First() only — scrape.go:161-167
    for href in d.anchors:
        links[href] = links.get(href, 0) + 1
    for text in d.noscript_texts:
        sub = _AnchorOnly()
        sub.feed(text)
        sub.close()
        for href in sub.anchors:
            links[href] = links.get(href, 0) + 1
    return links


def extract_structure(html: str) -> dict:
    """Reference ``ExtractStructure`` → plain dict matching
    :data:`STRUCTURE_SPARK_TYPE`."""
    return _structure_from_doc(_parse(html))


def _structure_from_doc(d: _Doc) -> dict:
    s = {
        "title": trim_text(d.title or ""),
        "description": trim_text(d.description or ""),
        "robots": trim_text(d.robots or ""),
        "headings": [
            {"level": lvl, "text": trim_text("".join(buf))} for lvl, buf in d.headings
        ],
        "linked_data": [],
        "canonical": "",
        "link_prev": "",
        "link_next": "",
    }
    for rel, href in d.rel_links:  # Each() ⇒ last match wins (extract.go:25-38)
        if rel == "canonical":
            s["canonical"] = trim_text(href)
        elif rel == "prev":
            s["link_prev"] = trim_text(href)
        elif rel == "next":
            s["link_next"] = trim_text(href)
    for text in d.ldjson_texts:
        try:
            obj = json.loads(text)
        except (ValueError, RecursionError):
            continue  # "json crap" → skipped, extract.go:42-45
        if not isinstance(obj, dict):
            # Go json.Unmarshal into a struct errors on non-objects → skip
            # (null unmarshals into the zero struct and IS appended).
            if obj is None:
                s["linked_data"].append({"context": "", "type": ""})
            continue
        ctx = obj.get("@context", "")
        typ = obj.get("@type", "")
        if not isinstance(ctx, str) or not isinstance(typ, str):
            continue  # non-string field → Unmarshal error → skip
        s["linked_data"].append({"context": ctx, "type": typ})
    return s


class _AnchorTextCollector(TolerantHTMLParser):
    """(href, visible text) per ``<a href>`` — NOT a reference op
    (walker counts hrefs only, ``scrape.go:159-190``); this feeds the
    anchor-text corpus rollup (:func:`walker_spark.operators.graph.
    anchor_text_rollup`). A new ``<a>`` implicitly closes an open one
    (HTML forbids nesting; real parsers auto-close)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.pairs: list[tuple[str, str]] = []
        self._href: str | None = None
        self._buf: list[str] = []

    def _flush(self) -> None:
        if self._href is not None:
            self.pairs.append(
                (self._href, " ".join("".join(self._buf).split()))
            )
        self._href = None
        self._buf = []

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            self._flush()
            for k, v in attrs:
                if k == "href" and v:
                    self._href = v
                    break

    def handle_endtag(self, tag):
        if tag == "a":
            self._flush()

    def handle_data(self, data):
        if self._href is not None:
            self._buf.append(data)

    def close(self):
        super().close()
        self._flush()


def extract_anchor_texts(html: str, base_url: str | None = None) -> list[tuple[str, str]]:
    """Every ``(target, anchor_text)`` pair in document order. With
    ``base_url``, hrefs are resolved/normalized via
    :func:`walker_spark.urlnorm.normalize_link` (unparseable links
    dropped, matching the crawl's silent-drop semantics)."""
    p = _AnchorTextCollector()
    p.feed(html)
    p.close()
    if base_url is None:
        return p.pairs
    from ..urlnorm import normalize_link

    out = []
    for href, text in p.pairs:
        n = normalize_link(base_url, href)
        if n is not None:
            out.append((n, text))
    return out


def extract_all(html: str) -> tuple[dict[str, int], dict, str]:
    """(links, structure, text) from a single parse — the hot-path
    variant used by the Spark extract stage. Field-identical to calling
    :func:`extract_links` / :func:`extract_structure` /
    :func:`extract_text` separately (all derive from the same ``_Doc``)."""
    d = _parse(html)
    # links (scrape.go:159-190), structure (extract.go:17-70), text
    return _links_from_doc(d), _structure_from_doc(d), _text_from_doc(d)


def extract_text(html: str) -> str:
    """Engine text-extraction contract (the ``text`` column golden):
    title, then every h1-h6, then every ``<p>``, each trimmed with the
    walker cutset, joined by ``\\n``. The reference has no body-text
    extractor (SURVEY.md §2.8 H3); this is our spec, and the synthetic
    ``pages`` generator writes the same function's output so pytest can
    assert byte-identity end to end."""
    return _text_from_doc(_parse(html))


def _text_from_doc(d: _Doc) -> str:
    parts: list[str] = []
    if d.title:
        t = trim_text(d.title)
        if t:
            parts.append(t)
    for _, buf in d.headings:
        t = trim_text("".join(buf))
        if t:
            parts.append(t)
    for buf in d.paragraphs:
        t = trim_text("".join(buf))
        if t:
            parts.append(t)
    return "\n".join(parts)


# Spark-side schema for the structure struct (SURVEY.md §1.2).
STRUCTURE_SPARK_TYPE = (
    "struct<title:string,description:string,robots:string,"
    "headings:array<struct<level:int,text:string>>,"
    "linked_data:array<struct<context:string,type:string>>,"
    "canonical:string,link_prev:string,link_next:string>"
)

