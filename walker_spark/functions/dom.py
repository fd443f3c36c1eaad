"""Minimal DOM on stdlib html.parser — the tree the schema validator
walks (reference uses golang.org/x/net/html; this sandbox has no HTML
libs, so we build our own).

Deliberately simpler than an HTML5 tree builder: no implied
``html/head/body`` insertion and no adoption-agency reparenting — both
the schema files and the validated documents go through the SAME parser,
so the comparison stays consistent (schema files in the reference style
spell out html/head/body explicitly). Void elements self-close; stray
end tags are ignored; ``p``/``li`` auto-close on a new sibling start
(the common-recovery subset that matters for real pages).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from html.parser import HTMLParser

__all__ = ["Node", "TolerantHTMLParser", "parse_dom"]

VOID = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
_AUTOCLOSE = {"p": {"p"}, "li": {"li"}, "option": {"option"}, "tr": {"tr"}, "td": {"td", "th"}, "th": {"td", "th"}}


@dataclass
class Node:
    """type: 'element' | 'text'."""

    type: str
    data: str = ""  # tag name for elements, text for text nodes
    attrs: list[tuple[str, str]] = field(default_factory=list)
    children: list["Node"] = field(default_factory=list)

    def attr(self, name: str) -> str:
        """First matching attribute value, '' if absent (Go getAttrValue)."""
        for k, v in self.attrs:
            if k == name:
                return v
        return ""

    def has_attr(self, name: str) -> bool:
        return any(k == name for k, _ in self.attrs)

    def element_children(self) -> list["Node"]:
        return [c for c in self.children if c.type == "element"]

    def first_child(self) -> "Node | None":
        return self.children[0] if self.children else None

    def walk(self):
        yield self
        for c in self.children:
            if c.type == "element":
                yield from c.walk()


class TolerantHTMLParser(HTMLParser):
    """``html.parser`` that never raises on a ``<![`` section.

    The stdlib parses ``<![name[ ... ]]>`` as an SGML marked section and
    raises ``AssertionError`` for any name it does not know (``<![foo[x]]>``,
    ``<![ x ]>``), which kills the whole page. WHATWG HTML (§13.2.5.42,
    markup declaration open state) and Go's ``x/net/html`` treat a ``<!``
    that is not ``--``, DOCTYPE or foreign-content CDATA as a bogus
    comment up to the next ``>``; so does this parser.
    """

    def parse_marked_section(self, i, report=1):
        return self.parse_bogus_comment(i, report)


class _TreeBuilder(TolerantHTMLParser):
    CDATA_CONTENT_ELEMENTS = ("script", "style")

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("element", "#document")
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs):
        close_on = _AUTOCLOSE.get(tag)
        if close_on and self.stack[-1].data in close_on:
            self.stack.pop()
        node = Node("element", tag, [(k, v if v is not None else "") for k, v in attrs])
        self.stack[-1].children.append(node)
        if tag not in VOID:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        node = Node("element", tag, [(k, v if v is not None else "") for k, v in attrs])
        self.stack[-1].children.append(node)

    def handle_endtag(self, tag):
        if tag in VOID:
            return
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].data == tag:
                del self.stack[i:]
                return
        # stray end tag: ignore

    def handle_data(self, data):
        if data:
            self.stack[-1].children.append(Node("text", data))


def parse_dom(html: str) -> Node:
    b = _TreeBuilder()
    b.feed(html)
    b.close()
    return b.root
