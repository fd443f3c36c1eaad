"""Extraction parity vs the reference's own test fixtures:

* testDocHTML from extract_test.go:12-32 (structure golden)
* test.html noscript quirk from scrape_test.go:16-33
* empty doc from extract_test.go:34
"""

from walker_spark.functions.extract import (
    extract_links,
    extract_structure,
    trim_text,
)

# Inline copy of the reference test fixture (extract_test.go testDocHTML).
TEST_DOC_HTML = """
<html>
<head>
\t<title>Hello Test</title>
\t<meta name="description" content="this is a test doc and i am a description">
\t<link rel="canonical" href="https://www.globus.ch/damen/damenmode/kleider">\t
\t<link rel="prev" href="/herren/herrenmode/jacken">
\t<link rel="next" href="/herren/herrenmode/jacken?page=3">
</head>
<body>
<h1>h1-0</h1>
<h2>h2-0</h2>
<h2>h2-1</h2>
<h3>h3-0</h3>
<h1>h1-1</h1>
<h2>h2-2</h2>
<script type="application/ld+json">{"@context":"http://schema.org","@type":"BreadcrumbList","itemListElement":[{"@type":"ListItem","position":1,"item":{"@id":"/","name":"Globus"}}]}</script>
<script type="application/ld+json">{"@context":"http://schema.org/","@type":"Product","name":"Baumschmuck SCHWAN"}</script>
</body>
</html>
"""

# Inline copy of /root/reference/test.html (noscript link extraction).
NOSCRIPT_HTML = """<!DOCTYPE html>
<html>
  <head>
    <title>No script test</title>
  </head>
  <body>
    <noscript>
      <ul>
        <li>
          <a href="/test">/test</a>
          <a href="/test-1">/test-1</a>
          <a href="/test-2">/test-2</a>
        </li>
      </ul>
    </noscript>
  </body>
</html>
"""


def test_trim_charset_exact():
    # strings.Trim(txt, " \t\n") — \r is NOT in the cutset.
    assert trim_text(" \t\n x \n\t ") == "x"
    assert trim_text("\rx\r") == "\rx\r"


def test_structure_golden():
    s = extract_structure(TEST_DOC_HTML)
    assert s["title"] == "Hello Test"
    assert s["description"] == "this is a test doc and i am a description"
    assert s["robots"] == ""
    assert s["canonical"] == "https://www.globus.ch/damen/damenmode/kleider"
    assert s["link_prev"] == "/herren/herrenmode/jacken"
    assert s["link_next"] == "/herren/herrenmode/jacken?page=3"
    assert s["linked_data"] == [
        {"context": "http://schema.org", "type": "BreadcrumbList"},
        {"context": "http://schema.org/", "type": "Product"},
    ]
    assert s["headings"] == [
        {"level": 1, "text": "h1-0"},
        {"level": 2, "text": "h2-0"},
        {"level": 2, "text": "h2-1"},
        {"level": 3, "text": "h3-0"},
        {"level": 1, "text": "h1-1"},
        {"level": 2, "text": "h2-2"},
    ]


def test_empty_doc():
    s = extract_structure("")
    assert s["title"] == "" and s["description"] == "" and s["robots"] == ""
    assert s["headings"] == [] and s["linked_data"] == []
    assert s["canonical"] == "" and s["link_prev"] == "" and s["link_next"] == ""
    assert extract_links("") == {}


def test_noscript_links_reparsed():
    # scrape_test.go: the three anchors live ONLY inside <noscript>; the
    # re-parse must find them, exactly once each.
    links = extract_links(NOSCRIPT_HTML)
    assert links == {"/test": 1, "/test-1": 1, "/test-2": 1}


def test_canonical_counts_into_linklist():
    links = extract_links(TEST_DOC_HTML)
    # First canonical href lands in the link list (scrape.go:161-167);
    # no <a> tags in the doc.
    assert links == {"https://www.globus.ch/damen/damenmode/kleider": 1}


def test_link_counts_accumulate():
    html = '<a href="/x">1</a><a href="/x">2</a><a href="/y">3</a><a href="">no</a>'
    assert extract_links(html) == {"/x": 2, "/y": 1}


def test_last_rel_wins_in_structure_first_in_links():
    html = (
        '<link rel="canonical" href="/c1"><link rel="canonical" href="/c2">'
        '<a href="/a">x</a>'
    )
    s = extract_structure(html)
    assert s["canonical"] == "/c2"  # Each() overwrites → last wins
    links = extract_links(html)
    assert links == {"/c1": 1, "/a": 1}  # First() → first canonical only


def test_heading_nested_text_and_entities():
    html = "<h1> a <span>b</span>&amp;c </h1>"
    s = extract_structure(html)
    assert s["headings"] == [{"level": 1, "text": "a b&c"}]


def test_bad_ldjson_skipped():
    html = (
        '<script type="application/ld+json">{oops</script>'
        '<script type="application/ld+json">{"@context":"c","@type":"t"}</script>'
        '<script type="application/ld+json">{"@context":{"a":1},"@type":"t"}</script>'
    )
    s = extract_structure(html)
    assert s["linked_data"] == [{"context": "c", "type": "t"}]


def test_invalid_and_deep_ldjson_skipped_structure_intact():
    """A parse error and a nesting too deep for the decoder both skip
    only their own script; the page's other structure stays."""
    deep = "[" * 100_000 + "]" * 100_000
    html = (
        "<title>T</title><h1>H</h1>"
        '<link rel="canonical" href="/c">'
        '<script type="application/ld+json">{"@context": </script>'
        f'<script type="application/ld+json">{deep}</script>'
        '<script type="application/ld+json">{"@context":"c","@type":"t"}</script>'
    )
    s = extract_structure(html)
    assert s["linked_data"] == [{"context": "c", "type": "t"}]
    assert s["title"] == "T"
    assert s["headings"] == [{"level": 1, "text": "H"}]
    assert s["canonical"] == "/c"
