"""HTML DOM + text extraction semantics (reference internal/scan/nodes.go,
page.go) and the CSS selector subset."""

from ant_spark.functions.htmldom import compile_selector, parse, text
from ant_spark.functions.parse import extract_links, parse_page


def test_text_no_whitespace_normalization():
    doc = parse("<html><body><p>  a \n b </p><p>c</p></body></html>")
    assert text(doc) == "  a \n b c"


def test_text_includes_script_and_style():
    # scan.Text recurses into every element node (nodes.go:38-44)
    doc = parse("<html><head><style>.x{}</style><script>var a=1;</script></head>"
                "<body>hi</body></html>")
    assert text(doc) == ".x{}var a=1;hi"


def test_text_skips_comments():
    doc = parse("<html><body>a<!-- nope -->b</body></html>")
    assert text(doc) == "ab"


def test_text_entities_decoded():
    doc = parse("<html><body>a &amp; b &#65;</body></html>")
    assert text(doc) == "a & b A"


def test_text_of_text_node_is_data():
    doc = parse("<html><body>xyz</body></html>")
    body_text = doc.children[0].children[1].children[0]
    assert body_text.type == 0  # TEXT
    assert text(body_text) == "xyz"


def test_implied_structure():
    doc = parse("<p>hello</p>")
    html = doc.children[0]
    assert html.tag == "html"
    assert [c.tag for c in html.children] == ["head", "body"]
    assert text(doc) == "hello"


def test_void_elements_do_not_nest():
    doc = parse("<html><body><p>a<br>b<img src=x>c</p></body></html>")
    assert text(doc) == "abc"
    p = compile_selector("p").match_first(doc)
    assert [c.tag for c in p.children if c.type == 1] == ["br", "img"]


def test_selector_class_id_attr():
    doc = parse(
        '<html><body><div class="a b" id="d1"><span data-x="1">s1</span></div>'
        '<div class="a"><span>s2</span></div></body></html>'
    )
    assert len(compile_selector(".a").match_all(doc)) == 2
    assert len(compile_selector(".b").match_all(doc)) == 1
    assert text(compile_selector("#d1 span").match_first(doc)) == "s1"
    assert text(compile_selector("[data-x]").match_first(doc)) == "s1"
    assert text(compile_selector('[data-x="1"]').match_first(doc)) == "s1"
    assert len(compile_selector("div > span").match_all(doc)) == 2
    assert len(compile_selector(".b > span").match_all(doc)) == 1
    assert len(compile_selector("span, div").match_all(doc)) == 4


def test_selector_document_order():
    doc = parse(
        "<html><body><i>1</i><b><i>2</i></b><i>3</i></body></html>"
    )
    assert [text(n) for n in compile_selector("i").match_all(doc)] == ["1", "2", "3"]


def test_attr_first_occurrence():
    doc = parse('<html><body><a href="x" href="y">t</a></body></html>')
    a = compile_selector("a").match_first(doc)
    assert a.attr("href") == "x"  # scan.Attr takes the first key (nodes.go:12-24)


def test_extract_links_resolution_rules():
    # page.go:116-139: relative resolved, invalid skipped, http(s) only
    html = (
        '<html><body>'
        '<a href="/abs.html">1</a>'
        '<a href="rel.html">2</a>'
        '<a href="../up.html">3</a>'
        '<a href="http://other.test/x">4</a>'
        '<a href="HTTPS://S.test/y">5</a>'
        '<a href="mailto:a@b.c">no</a>'
        '<a href="javascript:void(0)">no</a>'
        '<a href="//proto.test/z">6</a>'
        '<a name="anchor-without-href">no</a>'
        "</body></html>"
    )
    links = extract_links(html, "http://example.com/dir/page.html")
    assert links == [
        "http://example.com/abs.html",
        "http://example.com/dir/rel.html",
        "http://example.com/up.html",
        "http://other.test/x",
        "HTTPS://S.test/y",
        "http://proto.test/z",
    ]


def test_parse_page_fused():
    html = (
        "<html><head><title>T</title></head><body>"
        '<a href="/a">x</a><div class="project"><h1>Ant</h1></div></body></html>'
    )
    links, txt, title, scraped = parse_page(
        html, "http://e.com/", {"name": ".project h1"}
    )
    assert links == ["http://e.com/a"]
    assert title == "T"
    assert txt == "TxAnt"
    assert scraped == {"name": "Ant"}


def test_fixture_about_html():
    # FIXTURES.md §3 golden: .project h1 == "Ant"; links home + a.html
    from ant_spark.sources.webgraph import _EXAMPLE_PAGES

    html = _EXAMPLE_PAGES["/about.html"]
    links, txt, _, scraped = parse_page(
        html, "http://example.com/about.html", {"name": ".project h1", "next": "a.next@href"}
    )
    assert links == ["http://example.com/", "http://example.com/a.html"]
    assert scraped == {"name": "Ant", "next": "/a.html"}
    assert "Ant" in txt


def test_nested_title_stream_dom_parity():
    """Nested/self-closing <title> corners (hypothesis-found): the stream
    capture must span the OUTER title like the DOM's first-title text."""
    from ant_spark.functions.htmldom import fast_extract, parse, stream_extract

    cases = [
        "<title><title></title>text </title>tail",
        "<title><title></title>text ",  # unclosed outer (EOF close)
        "<title>a</title><title>b</title>",
        "<div><title>x</div>y",  # outer sweep closes the capture
        "<title/>solo",
        "<title>out<title/>er</title>",
    ]
    for html in cases:
        assert stream_extract(html) == fast_extract(parse(html)), html


def test_stray_in_body_head_ignored():
    """HTML5 'in body': a <head> start after body content is a parse error
    and IGNORED (x/net/html does the same) — it must not re-route
    subsequent nodes or reorder extracted text (hypothesis-found)."""
    from ant_spark.functions.htmldom import fast_extract, parse, stream_extract

    cases = [
        "<p><head><p>  </p>text ",  # text order must stay source order
        "<p><head>x",
        "<p></p><head>  <p>y",
        "<head><p>a</head>b",  # </head> after body content also ignored
    ]
    for html in cases:
        s, d = stream_extract(html), fast_extract(parse(html))
        assert s == d, (html, s, d)
    assert stream_extract("<p><head><p>  </p>text ")[0] == "  text "


def test_extract_anchors_semantics():
    """(resolved_url, anchor) pairs in document order; anchor = scan.Text
    of the <a> node verbatim (nested markup flattened, no trimming);
    raw-text decoy links never appear."""
    from ant_spark.functions.parse import extract_anchors

    html = (
        '<html><body><a href="/x">click <b>here</b></a>'
        '<a href="http://other.test/y"> spaced </a>'
        '<a href="mailto:z@q">mail</a>'
        '<textarea><a href="/fake">f</a></textarea>'
        '<a href="/empty"></a></body></html>'
    )
    got = extract_anchors(html, "http://h.test/p/")
    assert got == [
        ("http://h.test/x", "click here"),
        ("http://other.test/y", " spaced "),
        ("http://h.test/empty", ""),
    ]


def test_adoption_agency_misnested_formatting():
    """Misnested <b><i></b></i> re-parents exactly as x/net/html: the <i>
    splits at the </b>, the trailing run gets its own <i> clone — selector
    ancestor paths now match the reference parser (C6 parity)."""
    from ant_spark.functions.htmldom import compile_selector, parse, text

    doc = parse("<p>1<b>2<i>3</b>4</i>5</p>")
    # spec tree: p > (1, b>(2, i>3), i>4, 5)
    assert text(doc) == "12345"
    i_nodes = compile_selector("p > i").match_all(doc)
    assert [text(n) for n in i_nodes] == ["4"]
    assert [text(n) for n in compile_selector("b > i").match_all(doc)] == ["3"]
    # furthest-block split: <b>x<div>y</b>z -> b>x, div>(b>y, z)
    doc2 = parse("<b>x<div>y</b>z</div>")
    assert text(doc2) == "xyz"
    assert [text(n) for n in compile_selector("div > b").match_all(doc2)] == ["y"]
    body = doc2.children[0].children[1]
    div = [c for c in body.children if c.tag == "div"][0]
    assert [c.data for c in div.children if c.type == 0] == ["z"]


def test_formatting_reconstruction_reopens_links():
    """An implicitly-closed <a href> stays active and re-opens (clones)
    before later content — x/net/html emits the href once per clone."""
    from ant_spark.functions.htmldom import fast_extract, parse, stream_extract

    html = "<p><a href='u'>1</p><p>2</a>3</p>"
    dom = fast_extract(parse(html))
    assert dom == ("123", ["u", "u"], "")
    assert stream_extract(html) == dom
    # a cell boundary is a formatting-scope marker: no leak across <td>s
    html2 = "<table><td><b>x<td>y</table>"
    dom2 = parse(html2)
    assert [
        n.tag for n in dom2.children[0].children[1].children[0].children
    ] == ["tbody"]
    from ant_spark.functions.htmldom import compile_selector, text as htext

    assert [htext(n) for n in compile_selector("td > b").match_all(dom2)] == ["x"]


def test_implied_tbody_tr_synthesis():
    """<table><td> produces the full table>tbody>tr>td ancestor chain, so
    reference-style selector specs written for well-formed tables keep
    matching sloppy real-web tables."""
    from ant_spark.functions.htmldom import compile_selector, parse, text

    for html in (
        "<table><tr><td>A</td></tr></table>",
        "<table><td>A</table>",
        "<table><tbody><td>A</tbody></table>",
    ):
        doc = parse(html)
        got = [text(n) for n in compile_selector("table > tbody > tr > td").match_all(doc)]
        assert got == ["A"], (html, got)


def test_deep_nesting_never_recurses():
    """A page nested thousands of levels deep (generated or mangled markup)
    must not raise RecursionError: text(), the fused parse in 'main' mode
    and with a scrape spec, and extract_anchors all walk iteratively."""
    from ant_spark.functions.parse import extract_anchors
    from ant_spark.functions.readability import main_text_from_doc

    depth = 5000
    spans = "<span>" * depth + "x<a href='/d'>deep</a>"
    assert text(parse(spans)) == "xdeep"
    assert parse_page(spans, "http://h.test/", {"a": "a"}) == (
        ["http://h.test/d"], "xdeep", "", {"a": "deep"})
    assert extract_anchors(spans, "http://h.test/") == [("http://h.test/d", "deep")]
    para = "a paragraph long enough to count as body text"
    divs = "<div>" * depth + para
    assert main_text_from_doc(parse(divs)) == para
    assert parse_page(divs, "http://h.test/", text_mode="main") == ([], para, "", {})
