"""Property-based tests (hypothesis): normalization invariants and
stream-vs-DOM extractor parity on adversarial inputs. Pure Python — fast."""

from hypothesis import given, settings
from hypothesis import strategies as st

from ant_spark.functions.htmldom import fast_extract, parse, stream_extract, text
from ant_spark.functions.urlnorm import normalize_or_none

url_chars = st.text(
    alphabet=st.characters(
        codec="ascii", exclude_categories=("Cc",), exclude_characters="\x7f"
    ),
    max_size=40,
)


@given(url_chars)
@settings(max_examples=300, deadline=None)
def test_normalize_second_application_fixed_point(s):
    """normalize² is a fixed point.

    Exact single-pass idempotency does NOT hold — faithfully to the
    reference: Go's pathname() maps path "//" to "" (path.Join of empty
    segments) while a later pass maps "" to "/" (url.go:61-69), so
    "http://h//" → "http://h" → "http://h/". The engine normalizes each URL
    exactly once (at enqueue), so only the two-pass fixed point matters.
    """
    once = normalize_or_none("http://example.com/" + s)
    if once is None:
        return
    twice = normalize_or_none(once)
    assert twice is not None
    assert normalize_or_none(twice) == twice


@given(st.text(max_size=30))
@settings(max_examples=200, deadline=None)
def test_normalize_never_crashes(s):
    normalize_or_none(s)  # must return str or None, never raise
    normalize_or_none("https://h.test/" + s)


_html_atoms = st.sampled_from(
    [
        "<p>", "</p>", "<div class='x'>", "</div>", "<a href='/l'>", "</a>",
        "<a href=''>", "<br>", "<title>", "</title>", "<head>", "</head>",
        "<body>", "</body>", "<html>", "</html>", "<!-- c -->", "<li>",
        "</li>", "<script>v&r;</script>", "<b>", "</b>", "text ", "  ",
        "&amp;", "x<y", "<img src=i>", "<!DOCTYPE html>", "\n",
        "<td>", "<tr>", "</table>", "<table>", "<title/>", "<style>",
        "</style>", "<option>", "</option>", "<dt>", "<dd>", "</dd>",
    ]
)


@given(st.lists(_html_atoms, max_size=30))
@settings(max_examples=300, deadline=None)
def test_stream_matches_dom(atoms):
    """The DOM-less hot path must equal the DOM path on ANY tag soup."""
    html = "".join(atoms)
    assert stream_extract(html) == fast_extract(parse(html)), html


# Full-HTML5 tag-soup alphabet (round-5 hardening for the WARC/real-web
# path): misnested formatting, table foster-parenting triggers, raw-text
# and RCDATA elements (closed AND unclosed), plaintext, CDATA-in-svg,
# foreign content, entities inside RCDATA.
_html5_atoms = st.sampled_from(
    [
        # misnested formatting (adoption-agency territory: reconstruction,
        # furthest-block splits, <a>-in-<a>, Noah's Ark, cell markers)
        "<b>", "<i>", "</b>", "</i>", "<b>x<i>y</b>z</i>",
        "<em>", "</em>", "<u>", "</u>", "<a href='/f'>", "</a>",
        "<b><i>", "</b></i>", "<b>q<div>r</b>s</div>",
        # tables + foster-parenting triggers
        "<table>", "</table>", "<tr>", "</tr>", "<td>", "</td>", "<th>",
        "<tbody>", "</tbody>", "<thead>", "<caption>", "</caption>",
        "loose ", "<div>f</div>", "<a href='/t'>t</a>", "<span>", "</span>",
        # raw-text / RCDATA elements, closed and unclosed
        "<textarea>", "</textarea>", "<textarea><a href='x'>&amp;</textarea>",
        "<xmp>", "</xmp>", "<xmp><b>raw</xmp>", "<iframe>", "</iframe>",
        "<noembed>z</noembed>", "<noframes>", "</noframes>",
        "<noscript>", "</noscript>", "<plaintext>", "</plaintext>",
        "<script>a<b</script>", "<style>p{}</style>", "<title>&lt;t</title>",
        # foreign content + CDATA
        "<svg>", "</svg>", "<math>", "</math>", "<![CDATA[cd]]>",
        "<svg><![CDATA[s]]></svg>",
        # entities and text
        "&amp;", "&#65;", "&unknown;", "plain ", " ", "\n", "<p>", "</p>",
        "<!-- c -->", "<!DOCTYPE html>", "<wbr>", "<hr/>",
    ]
)


@given(st.lists(_html5_atoms, max_size=40))
@settings(max_examples=400, deadline=None)
def test_stream_matches_dom_html5_soup(atoms):
    """Stream/DOM parity over the widened HTML5 alphabet — foster
    parenting, raw-text EOF, RCDATA decoding and CDATA routing must agree
    between the two independent implementations on ANY composition."""
    html = "".join(atoms)
    assert stream_extract(html) == fast_extract(parse(html)), html


def _assert_tree_shape(html):
    """The DOM on its own, not against the extract sink: every child's
    .parent is the node that lists it (selector ancestor walks rely on it,
    also after adoption-agency and foster-parenting moves), no node is
    reachable twice, and text() agrees with fast_extract's text."""
    doc = parse(html)
    assert doc.parent is None
    seen = set()
    stack = [doc]
    while stack:
        n = stack.pop()
        assert id(n) not in seen, html
        seen.add(id(n))
        for c in n.children:
            assert c.parent is n, html
        stack.extend(n.children)
    assert text(doc) == fast_extract(doc)[0], html


@given(st.lists(_html5_atoms, max_size=40))
@settings(max_examples=400, deadline=None)
def test_dom_tree_shape_html5_soup(atoms):
    _assert_tree_shape("".join(atoms))


def test_dom_tree_shape_degenerate_adoption():
    """Soup where the adoption agency would re-parent a node into its own
    subtree (a <tr> and a <dt> outside any real table): the move is
    skipped, so the tree stays acyclic and parsing terminates (it used to
    loop forever on such pages); the two sinks still agree."""
    html = ("text <a href=''>  <tr><table><dt><table></a>  &amp;<p><p>text "
            "x<y</style><dt>")
    _assert_tree_shape(html)
    assert stream_extract(html) == fast_extract(parse(html))


def test_html5_tag_soup_goldens():
    """Pinned extraction semantics on the real-web cases the fuzz explores
    (the x/net/html behaviors the parsers now reproduce)."""
    cases = [
        # foster parenting reorders: inter-row text precedes the table
        ("<table><tr><td>A</td></tr>B<tr><td>C</td></tr></table>D",
         "BACD", []),
        # fostered link comes before cell links in DOM order
        ("<table><a href='f'>F</a><tr><td><a href='c'>C</a></td></tr></table>",
         "FC", ["f", "c"]),
        # raw-text elements yield text, never links
        ("<textarea><a href='x'>t</a></textarea><a href='r'>r</a>",
         "<a href='x'>t</a>r", ["r"]),
        ("<noscript><a href='n'>n</a></noscript>", "<a href='n'>n</a>", []),
        ("<iframe><a href='i'>i</a></iframe>", "<a href='i'>i</a>", []),
        # plaintext swallows everything to EOF (no end tag needed)
        ("pre<plaintext><a href='gone'>x</a><table>",
         "pre<a href='gone'>x</a><table>", []),
        # a stray </plaintext> is character data — the HTML5 tokenizer has
        # no exit from PLAINTEXT, so parsing must NOT resume after it
        ("a<plaintext>x</plaintext><a href='q'>q</a>",
         "ax</plaintext><a href='q'>q</a>", []),
        # RCDATA decodes entities; RAWTEXT keeps them raw
        ("<textarea>a &amp; b</textarea><script>c &amp; d</script>",
         "a & bc &amp; d", []),
        # CDATA: text inside svg, bogus comment outside
        ("<svg><![CDATA[in]]></svg><p><![CDATA[out]]></p>", "in", []),
        # fostered wrapper closed by an incoming row
        ("<table><div>x<tr><td>y</td></tr></table>", "xy", []),
    ]
    for html, want_text, want_hrefs in cases:
        for got_text, got_hrefs, _ in (
            fast_extract(parse(html)),
            stream_extract(html),
        ):
            assert got_text == want_text, html
            assert got_hrefs == want_hrefs, html


# --- WARC framing round-trip ------------------------------------------------

import datetime as _dt

from ant_spark.sources.warc import _record_bytes, parse_warc_bytes

_url_chars = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789-._~/", min_size=1, max_size=40
)


@given(
    st.lists(
        st.tuples(_url_chars, st.binary(max_size=512), st.sampled_from([200, 404, 503])),
        min_size=1,
        max_size=8,
    ),
    st.booleans(),
)
@settings(max_examples=150, deadline=None)
def test_warc_framing_roundtrip(rows, compress):
    """ANY sequence of (url, body, status) — including bodies containing
    WARC/1.0 markers, CRLFs, or gzip magic — survives the record framing
    byte-for-byte (Content-Length framing must win over content sniffing)."""
    import gzip as _gzip

    ts = _dt.datetime(2025, 1, 1)
    buf = b"".join(
        _record_bytes(f"http://t/{u}", ts.strftime("%Y-%m-%dT%H:%M:%SZ"), s, b)
        for u, b, s in rows
    )
    if compress:
        buf = _gzip.compress(buf)
    got = list(parse_warc_bytes(buf))
    assert len(got) == len(rows)
    for (u, b, s), rec in zip(rows, got):
        assert rec["url"] == f"http://t/{u}"
        assert rec["html"] == b
        assert rec["status"] == s
