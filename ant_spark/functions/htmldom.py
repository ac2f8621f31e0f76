"""Minimal WHATWG-flavoured HTML DOM + CSS selectors on the stdlib.

The reference extracts links/text through golang.org/x/net/html (a WHATWG
HTML5 tree-construction parser) with these exact semantics:

- ``scan.Text`` (reference ``internal/scan/nodes.go:27-48``): depth-first
  concatenation of text-node data; recurses into *element* nodes only
  (comments skipped); NO whitespace normalization; script/style text IS
  included (they are element nodes containing text nodes).
- ``scan.Attr`` (``nodes.go:12-24``): first attribute with the key.
- ``Page.URLs`` (``page.go:98-100,116-139``): all ``a[href]`` in document
  order; hrefs parsed, invalid skipped, relative resolved against the page
  URL, then only http/https kept.

No HTML library ships in this container, so this module builds a small DOM on
``html.parser.HTMLParser`` with the tree-construction subset that matters for
a crawl corpus: implied <html>/<head>/<body>, void elements, the full HTML5
raw-text element set (script/style/textarea/title/xmp/iframe/noembed/
noframes/noscript/plaintext — tags inside are text, never links), RCDATA
character-reference decoding (title/textarea), table foster parenting
(non-table content moves before the table, reordering text/links like
x/net/html does), CDATA sections as text in svg/math foreign content, and
implied-end-tag handling for ``p``/``li``/table structure, the active
formatting elements list with full reconstruction + the adoption agency
algorithm (misnested ``<b><i></b></i>`` re-parents exactly as x/net/html
does, implicitly-closed formatting re-opens before later content — re-run
``<a href>`` clones re-emit their link), and implied tbody/tr synthesis
(``<table><td>`` yields the table>tbody>tr>td selector path), and
PLAINTEXT-to-EOF (a stray ``</plaintext>`` is character data — the HTML5
tokenizer has no exit from the PLAINTEXT state). It is NOT a full HTML5
parser, but no known divergence from x/net/html remains on the covered
construct set.

One tree builder, ``_TreeBuilder``, holds those rules and writes to a sink:
``_DomSink`` builds the ``Node`` tree (``parse()``, for selectors, scrape
specs and readability); ``_ExtractSink`` builds none and appends text and
hrefs to buffers (``stream_extract()``, the parse-UDF hot path). Golden
tests pin the fixture pages' text, a tag-soup differential fuzz pins the
extract sink's buffers to ``fast_extract`` over the DOM sink's tree, and a
tree-shape property pins the DOM on its own (parent pointers, no node
reachable twice).

Used exclusively inside Arrow-batched pandas UDFs (functions/parse.py) —
driver code never touches per-row HTML.
"""

from __future__ import annotations

import re
from functools import lru_cache
from html import unescape as _unescape
from html.parser import HTMLParser

TEXT = 0
ELEMENT = 1
COMMENT = 2
DOCTYPE = 3
DOCUMENT = 4

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
# Elements whose start tag implicitly ends an open <p> (WHATWG subset).
P_CLOSERS = frozenset(
    "address article aside blockquote div dl fieldset footer form h1 h2 h3 h4 "
    "h5 h6 header hr main nav ol p pre section table ul".split()
)
HEAD_ELEMENTS = frozenset("title meta link base style script noscript".split())
# Raw-text content models (HTML5 tokenizer RAWTEXT/RCDATA/PLAINTEXT states):
# everything up to the matching end tag is TEXT — tags inside contribute no
# elements and no links, exactly as x/net/html tokenizes them (scripting
# enabled, the reference's html.Parse default, makes noscript RAWTEXT too).
RAWTEXT_ELEMENTS = frozenset(
    "script style textarea title xmp iframe noembed noframes noscript "
    "plaintext".split()
)
# RCDATA (title/textarea) decodes character references; RAWTEXT does not.
RCDATA_ELEMENTS = frozenset(("title", "textarea"))
# HTML5 "in table" foster parenting: a start tag outside this set (or
# non-whitespace text) appearing while the insertion point is a row/table
# element is inserted BEFORE the nearest open table — x/net/html reorders
# the tree (and thus scan.Text/Page.URLs order) accordingly.
TABLE_SCOPE = frozenset("table tbody thead tfoot tr".split())
# HTML5 "formatting" category — tracked on the list of active formatting
# elements; misnested end tags run the adoption agency algorithm and
# implicitly-closed entries re-open (clone) before later content, exactly
# as x/net/html re-parents them.
FORMATTING_ELEMENTS = frozenset(
    "a b big code em font i nobr s small strike strong tt u".split()
)
# afe scope markers (spec also lists applet/object/marquee/template; the
# crawl subset needs the table-cell boundaries that stop formatting leaks)
_AFE_MARKER_TAGS = frozenset(("td", "th", "caption"))
_AFE_MARKER = object()  # sentinel entry in the active formatting list
# WHATWG "special" category (HTML namespace) — the furthest-block test in
# the adoption agency algorithm; ordinary phrasing elements (span, ruby,
# unknown tags) are NOT special and never act as a furthest block.
_SPECIAL_ELEMENTS = frozenset(
    "address applet area article aside base basefont bgsound blockquote "
    "body br button caption center col colgroup dd details dir div dl dt "
    "embed fieldset figcaption figure footer form frame frameset h1 h2 h3 "
    "h4 h5 h6 head header hgroup hr html iframe img input li link listing "
    "main marquee menu meta nav noembed noframes noscript object ol p "
    "param plaintext pre script section select source style summary table "
    "tbody td template textarea tfoot th thead title tr track ul wbr "
    "xmp".split()
)
# Start tags that do NOT reconstruct active formatting elements before
# insertion (the WHATWG in-body block/structural set; everything else —
# phrasing content, voids like <br>/<img>, unknown tags — reconstructs).
_NO_RECONSTRUCT = (
    P_CLOSERS
    | frozenset("li dd dt".split())
    | frozenset("caption col colgroup tbody td tfoot th thead tr".split())
    | (RAWTEXT_ELEMENTS - frozenset(("xmp",)))
    | HEAD_ELEMENTS
)
TABLE_ALLOWED = frozenset(
    "caption colgroup col thead tbody tfoot tr td th script style template "
    "form".split()
)
_TABLE_STRUCTURAL = frozenset(
    "tr td th tbody thead tfoot caption colgroup col".split()
)
_TABLE_BOUNDARY = TABLE_SCOPE | frozenset(("td", "th", "caption"))
# open element → the incoming start tags that imply its end tag (td/th,
# which also clear the formatting list to their marker, are handled apart)
_IMPLIED_END = {
    "p": P_CLOSERS,
    "li": frozenset(("li",)),
    "dt": frozenset(("dt", "dd")),
    "dd": frozenset(("dt", "dd")),
    "tr": frozenset(("tr",)),
    "option": frozenset(("option", "optgroup")),
}
_NEVER = re.compile(r"(?!)")  # a pattern that never matches


class Node:
    __slots__ = ("type", "tag", "attrs", "data", "children", "parent")

    def __init__(self, type_, tag="", attrs=None, data=""):
        self.type = type_
        self.tag = tag
        self.attrs = attrs or []  # list[(key, value)] — first occurrence wins
        self.data = data
        self.children: list[Node] = []
        self.parent: Node | None = None

    def append(self, child: "Node") -> None:
        child.parent = self
        self.children.append(child)

    def attr(self, key: str):
        """First attribute value by key (reference nodes.go:12-24)."""
        for k, v in self.attrs:
            if k == key:
                return v if v is not None else ""
        return None

    def __repr__(self):  # pragma: no cover - debug aid
        if self.type == ELEMENT:
            return f"<{self.tag} {self.attrs}>"
        return f"Node({self.type}, {self.data[:20]!r})"


def text(node: Node | None) -> str:
    """Inner text per reference internal/scan/nodes.go:27-48.

    Text node → its data verbatim. Otherwise concatenate, depth-first, the
    data of child text nodes and the text() of child *elements*; comments and
    doctypes contribute nothing; no trimming or whitespace folding. The walk
    is iterative, so no nesting depth raises RecursionError.
    """
    if node is None:
        return ""
    if node.type == TEXT:
        return node.data
    out: list[str] = []
    stack = node.children[::-1]
    while stack:
        n = stack.pop()
        if n.type == TEXT:
            out.append(n.data)
        elif n.type == ELEMENT and n.children:
            stack.extend(reversed(n.children))
    return "".join(out)


def _nearest_table(stack: list):
    """Topmost open <table>: fostered content goes just before it."""
    for el in reversed(stack):
        if el.tag == "table":
            return el
    return None


class _TreeBuilder(HTMLParser):
    """The tree-construction rules, written once, emitting to a sink.

    The open-element stack and the active formatting list hold the sink's
    element objects; the builder reads only their ``.tag`` and ``.attrs``.
    Everything that differs between outputs is a sink call:

    - ``element(tag, attrs, parent, table)`` opens an element under
      ``parent``, or — foster parenting — just before the open ``table``;
    - ``text(parent, data, table)`` appends text the same way;
    - ``pop(stack, i)`` closes ``stack[i:]``, innermost first;
    - ``comment(parent, data)`` and ``doctype(data)``;
    - the adoption agency's moves: ``clone(tag, attrs, parent, table)``
      makes a clone that will live under ``parent`` (or before ``table``),
      ``move(node, parent, stack)`` re-parents a node (fostered from the
      open-element ``stack`` when given), and ``split(tag, attrs, fb)``
      clones the formatting element into ``fb`` around ``fb``'s children.
    html/head/body are ``element`` calls too, never pushed on the stack.
    """

    # widen html.parser's script/style-only raw-text handling to the full
    # HTML5 RAWTEXT/RCDATA/PLAINTEXT element set (tags inside become text)
    CDATA_CONTENT_ELEMENTS = tuple(sorted(RAWTEXT_ELEMENTS))

    def __init__(self, sink):
        super().__init__(convert_charrefs=True)
        self.sink = sink
        self._element = sink.element
        self._text = sink.text
        self._pop = sink.pop
        self._stack: list = []
        # list of active formatting elements: element refs + scope markers
        self._afe: list = []
        self._html = self._head = self._body = None

    def build(self, html: str | bytes):
        """Feed a whole document (bytes are decoded first); returns the sink."""
        if isinstance(html, (bytes, bytearray, memoryview)):
            from ant_spark.functions.encoding import decode_html

            html = decode_html(html)
        self.feed(html)
        self.close()
        # EOF inside a raw-text element (unclosed <plaintext>/<xmp>/…):
        # html.parser leaves the tail buffered; HTML5 emits it as text.
        if self.cdata_elem and self.rawdata:
            data, self.rawdata = self.rawdata, ""
            self.handle_data(data)
        self._pop(self._stack, 0)
        self._ensure_body()  # documents always end up with html/head/body
        return self.sink

    # -- structure helpers -------------------------------------------------
    def _ensure_html(self):
        if self._html is None:
            self._html = self._element("html", [], self.sink.document, None)
        return self._html

    def _ensure_head(self):
        if self._head is None:
            self._head = self._element("head", [], self._ensure_html(), None)
        return self._head

    def _ensure_body(self):
        # a body exists iff the builder is "in body" (WHATWG insertion mode)
        if self._body is None:
            self._ensure_head()
            self._body = self._element("body", [], self._html, None)
        return self._body

    def _top_parent(self, tag: str):
        """Head or body (WHATWG routing) for an element opened at top level."""
        if self._body is None and tag in HEAD_ELEMENTS:
            return self._ensure_head()
        return self._ensure_body()

    def _current(self):
        if self._stack:
            return self._stack[-1]
        return self._body or self.sink.document

    def _insert(self, tag: str, attrs, parent):
        """Open an element under ``parent``, honoring table foster
        parenting (the one rule that moves content)."""
        if parent.tag in TABLE_SCOPE and tag not in TABLE_ALLOWED:
            return self._element(tag, attrs, parent, _nearest_table(self._stack))
        return self._element(tag, attrs, parent, None)

    # -- active formatting elements (WHATWG list + adoption agency) --------
    def _afe_push(self, el) -> None:
        """Push with the Noah's Ark clause: at most 3 entries with the same
        tag+attrs since the last marker (the EARLIEST such entry drops)."""
        same = []
        for e in reversed(self._afe):
            if e is _AFE_MARKER:
                break
            if e.tag == el.tag and e.attrs == el.attrs:
                same.append(e)
        if len(same) >= 3:
            self._afe.remove(same[-1])
        self._afe.append(el)

    def _afe_clear_to_marker(self) -> None:
        while self._afe:
            if self._afe.pop() is _AFE_MARKER:
                return

    def _afe_find(self, tag: str):
        """Last afe entry with this tag, not crossing a scope marker."""
        for e in reversed(self._afe):
            if e is _AFE_MARKER:
                return None
            if e.tag == tag:
                return e
        return None

    def _reconstruct_afe(self) -> None:
        """Re-open (clone) formatting elements that were implicitly closed
        — WHATWG 'reconstruct the active formatting elements'."""
        afe, stack = self._afe, self._stack
        if not afe:
            return
        last = afe[-1]
        if last is _AFE_MARKER or last in stack:
            return
        i = len(afe) - 1
        while i > 0:
            e = afe[i - 1]
            if e is _AFE_MARKER or e in stack:
                break
            i -= 1
        for j in range(i, len(afe)):
            entry = afe[j]
            clone = self._insert(entry.tag, entry.attrs, self._current())
            stack.append(clone)
            afe[j] = clone

    def _adoption(self, subject: str) -> None:
        """The adoption agency algorithm (WHATWG tree construction; the
        x/net/html behavior for misnested formatting end tags): re-parents
        <b><i></b></i> style misnesting and splits formatting around blocks
        (<b>x<div>y</b>z → b>x, div>(b>y, z))."""
        stack, afe, sink = self._stack, self._afe, self.sink
        for _ in range(8):  # outer loop
            if stack and stack[-1].tag == subject and stack[-1] not in afe:
                self._pop(stack, len(stack) - 1)
                return
            fe = self._afe_find(subject)
            if fe is None:
                # any-other-end-tag: pop to the nearest matching element
                for i in range(len(stack) - 1, -1, -1):
                    if stack[i].tag == subject:
                        self._pop(stack, i)
                        return
                return
            if fe not in stack:
                afe.remove(fe)
                return
            fe_idx = stack.index(fe)
            fb = None  # furthest block: first special element below fe
            for i in range(fe_idx + 1, len(stack)):
                if stack[i].tag in _SPECIAL_ELEMENTS:
                    fb, fb_idx = stack[i], i
                    break
            if fb is None:
                self._pop(stack, fe_idx)
                afe.remove(fe)
                return
            common = stack[fe_idx - 1] if fe_idx > 0 else self._ensure_body()
            # clones are formatting elements: fostered under a table-scope
            # common, like any element opened there
            fostered = common.tag in TABLE_SCOPE
            table = _nearest_table(stack) if fostered else None
            bookmark = afe.index(fe)
            last_node = fb
            idx = fb_idx
            inner = 0
            while True:  # inner loop
                inner += 1
                idx -= 1
                node = stack[idx]
                if node is fe:
                    break
                if inner > 3 and node in afe:
                    afe.remove(node)
                if node not in afe:
                    del stack[idx]  # never special, so never a table
                    continue
                clone = sink.clone(node.tag, node.attrs, common, table)
                afe[afe.index(node)] = clone
                stack[idx] = clone
                if last_node is fb:
                    bookmark = afe.index(clone) + 1
                sink.move(last_node, clone, None)
                last_node = clone
            fostered = fostered and last_node.tag not in TABLE_ALLOWED
            sink.move(last_node, common, stack if fostered else None)
            clone = sink.split(fe.tag, fe.attrs, fb)
            old = afe.index(fe)
            if old < bookmark:
                bookmark -= 1
            del afe[old]
            afe.insert(bookmark, clone)
            stack.remove(fe)
            stack.insert(stack.index(fb) + 1, clone)

    # -- implied end tags --------------------------------------------------
    def _implied_end(self, incoming: str):
        """Pop elements whose end tag is implied by the incoming start tag;
        returns the new insertion point."""
        self._table_pop(incoming)
        stack = self._stack
        if stack:
            cur = stack[-1].tag
            closers = _IMPLIED_END.get(cur)
            if closers is not None and incoming in closers:
                self._pop(stack, len(stack) - 1)
            elif cur in ("td", "th") and incoming in ("td", "th", "tr"):
                self._pop(stack, len(stack) - 1)
                self._afe_clear_to_marker()
                if stack and stack[-1].tag == "tr" and incoming == "tr":
                    self._pop(stack, len(stack) - 1)
        return self._current()

    def _table_pop(self, incoming: str) -> None:
        """An incoming table-structural tag generates implied end tags for
        open non-table elements (fostered wrappers, unclosed formatting)
        down to the nearest table-context boundary — so ``<table><div>x<tr>``
        puts the row in the table, not inside the fostered div."""
        stack = self._stack
        if incoming not in _TABLE_STRUCTURAL or _nearest_table(stack) is None:
            return
        i = len(stack)
        while i and stack[i - 1].tag not in _TABLE_BOUNDARY:
            i -= 1
        self._pop(stack, i)

    def _synth_open(self, parent, tag: str):
        """Synthesize an implied table-section element and open it."""
        el = self._element(tag, [], parent, None)
        self._stack.append(el)
        return el

    # -- HTMLParser callbacks ----------------------------------------------
    def handle_decl(self, decl):
        self.sink.doctype(decl)

    def handle_comment(self, data):
        self.sink.comment(self._current(), data)

    def handle_starttag(self, tag, attrs):
        stack = self._stack
        if tag in ("html", "head", "body"):
            if tag == "html":
                el = self._ensure_html()
            elif tag == "body":
                el = self._ensure_body()
            elif self._body is not None or stack:
                return  # HTML5 "in body": a stray <head> start is ignored
            else:
                el = self._ensure_head()
            if not el.attrs:
                el.attrs = list(attrs)
            return

        parent = self._implied_end(tag) if stack else self._top_parent(tag)
        if tag == "a" and self._afe_find("a") is not None:
            # WHATWG <a>-in-<a>: adoption agency closes the open one, any
            # survivor drops from both lists before the new <a> inserts.
            self._adoption("a")
            prev = self._afe_find("a")
            if prev is not None:
                self._afe.remove(prev)
                if prev in stack:
                    stack.remove(prev)
            parent = self._current()
        if tag not in _NO_RECONSTRUCT:
            self._reconstruct_afe()
            parent = self._current()
        # implied tbody/tr synthesis ("in table"/"in table body" modes):
        # <table><tr> gets a tbody, <table><td> gets tbody+tr — x/net/html
        # selector paths (table > tbody > tr > td) hold on sloppy tables.
        if tag == "tr" and parent.tag == "table":
            parent = self._synth_open(parent, "tbody")
        elif tag in ("td", "th"):
            if parent.tag == "table":
                parent = self._synth_open(parent, "tbody")
            if parent.tag in ("tbody", "thead", "tfoot"):
                parent = self._synth_open(parent, "tr")

        el = self._insert(tag, attrs, parent)
        if tag not in VOID_ELEMENTS:
            stack.append(el)
        if tag in FORMATTING_ELEMENTS:
            self._afe_push(el)
        elif tag in _AFE_MARKER_TAGS:
            self._afe.append(_AFE_MARKER)

    def handle_startendtag(self, tag, attrs):
        # <br/> style — an element that is never pushed.
        if tag in ("html", "head", "body"):
            self.handle_starttag(tag, attrs)
            return
        parent = self._stack[-1] if self._stack else self._top_parent(tag)
        if tag not in _NO_RECONSTRUCT:
            self._reconstruct_afe()
            parent = self._current()
        self._insert(tag, attrs, parent)

    def handle_endtag(self, tag):
        if tag in ("html", "head", "body"):
            return  # a stray </head> in body is ignored too
        if tag in FORMATTING_ELEMENTS:
            self._adoption(tag)
            return
        # Pop to the nearest matching open element (ignore stray end tags).
        # Implicitly-closed formatting elements stay in the afe and re-open
        # on the next insertion; closed cells clear the afe to their marker.
        stack = self._stack
        for i in range(len(stack) - 1, -1, -1):
            if stack[i].tag == tag:
                swept = stack[i:]
                self._pop(stack, i)
                for el in swept:
                    if el.tag in _AFE_MARKER_TAGS:
                        self._afe_clear_to_marker()
                return

    def handle_data(self, data):
        if not data:
            return
        stack = self._stack
        if not stack:
            # Text at top level: whitespace before body is dropped (WHATWG
            # "before head"/"before body" modes); other text forces a body.
            if self._body is None and not data.strip():
                return
            body = self._ensure_body()
            self._reconstruct_afe()
            self._text(stack[-1] if stack else body, data, None)
            return
        cur = stack[-1]
        if cur.tag in RAWTEXT_ELEMENTS:
            # raw-text content never reconstructs formatting; RCDATA
            # decodes character references (RAWTEXT keeps them raw —
            # html.parser's cdata mode skips convert_charrefs)
            if cur.tag in RCDATA_ELEMENTS:
                data = _unescape(data)
            self._text(cur, data, None)
            return
        if not (cur.tag in TABLE_SCOPE and not data.strip()):
            # in-body character tokens reconstruct active formatting
            # (whitespace inside table context is the spec exception)
            self._reconstruct_afe()
            cur = stack[-1]
        if cur.tag in TABLE_SCOPE and data.strip():
            # non-whitespace text in table context foster-parents
            self._text(cur, data, _nearest_table(stack))
        else:
            self._text(cur, data, None)

    def unknown_decl(self, decl):
        # <![CDATA[...]]> is TEXT in foreign content (svg/math) and a bogus
        # comment everywhere else — x/net/html does the same.
        if decl.startswith("CDATA[") and any(
            el.tag in ("svg", "math") for el in self._stack
        ):
            self._text(self._current(), decl[6:], None)
        else:
            self.sink.comment(self._current(), decl)

    def set_cdata_mode(self, elem):
        """PLAINTEXT runs to EOF: the HTML5 tokenizer has no way out of the
        PLAINTEXT state, so a stray ``</plaintext>`` is character data, not
        an end tag (x/net/html agrees). html.parser's cdata mode ends at the
        matching close tag — defuse its scan pattern for this one element."""
        super().set_cdata_mode(elem)
        if elem.lower() == "plaintext":
            self.interesting = _NEVER


def _foster(node: Node, table: Node) -> None:
    """Insert ``node`` immediately before ``table`` (x/net/html does the
    same, so text/link order over fostered content matches the reference)."""
    p = table.parent
    node.parent = p
    p.children.insert(p.children.index(table), node)


def _within(node: Node | None, root: Node) -> bool:
    """Whether ``node`` is ``root`` or one of its descendants."""
    while node is not None:
        if node is root:
            return True
        node = node.parent
    return False


class _DomSink:
    """Builds the ``Node`` tree that ``parse()`` returns."""

    def __init__(self):
        self.document = Node(DOCUMENT)

    def element(self, tag, attrs, parent, table):
        node = Node(ELEMENT, tag, list(attrs))
        if table is None:
            parent.append(node)
        else:
            _foster(node, table)
        return node

    def text(self, parent, data, table):
        node = Node(TEXT, data=data)
        if table is None:
            parent.append(node)
        else:
            _foster(node, table)

    def pop(self, stack, i):  # a closed element stays where it is
        del stack[i:]

    def comment(self, parent, data):
        parent.append(Node(COMMENT, data=data))

    def doctype(self, data):
        self.document.append(Node(DOCTYPE, data=data))

    def clone(self, tag, attrs, parent, table):
        return Node(ELEMENT, tag, list(attrs))  # placed by move()

    def move(self, node, parent, stack):
        """Re-parent ``node`` under ``parent``; when fostered (``stack``
        given), before the topmost open table outside ``node``'s subtree.
        A move into ``node``'s own subtree (degenerate soup) is skipped: it
        would make the tree a cycle."""
        table = None
        if stack is not None:
            for t in reversed(stack):
                if t.tag == "table" and not _within(t, node):
                    table = t
                    break
        if table is None and _within(parent, node):
            return
        if node.parent is not None:
            node.parent.children.remove(node)
        if table is None:
            parent.append(node)
        else:
            _foster(node, table)

    def split(self, tag, attrs, fb):
        clone = Node(ELEMENT, tag, list(attrs))
        for c in fb.children:
            c.parent = clone
        clone.children, fb.children = fb.children, []
        fb.append(clone)
        return clone


class _Span:
    """Extract-sink element: the text/href buffers its content goes to.
    Identity semantics (no ``__eq__``), like ``Node``, tell clones apart."""

    __slots__ = ("tag", "attrs", "text", "hrefs", "outer")

    def __init__(self, tag, attrs, text, hrefs, outer=None):
        self.tag = tag
        self.attrs = attrs
        self.text = text
        self.hrefs = hrefs
        self.outer = outer  # own buffers flush into this span's on pop


class _ExtractSink:
    """Text and hrefs in DOM pre-order, and the title, without a tree.

    Pre-order equals arrival order except for foster parenting, which puts
    content BEFORE the open table. So a <table> buffers its own content and
    flushes it into the enclosing buffer when it closes, while fostered
    content goes straight to the enclosing buffer. A <title> buffers too,
    which captures its text; the title is the first one opened. The
    adoption agency's moves touch nothing already emitted: only a clone of
    an <a> re-emits its href where the clone opens. Known gaps: a title
    fostered before a table holding an earlier title, and an <a> clone
    whose furthest block already holds links behind a cell marker.
    """

    def __init__(self):
        self.document = _Span("", [], [], [])
        self.title: list[str] | None = None

    def element(self, tag, attrs, parent, table):
        if table is not None:
            parent = table.outer
        if tag == "a":
            for k, v in attrs:
                if k == "href":
                    parent.hrefs.append(v if v is not None else "")
                    break
        elif tag == "table" or tag == "title":
            span = _Span(tag, attrs, [], [], parent)
            if tag == "title" and self.title is None:
                self.title = span.text
            return span
        return _Span(tag, attrs, parent.text, parent.hrefs)

    def text(self, parent, data, table):
        (parent if table is None else table.outer).text.append(data)

    def pop(self, stack, i):
        while len(stack) > i:
            span = stack.pop()
            outer = span.outer
            if outer is not None:
                outer.text.extend(span.text)
                outer.hrefs.extend(span.hrefs)

    def comment(self, *_):  # comments, doctypes and moves emit nothing
        pass

    doctype = move = comment
    clone = element

    def split(self, tag, attrs, fb):
        return self.element(tag, attrs, fb, None)


def parse(html: str | bytes) -> Node:
    """Parse HTML into a document node (reference page.go:61-69 analogue).

    Always succeeds on any input (like x/net/html, which is error-tolerant);
    bytes go through WHATWG encoding sniffing (BOM / meta prescan /
    UTF-8-trial / windows-1252 — functions.encoding) and decode with
    replacement, so one mangled page never kills a task.
    """
    return _TreeBuilder(_DomSink()).build(html).document


def stream_extract(html: str | bytes) -> tuple[str, list[str], str]:
    """One streaming pass → (text, hrefs, title); no DOM allocated. The
    parse-UDF hot path: ``parse()``'s tree builder with the extract sink."""
    sink = _TreeBuilder(_ExtractSink()).build(html)
    title = "".join(sink.title) if sink.title is not None else ""
    return "".join(sink.document.text), sink.document.hrefs, title


# --------------------------------------------------------------------------
# CSS selectors — the subset the reference's scrape specs exercise
# (reference internal/selectors caches compiled cascadia selectors,
# selectors.go:14-51; we cache compiled matchers with lru_cache).
# Grammar: group = sel ("," sel)* ; sel = simple ((" "|">") simple)* ;
# simple = [tag|*] ("#id" | ".class" | "[attr]" | "[attr=val]")*

_SIMPLE_RE = re.compile(
    r"(?P<tag>[a-zA-Z][\w-]*|\*)?"
    r"(?P<rest>(?:[.#][\w-]+|\[[^\]]+\])*)$"
)
_PART_RE = re.compile(r"[.#][\w-]+|\[[^\]]+\]")


class _Simple:
    __slots__ = ("tag", "id", "classes", "attrs")

    def __init__(self, tag, id_, classes, attrs):
        self.tag = tag
        self.id = id_
        self.classes = classes
        self.attrs = attrs  # list[(key, value-or-None)]

    def matches(self, node: Node) -> bool:
        if node.type != ELEMENT:
            return False
        if self.tag and self.tag != "*" and node.tag != self.tag:
            return False
        if self.id is not None and node.attr("id") != self.id:
            return False
        if self.classes:
            cls = (node.attr("class") or "").split()
            for c in self.classes:
                if c not in cls:
                    return False
        for k, v in self.attrs:
            got = node.attr(k)
            if got is None:
                return False
            if v is not None and got != v:
                return False
        return True


def _parse_simple(token: str) -> _Simple:
    m = _SIMPLE_RE.match(token)
    if not m or (not m.group("tag") and not m.group("rest")):
        raise ValueError(f"unsupported selector: {token!r}")
    tag = m.group("tag")
    id_ = None
    classes: list[str] = []
    attrs: list[tuple[str, str | None]] = []
    for part in _PART_RE.findall(m.group("rest") or ""):
        if part.startswith("."):
            classes.append(part[1:])
        elif part.startswith("#"):
            id_ = part[1:]
        else:
            inner = part[1:-1]
            if "=" in inner:
                k, _, v = inner.partition("=")
                attrs.append((k.strip(), v.strip().strip("\"'")))
            else:
                attrs.append((inner.strip(), None))
    return _Simple(tag.lower() if tag else None, id_, classes, attrs)


class Selector:
    """A compiled selector group; match_all returns document-order nodes."""

    def __init__(self, source: str):
        self.source = source
        self._alts: list[list[tuple[str, _Simple]]] = []
        for alt in source.split(","):
            alt = alt.strip()
            if not alt:
                raise ValueError(f"empty selector in {source!r}")
            # tokenize on combinators, preserving '>'
            toks = re.split(r"\s*(>)\s*|\s+", alt)
            chain: list[tuple[str, _Simple]] = []
            comb = " "
            for t in toks:
                if t is None or t == "":
                    continue
                if t == ">":
                    comb = ">"
                    continue
                chain.append((comb, _parse_simple(t)))
                comb = " "
            if not chain:
                raise ValueError(f"unsupported selector: {source!r}")
            self._alts.append(chain)

    def _chain_matches(self, node: Node, chain) -> bool:
        comb, simple = chain[-1]
        if not simple.matches(node):
            return False
        rest = chain[:-1]
        if not rest:
            return True
        anc = node.parent
        if comb == ">":
            return anc is not None and self._chain_matches(anc, rest)
        while anc is not None:
            if self._chain_matches(anc, rest):
                return True
            anc = anc.parent
        return False

    def matches(self, node: Node) -> bool:
        return any(self._chain_matches(node, c) for c in self._alts)

    def match_all(self, root: Node) -> list[Node]:
        out: list[Node] = []
        stack = [root]
        order: list[Node] = []
        # iterative pre-order DFS = document order (cascadia MatchAll parity)
        while stack:
            n = stack.pop()
            order.append(n)
            stack.extend(reversed(n.children))
        for n in order:
            if n.type == ELEMENT and self.matches(n):
                out.append(n)
        return out

    def match_first(self, root: Node) -> Node | None:
        nodes = self.match_all(root)
        return nodes[0] if nodes else None


@lru_cache(maxsize=4096)
def compile_selector(source: str) -> Selector:
    """Compile-once cache, per executor process (reference selectors.go:39-51)."""
    return Selector(source)


def fast_extract(root: Node) -> tuple[str, list[str], str]:
    """One DFS pass → (text, hrefs-in-document-order, title).

    Equivalent to text(root) + match_all('a[href]') hrefs + first 'title'
    text, fused into a single traversal — the reference formulation the
    tests hold ``stream_extract`` (the parse-UDF hot path) to.
    """
    text_parts: list[str] = []
    hrefs: list[str] = []
    title: str | None = None
    # iterative pre-order DFS, matching document order
    stack = [root]
    while stack:
        n = stack.pop()
        t = n.type
        if t == TEXT:
            text_parts.append(n.data)
            continue
        if t == ELEMENT:
            tag = n.tag
            if tag == "a":
                href = n.attr("href")
                if href is not None:
                    hrefs.append(href)
            elif tag == "title" and title is None:
                title = text(n)
        elif t == COMMENT or t == DOCTYPE:
            continue
        c = n.children
        if c:
            stack.extend(reversed(c))
    return "".join(text_parts), hrefs, title or ""
