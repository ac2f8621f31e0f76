"""Main-content extraction (boilerplate removal) for webtext corpora.

The reference extracts the FULL document text (``internal/scan/nodes.go:
27-48`` concatenates every text node — navigation, footers, cookie banners
included). For an LLM training corpus that is the wrong unit: the classic
boilerplate-removal literature (Kohlschütter et al., WSDM 2010
"Boilerplate Detection using Shallow Text Features"; Arc90 Readability)
shows that simple per-block shallow features — text length and link
density — separate body text from chrome with high accuracy and no model.

``main_text`` implements that family, deterministic and stdlib-only:

1. Segment the DOM into BLOCKS: the nearest block-level ancestor
   (p/div/li/blockquote/h1-6/td/pre/article/section/…) owns each text
   node; inline markup (a/b/span/em…) does not split a block.
2. Score each block with shallow features:
   - ``len`` — total characters of the block's text;
   - ``link_density`` — characters inside <a> / total characters;
   - container hints — a block whose ancestor chain carries a
     nav/aside/footer/header/form tag, or a class/id token like nav,
     menu, footer, sidebar, comment, cookie, banner, ad, is chrome.
3. Keep blocks with ``len >= min_len`` (headings h1-h6 use the lower
   ``min_len_heading`` — titles are short by nature but carry structure)
   and ``link_density <= max_link_density`` and no chrome ancestor; join
   survivors with blank lines, whitespace-normalized.

This is intentionally NOT a learned model: determinism makes it
oracle-able (the VALUES-pinned `text_main_content` query) and cheap
enough to fuse into the same Arrow batch as the parse UDF. At 100 TB it
is embarrassingly parallel per document — no shuffle, no state.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ant_spark.functions.htmldom import ELEMENT, TEXT, Node, parse

# block-level elements: a text node belongs to its nearest such ancestor
BLOCK_ELEMENTS = frozenset(
    "address article aside blockquote body dd div dl dt fieldset figcaption "
    "figure footer form h1 h2 h3 h4 h5 h6 header li main nav ol p pre "
    "section table tbody td tfoot th thead tr ul".split()
)
# structural chrome: any block inside these is navigation/furniture
_CHROME_TAGS = frozenset("nav aside footer header form select option".split())
# raw-text containers whose text is never body copy
_NON_CONTENT = frozenset("script style noscript template textarea title".split())
_CHROME_CLASS_RE = re.compile(
    r"(?:^|[\s_-])(?:nav|navbar|menu|footer|header|sidebar|side-bar|comment|"
    r"comments|cookie|banner|breadcrumb|breadcrumbs|ad|ads|advert|promo|"
    r"share|social|related|widget|pager|pagination)(?:$|[\s_-])",
    re.IGNORECASE,
)
_WS_RE = re.compile(r"\s+")


def _is_chrome(node: Node) -> bool:
    if node.tag in _CHROME_TAGS:
        return True
    for key in ("class", "id"):
        v = node.attr(key)
        if v and _CHROME_CLASS_RE.search(v):
            return True
    return False


_HEADINGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))


def main_text(
    html: bytes | str | None,
    min_len: int = 25,
    max_link_density: float = 0.33,
    min_len_heading: int = 8,
) -> str:
    """Body text of a page, boilerplate stripped (see module docstring)."""
    if html is None:
        return ""
    return main_text_from_doc(
        parse(html), min_len, max_link_density, min_len_heading
    )


def main_text_from_doc(
    doc: Node,
    min_len: int = 25,
    max_link_density: float = 0.33,
    min_len_heading: int = 8,
) -> str:
    """Kernel over an already-parsed DOM — lets the fused parse stage
    (parse.py text_mode='main') reuse ONE tree for links+title+main_text."""
    blocks: list[str] = []

    # Iterative DFS (no nesting depth raises RecursionError). A frame is
    # (children iterator, in_chrome, in_link, block element or None); text
    # accumulates into the nearest open block's buffer, and a block frame
    # scores its buffer when its children run out.
    buf_stack: list[list] = [[0, 0]]  # (total_chars, link_chars) sentinel
    parts_stack: list[list[str]] = [[]]
    frames = [(iter(doc.children), False, False, None)]
    while frames:
        children, chrome, in_link, block = frames[-1]
        c = next(children, None)
        if c is None:
            frames.pop()
            if block is None:
                continue
            total, link = buf_stack.pop()
            text = _WS_RE.sub(" ", "".join(parts_stack.pop())).strip()
            floor = min_len_heading if block.tag in _HEADINGS else min_len
            if (
                not chrome
                and len(text) >= floor
                and total > 0
                and link / total <= max_link_density
            ):
                blocks.append(text)
            # nothing propagates upward: a block CONSUMES its text
            # (a div that only wrapped kept paragraphs adds nothing)
            continue
        if c.type == TEXT:
            t = c.data
            if not t or not t.strip():
                continue
            buf_stack[-1][0] += len(t)
            if in_link:
                buf_stack[-1][1] += len(t)
            parts_stack[-1].append(t)
        elif c.type == ELEMENT and c.tag not in _NON_CONTENT:
            c_block = c if c.tag in BLOCK_ELEMENTS else None
            if c_block is not None:
                buf_stack.append([0, 0])
                parts_stack.append([])
            frames.append((
                iter(c.children),
                chrome or _is_chrome(c),
                in_link or c.tag == "a",
                c_block,
            ))

    return "\n\n".join(blocks)


def make_main_text_udf(min_len: int = 25, max_link_density: float = 0.33,
                       min_len_heading: int = 8):
    """Arrow-batched main_text over an html (binary/string) column."""

    @pandas_udf("string")
    def main_text_udf(html: pd.Series) -> pd.Series:
        return pd.Series(
            [main_text(h, min_len, max_link_density, min_len_heading)
             for h in html]
        )

    return main_text_udf


def with_main_text(df, html_col: str = "html", out_col: str = "main_text",
                   min_len: int = 25, max_link_density: float = 0.33,
                   min_len_heading: int = 8):
    """df + a boilerplate-stripped text column (per-row, shuffle-free)."""
    return df.withColumn(
        out_col,
        make_main_text_udf(min_len, max_link_density, min_len_heading)(
            F.col(html_col)
        ),
    )
