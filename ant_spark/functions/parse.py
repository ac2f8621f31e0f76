"""Fused, vectorized HTML parse stage.

The reference parses each page lazily exactly once (``page.go:61-69``) and
derives links (``page.go:98-100,116-139``), text (``page.go:91-93`` →
``internal/scan/nodes.go:27-48``) and scraped structs
(``internal/scan/scanner.go:50-68``) from that single tree. Catalyst cannot
fuse across Python UDFs, so we fuse *explicitly*: ONE Arrow-batched pandas
UDF parses the html bytes once and emits ``(links, text, title, scraped)``
together. No per-row Python ever crosses the JVM boundary — Arrow record
batches only (BASELINE.json input_hint requirement).

Link semantics (parity with ``page.resolve``):
- every ``a[href]`` in document order;
- unparseable hrefs skipped silently;
- relative refs resolved against the page URL (RFC 3986);
- only http/https survive (checked on the *parsed* scheme, so ``MAILTO:`` and
  ``javascript:`` are dropped, ``HTTP://`` survives).

Scrape-spec semantics (parity with ``internal/scan``):
- spec entry ``"sel@attr"`` → first match's attribute, ``"sel"`` → Text() of
  the first match (scanner picks the first matched node, scan.go:40-65);
- list fields → every match (slice.go:18-58 MatchAll loop);
- missing selector ⇒ zero value; numeric parse failures ⇒ silently zero
  (scan.go:100-101,121,142).
"""

from __future__ import annotations

from typing import Any, Callable, Iterable
from urllib.parse import urljoin, urlsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ant_spark.functions.htmldom import (
    ELEMENT,
    Node,
    compile_selector,
    parse,
    stream_extract,
    text,
)
from ant_spark.schemas import PARSE_OUT

# --------------------------------------------------------------------------
# pure-Python core (unit-testable without Spark)


def extract_links(html: bytes | str | None, base_url: str) -> list[str]:
    """All a[href] resolved against base_url, http(s) only, document order."""
    if html is None:
        return []
    return _resolve_hrefs(_selected_hrefs(parse(html), "a[href]"), base_url)


def _sel_attr(spec: str) -> tuple[str, str | None]:
    """Split ``"selector@attr"`` (reference struct tag format,
    internal/scan/struct.go:24-79)."""
    sel, at, attr = spec.rpartition("@")
    if at == "":
        return attr, None  # no '@' → whole spec is the selector
    return sel, attr


def _node_value(node: Node, attr: str | None) -> str:
    if attr is None:
        return text(node)
    return node.attr(attr) or ""


def scrape(html_doc: Node, spec: dict[str, Any]) -> dict[str, str]:
    """Flat scrape: name → 'sel@attr' (or {'css':..., 'all': True}).

    Values are strings; list results are joined with '\\x1f' (unit sep) so
    the engine can keep the result a simple map<string,string>. Typed /
    nested extraction lives in make_typed_scrape_udf.
    """
    out: dict[str, str] = {}
    for name, entry in spec.items():
        if isinstance(entry, str):
            sel_s, attr = _sel_attr(entry)
            many = False
        else:
            sel_s, attr = _sel_attr(entry["css"])
            many = bool(entry.get("all"))
        sel = compile_selector(sel_s)
        if many:
            out[name] = "\x1f".join(
                _node_value(n, attr) for n in sel.match_all(html_doc)
            )
        else:
            node = sel.match_first(html_doc)
            out[name] = _node_value(node, attr) if node is not None else ""
    return out


def parse_page(
    html: bytes | str | None,
    base_url: str,
    spec: dict[str, Any] | None = None,
    link_selector: str = "a[href]",
    text_mode: str = "scan",
) -> tuple[list[str], str, str, dict[str, str]]:
    """One parse → (links, text, title, scraped). The fusion point.

    ``link_selector`` parameterizes link discovery (reference ``Page.Next``,
    page.go:103-105 — e.g. pagination via 'a.next'); default is Page.URLs'
    ``a[href]``. ``text_mode``: ``'scan'`` is reference scan.Text (every
    text node); ``'main'`` runs the boilerplate-removal kernel
    (functions/readability) in the SAME pass — a corpus build gets training
    text at crawl time with no second decode of the html column.
    """
    if html is None:
        return [], "", "", {}
    if spec is None and link_selector == "a[href]" and text_mode != "main":
        # hot path: one streaming pass, no DOM (links + text + title fused)
        txt, hrefs, title = stream_extract(html)
        return _resolve_hrefs(hrefs, base_url), txt, title, {}
    doc = parse(html)
    if text_mode == "main":
        from ant_spark.functions.readability import main_text_from_doc

        txt = main_text_from_doc(doc)
    else:
        txt = text(doc)
    title_node = compile_selector("title").match_first(doc)
    return (
        _resolve_hrefs(_selected_hrefs(doc, link_selector), base_url),
        txt,
        text(title_node) if title_node is not None else "",
        scrape(doc, spec) if spec else {},
    )


def _selected_hrefs(doc: Node, selector: str) -> list[str]:
    """href of every node the selector matches that has one, document order."""
    hrefs = (n.attr("href") for n in compile_selector(selector).match_all(doc))
    return [h for h in hrefs if h is not None]


def _resolve_hrefs(hrefs: list[str], base_url: str) -> list[str]:
    """page.resolve rules: parse, resolve relative, keep http(s) only."""
    links: list[str] = []
    for href in hrefs:
        try:
            scheme = urlsplit(href).scheme.lower()
        except ValueError:
            continue
        if scheme in ("http", "https"):
            links.append(href)
        elif scheme == "":
            try:
                links.append(urljoin(base_url, href))
            except ValueError:
                continue
    return links


# --------------------------------------------------------------------------
# Spark surface


def make_parse_udf(spec: dict[str, Any] | None = None,
                   link_selector: str = "a[href]",
                   text_mode: str = "scan"):
    """Fused parse UDF: (url: string, html: binary) → PARSE_OUT struct.

    ``spec`` is compiled once on the driver, captured by closure, shipped in
    the serialized UDF (the broadcast of reference scanner.go:79-94's
    compiled-scanner cache), and selector compilation is lru_cached per
    executor process.
    """
    spec = dict(spec) if spec else None

    @pandas_udf(PARSE_OUT)
    def parse_udf(url: pd.Series, html: pd.Series) -> pd.DataFrame:
        links: list[list[str]] = []
        texts: list[str] = []
        titles: list[str] = []
        scraped: list[dict[str, str]] = []
        for u, h in zip(url, html):
            l, t, ti, s = parse_page(h, u or "", spec, link_selector,
                                     text_mode)
            links.append(l)
            texts.append(t)
            titles.append(ti)
            scraped.append(s)
        return pd.DataFrame(
            {"links": links, "text": texts, "title": titles, "scraped": scraped}
        )

    return parse_udf


def with_parsed(df, spec: dict[str, Any] | None = None,
                url_col: str = "url", html_col: str = "html") -> "Any":
    """df + one 'parsed' struct column; select parsed.* as needed downstream
    so Catalyst prunes the heavy html column everywhere else."""
    udf = make_parse_udf(spec)
    return df.withColumn("parsed", udf(F.col(url_col), F.col(html_col)))


def make_typed_scrape_udf(fields: dict[str, dict[str, Any]], schema):
    """Typed scrape (reference Page.Scan): returns a StructType row.

    ``fields``: name → {'css': 'sel@attr', 'type': 'str|int|float|bytes',
    'all': bool, 'fields': {...nested...}}. Numeric parse failures are
    silently zero (scan.go:100-101,121,142); missing → zero value.
    """
    fields = dict(fields)

    def convert(raw: str, typ: str):
        if typ == "int":
            try:
                return int(raw.strip())
            except ValueError:
                return 0
        if typ == "float":
            try:
                return float(raw.strip())
            except ValueError:
                return 0.0
        if typ == "bytes":
            return raw.encode("utf-8")
        return raw

    def scrape_node(node: Node, fspec: dict[str, dict[str, Any]]):
        row: dict[str, Any] = {}
        for name, ent in fspec.items():
            sel_s, attr = _sel_attr(ent["css"])
            sel = compile_selector(sel_s)
            typ = ent.get("type", "str")
            nested = ent.get("fields")
            if ent.get("all"):
                matches = sel.match_all(node)
                if nested:
                    row[name] = [scrape_node(m, nested) for m in matches]
                else:
                    row[name] = [convert(_node_value(m, attr), typ) for m in matches]
            else:
                m = sel.match_first(node)
                if nested:
                    row[name] = scrape_node(m, nested) if m is not None else None
                else:
                    row[name] = (
                        convert(_node_value(m, attr), typ)
                        if m is not None
                        else convert("", typ) if typ != "str" else ""
                    )
        return row

    @pandas_udf(schema)
    def scrape_udf(html: pd.Series) -> pd.DataFrame:
        rows = []
        for h in html:
            if h is None:
                rows.append({})
                continue
            rows.append(scrape_node(parse(h), fields))
        return pd.DataFrame(rows)

    return scrape_udf


# Standalone single-purpose UDFs (reference Page.Text / Page.URLs one-offs) —
# prefer with_parsed() in pipelines; these exist for the library API surface.


def make_text_udf(selector: str | None = None):
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def text_udf(html: pd.Series) -> pd.Series:
        def one(h):
            if h is None:
                return ""
            doc = parse(h)
            if selector is None:
                return text(doc)
            node = compile_selector(selector).match_first(doc)
            return text(node) if node is not None else ""

        return html.map(one)

    return text_udf


def make_links_udf():
    from pyspark.sql.types import ArrayType, StringType

    @pandas_udf(ArrayType(StringType()))
    def links_udf(url: pd.Series, html: pd.Series) -> pd.Series:
        return pd.Series(
            [extract_links(h, u or "") for u, h in zip(url, html)]
        )

    return links_udf


def extract_anchors(html: bytes | str | None, base_url: str) -> list[tuple[str, str]]:
    """All a[href] as (resolved_url, anchor_text) in document order —
    extract_links plus each link's scan.Text anchor (nodes.go:27-48
    semantics: verbatim text-node concatenation, no trimming). The anchor
    corpus is a classic ranking/graph signal (incoming anchor text
    describes the TARGET page) and a training-data source in its own
    right."""
    if html is None:
        return []
    doc = parse(html)
    out: list[tuple[str, str]] = []
    for node in compile_selector("a[href]").match_all(doc):
        href = node.attr("href")
        if href is None:
            continue
        resolved = _resolve_hrefs([href], base_url)
        if resolved:
            out.append((resolved[0], text(node)))
    return out


def make_anchors_udf():
    """pandas UDF: (url, html) → array<struct<dst,anchor>>."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    schema = ArrayType(
        StructType(
            [
                StructField("dst", StringType()),
                StructField("anchor", StringType()),
            ]
        )
    )

    @pandas_udf(schema)
    def anchors_udf(url: pd.Series, html: pd.Series) -> pd.Series:
        return pd.Series(
            [
                [{"dst": d, "anchor": a} for d, a in extract_anchors(h, u or "")]
                for u, h in zip(url, html)
            ]
        )

    return anchors_udf


def anchor_text_edges(pages, url_col: str = "url", html_col: str = "html"):
    """(src, dst, anchor) — one row per <a href>, hrefs resolved against
    the page URL and normalized exactly like the frontier's links, with
    the link's anchor text. Feed to graphops (host_edges/pagerank) for
    link-graph signals or aggregate per dst for an anchor-text corpus.

    Scale shape: one Arrow-batched UDF pass over html + an explode — no
    shuffle until the consumer aggregates (then near-uniform url keys)."""
    from pyspark.sql import functions as F

    from ant_spark.functions.urlnorm import normalize_udf, once_per_row

    # filtered on dst below: one normalize eval per anchor, not two
    norm = once_per_row(normalize_udf)
    anchors = make_anchors_udf()
    pair = F.explode(anchors(F.col(url_col), F.col(html_col))).alias("_l")
    return (
        pages.select(F.col(url_col).alias("src"), pair)
        .select(
            "src",
            norm(F.col("_l.dst")).alias("dst"),
            F.col("_l.anchor").alias("anchor"),
        )
        .filter(F.col("dst").isNotNull())
    )
