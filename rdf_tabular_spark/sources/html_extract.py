"""Stage 1: HTML → tables + microdata + text (pure Python kernel, stdlib only).

Web-scale generalization of the reference's CSV parsing (north rule: "stage 1
parses HTML tables and microdata into virtual rows via vectorized Arrow
UDFs"). The parser is dependency-free (this container has no lxml/bs4) and
deterministic: ``extract_page`` is the single source of truth for text
extraction, shared by the synthetic-page generator and the pipeline, so the
byte-identical-text-per-url invariant is checkable end-to-end.

Every page stage runs through :func:`map_pages`, one ``mapInPandas`` over the
pages table (url, warc_ts, html:binary, text, lang) — one Arrow batch in,
exploded rows out; no per-row Python UDF calls, no shuffle.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from html.parser import HTMLParser
from typing import Callable, Iterable, Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, IntegerType, LongType, StringType,
                               StructField, StructType)

_SKIP_TEXT = {"script", "style", "head", "title"}
_VOID = {"br", "hr", "img", "meta", "link", "input"}
# elements whose end tag crawl HTML routinely omits: they never count
# toward a property capture's depth, and they end only a capture that the
# same tag opened (its end tag, or the start of a sibling of that tag)
_OPTIONAL_END = {"p", "li", "td", "th", "tr", "option"}


def _span(a: dict, key: str) -> int:
    """Capped colspan/rowspan parse (module-level: defining this as a
    closure inside handle_starttag cost one function object per CELL —
    measured ~8% of the hot-path parse)."""
    v = a.get(key)
    if v is None or v == "":
        return 1
    try:
        return max(1, min(int(v), 1000))
    except (TypeError, ValueError):
        return 1


@dataclass
class HtmlTable:
    index: int
    rows: list[list[str]] = field(default_factory=list)


@dataclass
class MicroItem:
    item_id: str
    itemtype: str
    props: list[tuple[str, str]] = field(default_factory=list)


@dataclass
class RdfaItem:
    """One RDFa-lite ``typeof`` scope: subject (resource/about attr or a
    blank-node label), expanded type IRIs (space-joined), and expanded
    (property, value) pairs in document order."""
    subject: str
    types: str
    props: list[tuple[str, str]] = field(default_factory=list)


@dataclass
class PageContent:
    tables: list[HtmlTable] = field(default_factory=list)
    csvw_meta: Optional[str] = None
    text: str = ""
    microdata: list[MicroItem] = field(default_factory=list)
    links: list[str] = field(default_factory=list)
    # (href, visible anchor text) per CLOSED <a href> element; an unclosed
    # <a> contributes to `links` but not here (no text boundary exists)
    anchors: list[tuple[str, str]] = field(default_factory=list)
    # raw <script type="application/ld+json"> bodies, document order
    jsonld: list[str] = field(default_factory=list)
    # <title> text (first title element; NOT part of `text`)
    title: str = ""
    # first <link rel="canonical" href> value, unresolved
    canonical: Optional[str] = None
    # (name lowercased, content) per <meta name content>, document order
    meta: list[tuple[str, str]] = field(default_factory=list)
    # RDFa-lite typeof scopes (vocab/prefix-expanded), document order
    rdfa: list[RdfaItem] = field(default_factory=list)


class _PageParser(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.tables: list[HtmlTable] = []
        self.micro: list[MicroItem] = []
        self.text_parts: list[str] = []
        self.csvw_meta: Optional[str] = None
        self.links: list[str] = []
        self.anchors: list[tuple[str, str]] = []
        self.jsonld: list[str] = []
        self.title: str = ""
        self.canonical: Optional[str] = None
        self.meta: list[tuple[str, str]] = []
        self._anchor_stack: list[tuple[str, list[str]]] = []
        self._jsonld_parts: Optional[list[str]] = None
        self._title_parts: Optional[list[str]] = None
        self._in_skip = 0
        self._in_csvw_script = False
        self._table_stack: list[HtmlTable] = []
        # per-open-table rowspan carry: {col_index: [remaining, text]}
        self._carry_stack: list[dict] = []
        self._row: Optional[list[tuple]] = None   # (text, colspan, rowspan)
        self._cell: Optional[list[str]] = None
        self._cell_span: tuple[int, int] = (1, 1)
        self._item_stack: list[MicroItem] = []
        # text-content property capture entries are [prop, parts, depth,
        # tag]: `depth` counts open nested elements inside the property
        # element so '<span itemprop=x>Doc <b>1</b> extra</span>' captures
        # the full 'Doc 1 extra', not just the text before the first end
        # tag; `tag` is the element that opened the capture
        self._prop_stack: list[list] = []
        # RDFa-lite state: vocab/prefixes apply from their declaration
        # onward (document-order scoping — the crawl-practice shape is one
        # vocab per document; element-scoped shadowing is out of subset)
        self.rdfa: list[RdfaItem] = []
        self._rdfa_vocab: str = ""
        self._rdfa_prefixes: dict[str, str] = {}
        self._rdfa_stack: list[RdfaItem] = []
        self._rdfa_prop_stack: list[list] = []  # [prop, parts, depth, tag]

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        if tag in _SKIP_TEXT:
            if tag == "script":
                # MIME types are case-insensitive and may carry parameters
                # (";charset=utf-8") per WHATWG — match the essence only
                stype = (a.get("type") or "").split(";")[0].strip().lower()
                if stype == "application/csvw+json":
                    self._in_csvw_script = True
                elif stype == "application/ld+json":
                    self._jsonld_parts = []
            elif tag == "title" and not self.title:
                self._title_parts = []
            self._in_skip += 1
            return
        if tag == "link":
            # rel is a case-insensitive space-separated token list
            rel_tokens = (a.get("rel") or "").lower().split()
            if ("canonical" in rel_tokens and a.get("href")
                    and self.canonical is None):
                self.canonical = a["href"]
        elif tag == "meta":
            # <meta name=...> (robots/description/...) and RDFa-lite
            # <meta property=...> (OpenGraph og:*) share one capture list
            name, content = a.get("name") or a.get("property"), a.get("content")
            if name and content is not None:
                self.meta.append((name.lower(), content))
        if tag == "table":
            t = HtmlTable(index=len(self.tables))
            self.tables.append(t)
            self._table_stack.append(t)
            self._carry_stack.append({})
        elif tag == "tr" and self._table_stack:
            self._row = []
        elif tag in ("td", "th") and self._row is not None:
            self._cell = []
            # colspan/rowspan grid expansion (pandas.read_html
            # convention: the value repeats across spanned cells).
            # Spans are CAPPED — a crawled page declaring colspan=10^9
            # must not materialize 10^9 cells on an executor.
            self._cell_span = (_span(a, "colspan"), _span(a, "rowspan"))
        if tag == "a":
            href = a.get("href")
            if href:
                self.links.append(href)
                self._anchor_stack.append((href, []))
        if tag in _OPTIONAL_END:
            self._end_captures(tag)
        pushed_md = pushed_rdfa = False
        if "itemscope" in a:
            item = MicroItem(item_id=a.get("itemid", f"_:item{len(self.micro)}"),
                             itemtype=a.get("itemtype", ""))
            self.micro.append(item)
            self._item_stack.append(item)
        elif "itemprop" in a and self._item_stack:
            href = a.get("href") or a.get("content") or a.get("src")
            if href is not None:
                self._item_stack[-1].props.append((a["itemprop"], href))
            else:
                self._prop_stack.append([a["itemprop"], [], 0, tag])
                pushed_md = True
        # RDFa-lite (vocab / prefix / typeof / property / resource).
        # vocab+prefix are processed BEFORE typeof so the common
        # <div vocab=... typeof=...> shape expands its own types.
        if a.get("vocab"):
            self._rdfa_vocab = a["vocab"].strip()
        if a.get("prefix"):
            toks = a["prefix"].split()
            for pfx, iri in zip(toks[::2], toks[1::2]):
                if pfx.endswith(":"):
                    self._rdfa_prefixes[pfx[:-1]] = iri
        if "typeof" in a:
            subject = (a.get("resource") or a.get("about")
                       or f"_:rdfa{len(self.rdfa)}")
            types = " ".join(self._rdfa_expand(t)
                             for t in (a.get("typeof") or "").split())
            ritem = RdfaItem(subject=subject, types=types)
            self.rdfa.append(ritem)
            self._rdfa_stack.append(ritem)
        elif a.get("property") and self._rdfa_stack:
            value = (a.get("content") or a.get("href") or a.get("src")
                     or a.get("resource"))
            prop = self._rdfa_expand(a["property"])
            if value is not None:
                self._rdfa_stack[-1].props.append((prop, value))
            else:
                self._rdfa_prop_stack.append([prop, [], 0, tag])
                pushed_rdfa = True
        # depth tracking: any OTHER non-void element opening inside an open
        # text-content property element bumps that capture's depth, so its
        # end tag decrements instead of closing the capture — text after
        # nested markup ('Doc <b>1</b> extra') is retained
        if tag not in _VOID and tag not in _OPTIONAL_END:
            if self._prop_stack and not pushed_md:
                self._prop_stack[-1][2] += 1
            if self._rdfa_prop_stack and not pushed_rdfa:
                self._rdfa_prop_stack[-1][2] += 1

    def _rdfa_expand(self, term: str) -> str:
        """CURIE/term → IRI: declared prefix ▷ absolute IRI kept ▷ vocab
        concatenation ▷ bare term (no vocab in scope)."""
        term = term.strip()
        if ":" in term:
            pfx, local = term.split(":", 1)
            if pfx in self._rdfa_prefixes:
                return self._rdfa_prefixes[pfx] + local
            return term  # http://... and friends
        if self._rdfa_vocab:
            return self._rdfa_vocab + term
        return term

    def handle_endtag(self, tag):
        if tag in _SKIP_TEXT:
            self._in_skip = max(0, self._in_skip - 1)
            self._in_csvw_script = False
            if tag == "script" and self._jsonld_parts is not None:
                body = "".join(self._jsonld_parts).strip()
                if body:
                    self.jsonld.append(body)
                self._jsonld_parts = None
            elif tag == "title" and self._title_parts is not None:
                self.title = "".join(self._title_parts).strip()
                self._title_parts = None
            return
        if tag in ("td", "th") and self._cell is not None:
            cell_text = "".join(self._cell).strip()
            if self._row is not None:
                self._row.append((cell_text, *self._cell_span))
            self._cell = None
        elif tag == "tr" and self._row is not None:
            if self._table_stack:
                self._table_stack[-1].rows.append(
                    self._expand_row(self._row, self._carry_stack[-1]))
            self._row = None
        elif tag == "table" and self._table_stack:
            self._table_stack.pop()
            self._carry_stack.pop()
        if tag == "a" and self._anchor_stack:
            href, parts = self._anchor_stack.pop()
            self.anchors.append((href, "".join(parts).strip()))
        # void end tags (only '<x/>' self-closing syntax produces one) were
        # never counted on the start side, so they must not pop/decrement
        if tag not in _VOID:
            self._end_captures(tag)

    def _end_captures(self, tag):
        """Apply an end of ``tag`` to the innermost microdata and RDFa
        captures: a nested element's end lowers the capture's depth, the
        end of the element that opened it (depth 0) records the property.
        An ``_OPTIONAL_END`` tag only ends a capture that it opened."""
        for stack, items in ((self._prop_stack, self._item_stack),
                             (self._rdfa_prop_stack, self._rdfa_stack)):
            if not stack:
                continue
            ent = stack[-1]
            if tag in _OPTIONAL_END:
                if ent[2] or ent[3] != tag:
                    continue
            elif ent[2] > 0:
                ent[2] -= 1
                continue
            prop, parts, *_ = stack.pop()
            if items:
                items[-1].props.append((prop, "".join(parts).strip()))

    def finalize(self):
        """Drain property captures left open by truncated/unbalanced crawl
        HTML — an unclosed '<span itemprop=x>text' still yields its prop."""
        while self._prop_stack:
            prop, parts, *_ = self._prop_stack.pop()
            if self._item_stack:
                self._item_stack[-1].props.append(
                    (prop, "".join(parts).strip()))
        while self._rdfa_prop_stack:
            prop, parts, *_ = self._rdfa_prop_stack.pop()
            if self._rdfa_stack:
                self._rdfa_stack[-1].props.append(
                    (prop, "".join(parts).strip()))

    @staticmethod
    def _expand_row(cells: list[tuple], carry: dict) -> list[str]:
        """(text, colspan, rowspan) cells → flat grid row: rowspan
        carry-downs fill their columns first, colspan repeats the value,
        rowspan>1 registers the value for the following rows."""
        out: list[str] = []
        col = 0

        def drain_carry():
            nonlocal col
            while col in carry:
                rem, text = carry[col]
                out.append(text)
                if rem <= 1:
                    del carry[col]
                else:
                    carry[col][0] = rem - 1
                col += 1

        for text, cs, rs in cells:
            drain_carry()
            for _ in range(cs):
                out.append(text)
                if rs > 1:
                    carry[col] = [rs - 1, text]
                col += 1
        # end of row: every remaining carried column belongs to THIS row's
        # grid even when the row's own cells stop short of it (ragged crawl
        # rows, empty <tr>) — pad the gap with '' and consume the carry, or
        # it would leak into a later row at the wrong position
        for c in sorted(k for k in carry if k >= col):
            while col < c:
                out.append("")
                col += 1
            rem, text = carry[c]
            out.append(text)
            if rem <= 1:
                del carry[c]
            else:
                carry[c][0] = rem - 1
            col += 1
        return out

    def handle_data(self, data):
        if self._in_csvw_script:
            self.csvw_meta = (self.csvw_meta or "") + data
            return
        if self._jsonld_parts is not None:
            self._jsonld_parts.append(data)
            return
        if self._title_parts is not None:
            self._title_parts.append(data)
            return
        if self._in_skip:
            return
        if self._cell is not None:
            self._cell.append(data)
        # text flows into EVERY open capture (textContent semantics): a
        # nested property element's text is part of its ancestors' values
        for ent in self._prop_stack:
            ent[1].append(data)
        for ent in self._rdfa_prop_stack:
            ent[1].append(data)
        if self._anchor_stack:
            self._anchor_stack[-1][1].append(data)
        stripped = data.strip()
        if stripped:
            self.text_parts.append(stripped)


_TOKEN_RE = __import__("re").compile(r"<[^>]*>|[^<]+")
# first ' '/'\t'/'\n' in a tag body — one C-level search replaces the
# 3×find+min that cost ~10% of the fast tokenizer
_WS_RE = __import__("re").compile(r"[ \t\n]")
_ATTR_RE = __import__("re").compile(
    r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)(?:\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>/]*))?")
# constructs the fast tokenizer does not replicate -> html.parser fallback
_SLOW_MARKERS = ("<!--", "<![", "<?", "<!")


def _fast_feed(p: "_PageParser", html: str) -> bool:
    """Regex tokenizer driving the SAME handler methods as html.parser —
    one state machine, two front-ends. Returns False (caller falls back)
    when the document uses constructs the tokenizer doesn't model
    (comments/doctype/PIs/CDATA, stray '<'). ~3x faster than html.parser's
    goahead loop on well-formed pages — this is the hot path of stage 1.
    """
    from html import unescape
    if any(m in html for m in _SLOW_MARKERS):
        return False
    tokens = _TOKEN_RE.findall(html)
    if sum(map(len, tokens)) != len(html):
        # a stray '<' with no subsequent '>' (crawl-truncated page) matches
        # neither alternative and would be silently dropped — html.parser
        # emits it as text, so fall back to preserve byte-identical output
        return False
    # html.parser treats <script>/<style> content as CDATA: entity refs
    # stay raw and '<' is data until the matching close tag. The tokenizer
    # mirrors that with an explicit mode; a '<...>' inside the block that
    # is not the close tag means the regex split already mangled it — fall
    # back to html.parser rather than guess.
    cdata: Optional[str] = None   # open CDATA element name, or None
    # bind the hot handler methods once — attribute lookups inside the
    # per-token loop were ~5% of stage-1 parse time at 94k tags/batch
    handle_data = p.handle_data
    handle_starttag = p.handle_starttag
    handle_endtag = p.handle_endtag
    ws_find = _WS_RE.search
    for tok in tokens:
        if tok[0] != "<":
            if cdata is not None:
                handle_data(tok)               # raw, no unescape (CDATA)
            else:
                handle_data(unescape(tok) if "&" in tok else tok)
            continue
        if cdata is not None:
            if tok[1:-1].strip().lower() == "/" + cdata:
                handle_endtag(cdata)
                cdata = None
                continue
            return False
        if len(tok) < 3 or tok[-1] != ">":
            return False
        body = tok[1:-1]
        if body.count('"') % 2 or body.count("'") % 2:
            return False  # '>' inside a quoted attribute value
        if body[0] == "/":
            handle_endtag(body[1:].strip().lower())
            continue
        self_closing = body[-1] == "/"
        if self_closing:
            body = body[:-1]
        m = ws_find(body)
        if m is None:
            tag, attrs = body.lower(), []
        else:
            tag = body[:m.start()].lower()
            if "<" in body:
                return False
            attrs = []
            for name, value in _ATTR_RE.findall(body[m.start():]):
                if value and value[0] in "\"'":
                    value = value[1:-1]
                attrs.append((name.lower(),
                              unescape(value) if "&" in value else value))
        if not tag or not tag[0].isalpha():
            return False
        handle_starttag(tag, attrs)
        # html.parser semantics: only explicit '<x/>' triggers an endtag
        # (startendtag); bare void tags like <br> get NO handle_endtag call
        if self_closing:
            handle_endtag(tag)
        elif tag in ("script", "style"):
            cdata = tag
    return True


def extract_page(html: str) -> PageContent:
    """Parse one HTML document. Deterministic text rule: visible text nodes
    (outside script/style/head), stripped, joined with '\\n'."""
    p = _PageParser()
    if not _fast_feed(p, html):
        p = _PageParser()
        p.feed(html)
        p.close()
    p.finalize()
    return PageContent(
        tables=p.tables,
        csvw_meta=p.csvw_meta.strip() if p.csvw_meta else None,
        text="\n".join(p.text_parts),
        microdata=p.micro,
        links=p.links,
        anchors=p.anchors,
        jsonld=p.jsonld,
        title=p.title,
        canonical=p.canonical,
        meta=p.meta,
        rdfa=p.rdfa,
    )


# virtual-row output of stage 1: one row per HTML-table data row
VIRTUAL_ROWS_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("table_index", IntegerType(), False),
    StructField("values", ArrayType(StringType()), False),
    StructField("row_num", LongType(), False),      # 1-based, per (page, table), after header
    StructField("source_num", LongType(), False),   # 1-based physical row within table
    StructField("csvw_meta", StringType(), True),
    StructField("lang", StringType(), True),
])

MICRODATA_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("item_id", StringType(), False),
    StructField("itemtype", StringType(), True),
    StructField("prop", StringType(), False),
    StructField("value", StringType(), True),
])

RDFA_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("subject", StringType(), False),
    StructField("typeof", StringType(), True),
    # prop is NULL on the sentinel row a property-less typeof scope emits
    # (so its rdf:type triples survive the single-facet path)
    StructField("prop", StringType(), True),
    StructField("value", StringType(), True),
])

EXTRACTED_TEXT_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("extracted_text", StringType(), False),
])


def _decode(html) -> str:
    if isinstance(html, (bytes, bytearray)):
        return bytes(html).decode("utf-8", errors="replace")
    return str(html)


def map_pages(pages: DataFrame, schema: StructType | str,
              emit: Callable[[tuple, PageContent], Iterable[tuple]]
              ) -> DataFrame:
    """The one pages → rows pass that every page stage runs through: each
    page's HTML is decoded and parsed ONCE, ``emit(row, page)`` returns the
    page's output tuples in ``schema`` order (``row`` is the input row as a
    named tuple: ``row.url``, ``row.warc_ts``, ...), and each Arrow batch
    in becomes one batch out. Narrow, no shuffle; the JVM/Python boundary
    of stage 1 lives here and nowhere else.

    The output records its pass as ``_page_pass = (pages, schema, emit)``
    (see :func:`page_pass`), so a per-page Python stage over it can extend
    ``emit`` and rerun this one pass instead of adding a second Python
    runner to every task (``web.link_entities(keep_input=True)``)."""
    from ..session import ensure_package_on_executors
    ensure_package_on_executors(pages.sparkSession)
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    cols = schema.fieldNames()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for row in pdf.itertuples(index=False):
                out.extend(emit(row, extract_page(_decode(row.html))))
            yield pd.DataFrame(out, columns=cols)

    mapped = pages.mapInPandas(kernel, schema=schema)
    mapped._page_pass = (pages, schema, emit)
    return mapped


def page_pass(df: DataFrame):
    """``(pages, schema, emit)`` of a DataFrame exactly as :func:`map_pages`
    returned it, else None: any further transformation is a new DataFrame,
    and a persisted one is read from its cache, not re-run."""
    return None if df.is_cached else vars(df).get("_page_pass")


def skolem(url: str, prefix: str, label: str) -> str:
    """Deterministic per-page blank node for parser label ``_:x`` (the
    process hash is randomized, so the page url's sha1 scopes it)."""
    return f"_:{prefix}-{hashlib.sha1(url.encode()).hexdigest()[:10]}-{label[2:]}"


def pages_to_virtual_rows(pages: DataFrame, header_rows: int = 1) -> DataFrame:
    """pages(url, html, ...) → virtual rows. Narrow Arrow stage, no shuffle;
    row numbering is page-local (no global ordering needed at 10^12 docs)."""
    def emit(row, page):
        lang = getattr(row, "lang", None)
        return [(row.url, t.index, values, i - header_rows + 1, i + 1,
                 page.csvw_meta, lang)
                for t in page.tables for i, values in enumerate(t.rows)
                if i >= header_rows]
    return map_pages(pages, VIRTUAL_ROWS_SCHEMA, emit)


def pages_to_microdata(pages: DataFrame) -> DataFrame:
    def emit(row, page):
        out = []
        for item in page.microdata:
            iid = item.item_id
            if iid.startswith("_:"):
                iid = skolem(row.url, "md", iid)
            out.extend((row.url, iid, item.itemtype, prop, value)
                       for prop, value in item.props)
        return out
    return map_pages(pages, MICRODATA_SCHEMA, emit)


def pages_to_rdfa(pages: DataFrame) -> DataFrame:
    """RDFa-lite scopes → one row per (url, subject, typeof, prop, value).

    Same fused Arrow kernel discipline as :func:`pages_to_microdata` —
    vocab/prefix expansion already happened inside the parser, blank-node
    subjects skolemize per url so reruns and engines agree.
    """
    def emit(row, page):
        out = []
        for item in page.rdfa:
            subj = item.subject
            if subj.startswith("_:"):
                subj = skolem(row.url, "ra", subj)
            out.extend((row.url, subj, item.types, prop, value)
                       for prop, value in item.props)
            if not item.props:
                # sentinel row: a typeof scope with no property elements
                # still carries its rdf:type triples
                out.append((row.url, subj, item.types, None, None))
        return out
    return map_pages(pages, RDFA_SCHEMA, emit)


def pages_to_text(pages: DataFrame) -> DataFrame:
    """Re-extract text per url (for the byte-identical invariant check)."""
    return map_pages(pages, EXTRACTED_TEXT_SCHEMA,
                     lambda row, page: [(row.url, page.text)])
