"""CSVW metadata model — driver-side, pure Python.

Mirrors the semantics of the reference's metadata objects
(reference: lib/rdf/tabular/metadata.rb — TableGroup :1217, Table :1289,
Schema :1373, Column :1405, Dialect :1497) re-expressed as small dataclasses.
These never touch executors as objects; they compile into picklable
``TableMapping`` plans (see operators/triples.py) that parameterize Spark
expressions and Arrow UDF kernels.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import Any, Callable, Optional
from urllib.parse import quote, urljoin

from .context import Context, parse_context

# Inherited properties cascade Column → Schema → Table → TableGroup
# (reference: metadata.rb:25-36 INHERITED_PROPERTIES, :1188-1193)
INHERITED = (
    "null", "lang", "textDirection", "separator", "default", "ordered",
    "datatype", "aboutUrl", "propertyUrl", "valueUrl",
)

REJECTED_TYPES = frozenset(
    ["anyType", "anySimpleType", "ENTITIES", "IDREFS", "NMTOKENS", "ENTITY", "ID", "IDREF", "NOTATION"]
)

_DIALECT_DEFAULTS = dict(
    commentPrefix=None, delimiter=",", doubleQuote=True, encoding="utf-8",
    header=True, headerColumnCount=0, headerRowCount=1, lineTerminator=None,
    quoteChar='"', skipBlankRows=False, skipColumns=0, skipInitialSpace=False,
    skipRows=0, trim=False,
)


@dataclass
class Dialect:
    commentPrefix: Optional[str] = None
    delimiter: str = ","
    doubleQuote: bool = True
    encoding: str = "utf-8"
    header: bool = True
    headerColumnCount: int = 0
    headerRowCount: int = 1
    lineTerminator: Optional[str] = None
    quoteChar: str = '"'
    skipBlankRows: bool = False
    skipColumns: int = 0
    skipInitialSpace: bool = False
    skipRows: int = 0
    trim: Any = False  # True | False | 'start' | 'end'

    @classmethod
    def from_dict(cls, d: dict | None) -> "Dialect":
        d = dict(d or {})
        kw = dict(_DIALECT_DEFAULTS)
        for k in list(kw):
            if k in d:
                kw[k] = d[k]
        if "header" in d and not d["header"]:
            kw["headerRowCount"] = d.get("headerRowCount", 0)
        return cls(**kw)

    @property
    def effective_trim(self) -> str:
        """'true' | 'false' | 'start' | 'end' (reference: metadata.rb:1558-1560)."""
        t = self.trim
        if t is True or t == "true":
            return "true"
        if t in ("start", "end"):
            return t
        if self.skipInitialSpace:
            return "start"
        return "false"

    @property
    def skipped_rows(self) -> int:
        return int(self.skipRows) + (int(self.headerRowCount) if self.header or self.headerRowCount else 0)


def normalize_datatype(value) -> list[dict]:
    """→ list of {base, format, pattern, groupChar, decimalChar, length…}
    (reference: metadata.rb:1102-1120 normalize_datatype)."""
    if not isinstance(value, list):
        value = [value]
    out = []
    for v in value:
        if not isinstance(v, dict):
            v = {"base": v}
        nv: dict[str, Any] = {}
        for kk, vv in v.items():
            if kk in ("base", "decimalChar", "format", "groupChar",
                      "pattern", "@id"):
                # @id: W3C-final derived-datatype naming, consumed by
                # coerce.value_matching_datatype as the emitted IRI
                nv[kk] = vv
            elif kk in ("length", "minLength", "maxLength"):
                nv[kk] = int(vv)
            elif kk in ("minimum", "maximum", "minInclusive", "maxInclusive",
                        "minExclusive", "maxExclusive"):
                # numeric facets stay numeric; date/time facets stay lexical
                # (the reference's .to_i mangles "2000-01-01" → 2000; range
                # comparison happens against the coerced cell in coerce.py)
                nv[kk] = vv
        nv.setdefault("base", "string")
        out.append(nv)
    return out


_NAME_FIRST = re.compile(r"[^a-zA-Z0-9]")
_NAME_REST = re.compile(r"[^\w.]")


def derive_column_name(title: str) -> str:
    """Percent-encode a title into a column name
    (reference: metadata.rb:1456-1463 Column#name)."""
    if not title:
        return ""
    first = title[0] if not _NAME_FIRST.match(title[0]) else quote(title[0], safe="")
    rest = "".join(
        ch if not _NAME_REST.match(ch) else quote(ch, safe="") for ch in title[1:]
    )
    return first + rest


def _as_list(v) -> list:
    if v is None:
        return []
    return v if isinstance(v, list) else [v]


@dataclass
class Column:
    raw: dict
    number: int  # 1-based logical column number
    parent: Optional["Schema"] = None
    context: Context = field(default_factory=Context)

    @property
    def title_values(self) -> list[str]:
        # `title` is the reference repo's draft-era spelling, `titles`
        # the W3C-final one — read both (normalize canonicalizes merged
        # docs to `title`; direct loads may carry either)
        t = self.raw.get("title")
        if t is None:
            t = self.raw.get("titles")
        if t is None:
            return []
        if isinstance(t, dict):  # language map
            lang = self.context.default_language or "und"
            vals = t.get(lang) or t.get("und") or next(iter(t.values()), [])
            return _as_list(vals)
        return _as_list(t)

    @property
    def name(self) -> str:
        n = self.raw.get("name")
        if n:
            return str(n)
        titles = self.title_values
        if titles:
            return derive_column_name(str(titles[0]))
        return f"_col.{self.number}"

    @property
    def virtual(self) -> bool:
        return bool(self.raw.get("virtual", False))

    @property
    def suppress_output(self) -> bool:
        return bool(self.raw.get("suppressOutput", False))

    @property
    def required(self) -> bool:
        return bool(self.raw.get("required", False))

    def inherited(self, prop: str):
        if prop in self.raw:
            return self.raw[prop]
        return self.parent.inherited(prop) if self.parent else None


@dataclass
class Schema:
    raw: dict
    parent: Optional["Table"] = None
    context: Context = field(default_factory=Context)
    columns: list[Column] = field(default_factory=list)
    # absolute URL the schema document was loaded from, when tableSchema
    # was an external string reference — the target a foreignKey
    # `reference.schemaReference` resolves against
    source_url: Optional[str] = None

    def __post_init__(self):
        for i, c in enumerate(self.raw.get("columns") or []):
            self.columns.append(Column(c, number=i + 1, parent=self, context=self.context))

    @property
    def primary_key(self) -> list[str]:
        return _as_list(self.raw.get("primaryKey"))

    @property
    def foreign_keys(self) -> list[dict]:
        return _as_list(self.raw.get("foreignKeys"))

    @property
    def row_titles(self) -> list[str]:
        # W3C-final §5.5 rowTitles: column reference(s) whose cell values
        # title each row (csvw:title on the row node in standard mode)
        return _as_list(self.raw.get("rowTitles"))

    def inherited(self, prop: str):
        if prop in self.raw:
            return self.raw[prop]
        return self.parent.inherited(prop) if self.parent else None


def _common_property_items(raw: dict) -> list[tuple[str, Any]]:
    return [(k, v) for k, v in raw.items() if ":" in str(k) and not str(k).startswith("@")]


@dataclass
class Table:
    raw: dict
    url: str
    parent: Optional["TableGroup"] = None
    context: Context = field(default_factory=Context)
    dialect: Dialect = field(default_factory=Dialect)
    schema: Schema = None  # type: ignore[assignment]

    @property
    def id(self) -> Optional[str]:
        v = self.raw.get("@id")
        return self.context.expand_iri(v, document_relative=True) if v else None

    @property
    def suppress_output(self) -> bool:
        return bool(self.raw.get("suppressOutput", False))

    @property
    def notes(self):
        return self.raw.get("notes")

    def common_properties(self) -> list[tuple[str, Any]]:
        return _common_property_items(self.raw)

    def inherited(self, prop: str):
        if prop in self.raw:
            return self.raw[prop]
        return self.parent.inherited(prop) if self.parent else None


@dataclass
class TableGroup:
    raw: dict
    tables: list[Table]
    context: Context = field(default_factory=Context)

    @property
    def id(self) -> Optional[str]:
        v = self.raw.get("@id")
        return self.context.expand_iri(v, document_relative=True) if v else None

    def common_properties(self) -> list[tuple[str, Any]]:
        return _common_property_items(self.raw)

    def for_table(self, url: str) -> Optional[Table]:
        for t in self.tables:
            if t.url == url:
                return t
        return None

    def inherited(self, prop: str):
        return self.raw.get(prop)


def intuit_type(d: dict) -> str:
    """Infer metadata class from keys (reference: metadata.rb:198-254)."""
    if "@type" in d and d["@type"] in ("TableGroup", "Table", "Schema", "Column", "Dialect", "Template"):
        return d["@type"]
    if "resources" in d or "tables" in d:
        return "TableGroup"
    if "dialect" in d or "tableSchema" in d or "url" in d:
        return "Table"
    if "columns" in d or "primaryKey" in d or "foreignKeys" in d:
        return "Schema"
    return "Table"


Resolver = Callable[[str], str]


def default_resolver(url: str) -> str:
    return url


def load_json(url: str, resolver: Resolver) -> dict:
    path = resolver(url)
    with open(path, "r", encoding="utf-8") as f:
        return json.load(f)


def _build_table(raw: dict, base: str, ctx: Context, parent: Optional[TableGroup],
                 group_dialect: Optional[dict], resolver: Resolver) -> Table:
    url = urljoin(base, raw.get("url", ""))
    tctx = ctx.copy(base=url)
    dialect_raw = raw.get("dialect") or group_dialect
    dialect = Dialect.from_dict(dialect_raw)
    t = Table(raw=raw, url=url, parent=parent, context=tctx, dialect=dialect)
    schema_raw = raw.get("tableSchema")
    schema_url = None
    if isinstance(schema_raw, str):
        # external schema reference, resolved relative to the metadata base
        # (reference: roles.json → senior-roles.json external tableSchema)
        schema_url = urljoin(base, schema_raw)
        schema_raw = load_json(schema_url, resolver)
    t.schema = Schema(schema_raw or {}, parent=t, context=tctx,
                      source_url=schema_url)
    return t


def load_metadata(source: str | dict, base: str = "", resolver: Resolver = default_resolver):
    """Load user metadata JSON → TableGroup | Table.

    ``base`` is the IRI the metadata document is considered published at
    (fixture tests use http://example.org/...); ``resolver`` maps IRIs to
    local paths for fetching referenced schemas/tables.
    """
    if isinstance(source, str):
        raw = load_json(source if base else source, resolver)
    else:
        raw = source
    ctx = parse_context(raw.get("@context"))
    if base:
        # CSVW §5.2: an @base in the local context OVERRIDES the document
        # location as the base for resolving relative URLs, itself resolved
        # against that location (relative @base allowed). Rebuild the
        # Context rather than mutating .base — the fragment-join fast path
        # (_base_defrag) is derived in __init__.
        resolved = urljoin(base, ctx.base) if ctx.base else base
        ctx = Context(base=resolved,
                      default_language=ctx.default_language)
    kind = intuit_type(raw)
    if kind == "TableGroup":
        group_dialect = raw.get("dialect")
        tg = TableGroup(raw=raw, tables=[], context=ctx)
        for res in raw.get("resources") or raw.get("tables") or []:
            tg.tables.append(_build_table(res, ctx.base, ctx, tg, group_dialect, resolver))
        return tg
    table = _build_table(raw, ctx.base, ctx, None, None, resolver)
    return table


def embedded_table_from_header(header_titles: list[str], url: str,
                               dialect: Optional[Dialect] = None,
                               context: Optional[Context] = None) -> Table:
    """Build a Table purely from header-row titles
    (reference: metadata.rb:726-779 embedded_metadata)."""
    ctx = (context or Context()).copy(base=url)
    raw = {
        "url": url,
        "@type": "Table",
        "tableSchema": {
            "@type": "Schema",
            "columns": [{"title": {"und": [t]}} for t in header_titles],
        },
    }
    t = Table(raw=raw, url=url, parent=None, context=ctx, dialect=dialect or Dialect())
    t.schema = Schema(raw["tableSchema"], parent=t, context=ctx)
    return t
