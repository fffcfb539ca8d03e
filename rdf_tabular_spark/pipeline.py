"""End-to-end CSVW → triples pipelines.

Mirrors the reference's three entry points (reference: reader.rb:86-221
each_statement; :93-134 metadata-first TableGroup recursion) as Spark jobs:
per-table triple DataFrames built by one Arrow-batched kernel each, unioned
with small driver-built metadata triple sets (table-level, common properties,
provenance — O(metadata), not O(data)).
"""

from __future__ import annotations

import hashlib
import itertools
from functools import reduce
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .csvw.context import CSVW, DCAT, PROV, RDF, XSD, Context
from .csvw.model import (Column, Dialect, Resolver, Table, TableGroup,
                         default_resolver, load_metadata)
from .operators.triples import (compile_mapping, lines_to_triples,
                                local_triples_df, rows_to_triples, table_hash)
from .sources.csv_source import (line_parser, read_header, read_lines,
                                 read_rows)

RDF_TYPE = RDF + "type"


class _BNodeGen:
    """Deterministic bnode labels for driver-side metadata triples."""

    def __init__(self, seed: str):
        self.prefix = "_:m" + hashlib.sha1(seed.encode()).hexdigest()[:10]
        self.counter = itertools.count()

    def __call__(self) -> str:
        return f"{self.prefix}-{next(self.counter)}"


def _literal(value, ctx: Context) -> tuple[str, bool, Optional[str], Optional[str]]:
    """JSON primitive → (lexical, is_iri=False, datatype, lang)
    (reference: metadata.rb:806-839 common_properties leaf case, after
    normalize_jsonld applied default language to bare strings)."""
    if isinstance(value, bool):
        return ("true" if value else "false", False, XSD + "boolean", None)
    if isinstance(value, int):
        return (str(value), False, XSD + "integer", None)
    if isinstance(value, float):
        return (repr(value), False, XSD + "double", None)
    return (str(value), False, None, ctx.default_language)


def common_property_triples(subject: str, prop: str, value, ctx: Context, bnode: _BNodeGen,
                            out: list[tuple]) -> None:
    """Recursive JSON-LD-ish common-property expansion
    (reference: metadata.rb:806-839)."""
    pred = prop if prop.startswith("http") else ctx.expand_iri(prop, vocab=True)
    if isinstance(value, list):
        for v in value:
            common_property_triples(subject, pred, v, ctx, bnode, out)
        return
    if isinstance(value, dict):
        if "@value" in value:
            # NB: explicit @value objects do NOT inherit the default language
            # (reference: normalize_jsonld only wraps bare strings, metadata.rb:1138-1141)
            lang = value.get("@language")
            dt = ctx.expand_iri(value["@type"], vocab=True) if value.get("@type") else None
            out.append((subject, pred, str(value["@value"]), False, dt, None if dt else lang))
            return
        s2 = ctx.expand_iri(value["@id"], document_relative=True) if "@id" in value else bnode()
        out.append((subject, pred, s2, True, None, None))
        for t in value.get("@type", []) if isinstance(value.get("@type"), list) else \
                ([value["@type"]] if value.get("@type") else []):
            out.append((s2, RDF_TYPE, ctx.expand_iri(t, vocab=True), True, None, None))
        for k, v in value.items():
            if str(k).startswith("@"):
                continue
            common_property_triples(s2, k, v, ctx, bnode, out)
        return
    lex, is_iri, dt, lang = _literal(value, ctx)
    out.append((subject, pred, lex, is_iri, dt, lang))


def merge_embedded_titles(table: Table, titles: list[str]) -> None:
    """Merge embedded-header titles into the user schema: existing columns by
    index (user wins), extra columns appended
    (reference: metadata.rb:901-1042 merge! column rules; Metadata.for_input)."""
    schema = table.schema
    raw_cols = schema.raw.setdefault("columns", [])
    n_virtual_prefix = len([c for c in schema.columns if c.virtual])
    for i, t in enumerate(titles):
        if i < len(schema.columns):
            c = schema.columns[i]
            if not ({"title", "titles", "name"} & c.raw.keys()):
                c.raw["title"] = {"und": [t]}
        else:
            raw = {"title": {"und": [t]}}
            raw_cols.append(raw)
            schema.columns.append(Column(raw, number=i + 1, parent=schema, context=schema.context))
    # keep virtual columns at the end (reference: virtual columns follow real ones)
    schema.columns.sort(key=lambda c: c.virtual)
    for i, c in enumerate(schema.columns):
        c.number = i + 1


def ensure_columns_from_data(table: Table, path: str) -> None:
    """A headerless table with NO declared columns derives its width from
    the first data record and appends default columns (named ``_col.N``
    by Column.name's fallback) — the static-schema equivalent of the
    reference's on-demand column creation (metadata.rb Row#initialize
    appends to schema.columns as row values appear). Spark needs the
    schema before the distributed read, so the width is sniffed
    driver-side from one record."""
    schema = table.schema
    if any(not c.virtual for c in schema.columns):
        return
    d = table.dialect
    from .sources.csv_source import _parse_lines, open_encoding
    # Parse a whole leading CHUNK with the csv dialect (not one readline):
    # the first record may contain quoted embedded newlines, blank rows
    # (skipBlankRows), or comment rows — a single physical line would
    # mis-count fields on any of those.
    with open(path, "r", encoding=open_encoding(d), newline="") as f:
        chunk = f.read(65536)
    rows = _parse_lines(chunk.splitlines(), d)
    rows = rows[int(d.skipped_rows):]
    if d.commentPrefix:
        rows = [r for r in rows
                if not (r and (r[0] or "").startswith(d.commentPrefix))]
    rows = [r for r in rows if any((c or "").strip() for c in r)]
    if not rows:
        return
    # mirror read_rows' slice: both skipColumns and headerColumnCount
    # drop leading source columns
    n = max(0, len(rows[0]) - int(d.skipColumns) - int(d.headerColumnCount))
    raw_cols = schema.raw.setdefault("columns", [])
    for i in range(n):
        raw: dict = {}
        raw_cols.append(raw)
        schema.columns.append(Column(raw, number=len(schema.columns) + 1,
                                     parent=schema, context=schema.context))
    schema.columns.sort(key=lambda c: c.virtual)
    for i, c in enumerate(schema.columns):
        c.number = i + 1


def table_level_triples(table: Table, table_resource: str, minimal: bool) -> list[tuple]:
    out: list[tuple] = []
    if minimal:
        return out
    ctx = table.context
    bnode = _BNodeGen("cp:" + table.url)
    out.append((table_resource, RDF_TYPE, CSVW + "Table", True, None, None))
    out.append((table_resource, CSVW + "url", table.url, True, None, None))
    for key, value in table.common_properties():
        common_property_triples(table_resource, key, value, ctx, bnode, out)
    if table.notes is not None:
        common_property_triples(table_resource, "notes", table.notes, ctx, bnode, out)
    return out


def provenance_triples(table_resource: str, table_url: str,
                       csv_path: Optional[str], metadata_files: list[str],
                       started: str, ended: str, seed: str) -> list[tuple]:
    """U9 PROV block (reference: reader.rb:186-218): dcat:Distribution +
    prov:Activity with qualifiedUsage of the CSV and each metadata file.
    Deterministic skolem bnodes; timestamps are caller-supplied ISO-8601
    lexicals so output stays reproducible."""
    bnode = _BNodeGen("prov:" + seed)
    DT = "http://www.w3.org/2001/XMLSchema#dateTime"
    dist, act = bnode(), bnode()
    out = [
        (table_resource, DCAT + "distribution", dist, True, None, None),
        (dist, RDF_TYPE, DCAT + "Distribution", True, None, None),
        (dist, DCAT + "downloadURL", table_url, True, None, None),
        (table_resource, PROV + "activity", act, True, None, None),
        (act, RDF_TYPE, PROV + "Activity", True, None, None),
        (act, PROV + "startedAtTime", started, False, DT, None),
        (act, PROV + "endedAtTime", ended, False, DT, None),
    ]
    roles = ([(csv_path, CSVW + "csvEncodedTabularData")] if csv_path else []) + \
        [(fn, CSVW + "tabularMetadata") for fn in metadata_files]
    for entity, role in roles:
        usage = bnode()
        out += [
            (act, PROV + "qualifiedUsage", usage, True, None, None),
            (usage, RDF_TYPE, PROV + "Usage", True, None, None),
            (usage, PROV + "Entity", entity, True, None, None),
            (usage, PROV + "hadRole", role, True, None, None),
        ]
    return out


def table_to_triples(spark: SparkSession, table: Table, resolver: Resolver,
                     minimal: bool = False,
                     table_resource: Optional[str] = None,
                     prov_times: Optional[tuple[str, str]] = None,
                     metadata_files: Optional[list[str]] = None) -> DataFrame:
    """One CSVW table → triples DataFrame (entry point 1,
    reference: reader.rb:136-183). ``prov_times=(started, ended)`` enables
    the U9 PROV block (reference emits it unless noProv; off by default here
    because the goldens are noProv and web-scale lineage lives in the graph
    store's manifests). On the CSV line path the row parse and the triple
    kernel run fused, one Python kernel per task."""
    from .session import ensure_package_on_executors
    ensure_package_on_executors(spark)
    path = resolver(table.url)
    titles, _notes = read_header(path, table.dialect)
    if titles:
        merge_embedded_titles(table, titles)
    ensure_columns_from_data(table, path)
    mapping = compile_mapping(table, minimal=minimal)
    if table_resource:
        mapping.table_resource = table_resource
    data, parsed = read_lines(spark, path, table.dialect)
    data_triples = (rows_to_triples(data, mapping) if parsed else
                    lines_to_triples(data, line_parser(table.dialect), mapping))
    meta = table_level_triples(table, mapping.table_resource, minimal)
    if prov_times is not None and not minimal:
        started, ended = prov_times
        meta += provenance_triples(mapping.table_resource, table.url,
                                   table.url, metadata_files or [],
                                   started, ended, seed=table.url)
    if not meta:
        return data_triples
    meta_df = local_triples_df(
        spark, [t + (table.url, 0) for t in meta])
    return data_triples.unionByName(meta_df)


def group_to_triples(spark: SparkSession, group: TableGroup, resolver: Resolver,
                     minimal: bool = False) -> DataFrame:
    """TableGroup → union of per-table triple DataFrames + group-level triples
    (reference: reader.rb:93-124). Tables are independent — embarrassingly
    parallel, the union is a no-shuffle plan concatenation."""
    ghash = table_hash(group.raw.get("@id") or "group:" + (group.context.base or ""))
    group_resource = group.id or f"_:g{ghash}"
    dfs: list[DataFrame] = []
    meta: list[tuple] = []
    if not minimal:
        meta.append((group_resource, RDF_TYPE, CSVW + "TableGroup", True, None, None, None, 0))
        bnode = _BNodeGen("cpg:" + (group.context.base or ""))
        cp: list[tuple] = []
        for key, value in group.common_properties():
            common_property_triples(group_resource, key, value, group.context, bnode, cp)
        meta.extend(t + (None, 0) for t in cp)
    for table in group.tables:
        if table.suppress_output:
            continue
        t_resource = table.id or f"_:t{table_hash(table.url)}"
        if not minimal:
            meta.append((group_resource, CSVW + "resources", t_resource, True, None, None, None, 0))
        dfs.append(table_to_triples(spark, table, resolver, minimal=minimal,
                                    table_resource=t_resource))
    if meta:
        dfs.append(local_triples_df(spark, meta))
    return reduce(DataFrame.unionByName, dfs)


def discover_metadata(url: str, resolver: Resolver,
                      headers: Optional["HeaderSource"] = None
                      ) -> list[tuple[dict, str]]:
    """S3 metadata discovery for a CSV url → [(raw_doc, metadata_url)] in
    precedence order: HTTP ``Link rel=describedby`` (when a header source is
    wired), then ``{url}-metadata.json``, then sibling ``metadata.json``
    (reference: Metadata.for_input, metadata.rb:139-194 — linked metadata is
    appended to found_metadata FIRST, i.e. highest found precedence)."""
    import os
    from urllib.parse import urljoin
    from .csvw.model import load_json
    from .discovery import describedby_links
    out: list[tuple[dict, str]] = []
    candidates: list[str] = []
    if headers is not None:
        try:
            candidates += describedby_links(headers(url) or {}, url)
        except Exception:
            pass  # header fetch failure degrades to path-based discovery
    sibling = urljoin(url, "metadata.json") if "://" in url else \
        os.path.join(os.path.dirname(url), "metadata.json")
    candidates += [url + "-metadata.json", sibling]

    def _resolve(meta_url: str, ref: str) -> str:
        if "://" in meta_url:
            return urljoin(meta_url, ref)
        return os.path.normpath(os.path.join(os.path.dirname(meta_url), ref))

    def _references(doc: dict, meta_url: str) -> bool:
        """W3C tabular-data-model §5.2/§5.3: discovered metadata that does
        not explicitly reference the requested tabular file MUST be
        ignored (the reference skips this check — for_input at
        metadata.rb:139-194 accepts any found doc; W3C behavior kept).
        Table urls resolve against the metadata location, honoring a
        @context @base when present (CSVW §5.2)."""
        if not isinstance(doc, dict):
            return False
        base = meta_url
        ctx = doc.get("@context")
        if isinstance(ctx, list):
            for part in ctx:
                if isinstance(part, dict) and isinstance(part.get("@base"),
                                                         str):
                    base = _resolve(meta_url, part["@base"])
        refs = []
        if isinstance(doc.get("url"), str):
            refs.append(doc["url"])
        for t in (doc.get("tables") or doc.get("resources") or []):
            if isinstance(t, dict) and isinstance(t.get("url"), str):
                refs.append(t["url"])
        target = url if "://" in url else os.path.normpath(url)
        return any(_resolve(base, r) == target for r in refs)

    for cand in candidates:
        try:
            path = resolver(cand)
            if os.path.exists(path):
                doc = load_json(cand, resolver)
                if _references(doc, cand):
                    out.append((doc, cand))
        except OSError:
            continue
    return out


def validate_table(spark: SparkSession, table: Table, resolver: Resolver) -> DataFrame:
    """Data-level validation (reference: validate! over cells): → errors DF
    (table_url, source_num, column, value, error); empty == valid."""
    from .operators.triples import rows_to_errors
    from .session import ensure_package_on_executors
    ensure_package_on_executors(spark)
    path = resolver(table.url)
    titles, _ = read_header(path, table.dialect)
    if titles:
        merge_embedded_titles(table, titles)
    ensure_columns_from_data(table, path)
    mapping = compile_mapping(table, minimal=True)
    return rows_to_errors(read_rows(spark, path, table.dialect), mapping)


def _key_tuple_rows(spark: SparkSession, table: Table, cols: list[str],
                    resolver: Resolver, role: str) -> DataFrame:
    """(key array<string>, source_num) for the named columns of a table.

    The key is the cell tuple AS AN ARRAY: element boundaries and NULLs are
    preserved, so (NULL,'x') vs ('x',NULL) stay distinct (a separator-
    joined string would collide them). Unknown column names are an error,
    not silently dropped. A cell matching the column's CSVW ``null``
    annotation (default: the empty string) becomes a NULL component — a
    present-but-null cell and a missing cell (short row) must behave
    identically, and FK checks exempt NULL components per SQL MATCH SIMPLE."""
    from pyspark.sql import functions as F
    from .csvw.model import _as_list
    path = resolver(table.url)
    titles, _ = read_header(path, table.dialect)
    if titles:
        merge_embedded_titles(table, titles)
    cols_by_name = {c.name: (i, c) for i, c in enumerate(table.schema.columns)}
    missing = [name for name in cols if name not in cols_by_name]
    if missing:
        raise ValueError(
            f"{role} column(s) {missing} not in schema of {table.url} "
            f"(columns: {sorted(cols_by_name)})")
    parts = []
    for name in cols:
        i, col = cols_by_name[name]
        nulls = _as_list(col.inherited("null")) or [""]
        # try_element_at: short/blank rows yield NULL components instead of
        # an ANSI out-of-bounds error mid-job
        cell = F.try_element_at(F.col("values"), F.lit(i + 1))
        parts.append(F.when(cell.isin(*nulls), F.lit(None)).otherwise(cell))
    return (read_rows(spark, path, table.dialect)
            .select(F.array(*parts).alias("key"), "source_num"))


def validate_primary_key(spark: SparkSession, table: Table,
                         resolver: Resolver) -> DataFrame:
    """M6 data tier the reference only FIXMEs (metadata.rb:517-541): rows
    whose primaryKey tuple is duplicated → (key, n_rows, source_nums). One
    groupBy shuffle on the key columns with map-side partial counts; empty
    == valid. Composite keys supported."""
    from pyspark.sql import functions as F
    from .session import ensure_package_on_executors
    ensure_package_on_executors(spark)
    pk = table.schema.primary_key
    if not pk:
        return spark.createDataFrame(
            [], "key array<string>, n_rows bigint, source_nums array<bigint>")
    return (_key_tuple_rows(spark, table, pk, resolver, "primaryKey")
            .groupBy("key")
            .agg(F.count("*").alias("n_rows"),
                 F.sort_array(F.collect_list("source_num")).alias("source_nums"))
            .filter(F.col("n_rows") > 1))


_FK_VIOLATIONS_SCHEMA = ("child_url string, fk_index int, key array<string>, "
                         "n_rows bigint, source_nums array<bigint>")


def validate_foreign_keys(spark: SparkSession, group: TableGroup,
                          resolver: Resolver) -> DataFrame:
    """Data-level enforcement of every declared ``schema.foreignKeys``
    across a TableGroup — the check the reference structurally validates
    but FIXMEs at the data tier (metadata.rb:517-541, :536-540).

    → violations DF (child_url, fk_index, key, n_rows, source_nums); empty
    == valid. One left-anti join per declaration of the child key tuples
    against the parent's distinct key tuples — the parent side is usually a
    dimension table, so AQE broadcasts it at runtime; at 100 TB the anti-
    join shuffles only (key, source_num), never the row payload. Child keys
    with any NULL component are exempt (SQL ``MATCH SIMPLE`` convention —
    the reference never specifies NULL-FK behavior because the data check
    is unimplemented there).
    """
    from urllib.parse import urljoin
    from pyspark.sql import functions as F
    from .csvw.model import _as_list
    from .session import ensure_package_on_executors
    ensure_package_on_executors(spark)
    outs: list[DataFrame] = []
    for child in group.tables:
        if child.schema is None:
            continue
        for i, fk in enumerate(child.schema.foreign_keys):
            fk = fk or {}
            # draft 'columns' and W3C-final 'columnReference' spellings
            cols = _as_list(fk.get("columns", fk.get("columnReference")))
            ref = fk.get("reference") or {}
            res_url = ref.get("resource")
            schema_ref = (ref.get("schemaReference") or ref.get("schema")
                          or ref.get("tableSchema"))
            ref_cols = _as_list(ref.get("columns",
                                        ref.get("columnReference")))
            if not (cols and (res_url or schema_ref) and ref_cols):
                raise ValueError(
                    f"malformed foreignKey #{i} on {child.url}: {fk!r}")
            if res_url:
                parent = (group.for_table(res_url)
                          or group.for_table(
                              urljoin(child.context.base or child.url,
                                      res_url)))
            else:
                # schemaReference names the parent by its external
                # tableSchema document URL (CSVW §5.5.2; the reference
                # structurally accepts it at metadata.rb:536-540 and
                # FIXMEs resolution — resolved here)
                base = (child.schema.source_url
                        or child.context.base or child.url)
                target = urljoin(base, schema_ref)
                parent = next(
                    (t for t in group.tables if t.schema is not None
                     and t.schema.source_url == target), None)
            if parent is None:
                raise ValueError(
                    f"foreignKey #{i} on {child.url} references unknown "
                    f"resource {(res_url or schema_ref)!r}")
            child_keys = _key_tuple_rows(spark, child, cols, resolver,
                                         "foreignKey")
            parent_keys = (_key_tuple_rows(spark, parent, ref_cols, resolver,
                                           "foreignKey reference")
                           .select("key").distinct())
            outs.append(
                child_keys
                .filter(F.forall("key", lambda x: x.isNotNull()))
                .join(parent_keys, "key", "left_anti")
                .groupBy("key")
                .agg(F.count("*").alias("n_rows"),
                     F.sort_array(F.collect_list("source_num"))
                      .alias("source_nums"))
                .select(F.lit(child.url).alias("child_url"),
                        F.lit(i).cast("int").alias("fk_index"),
                        "key", "n_rows", "source_nums"))
    if not outs:
        return spark.createDataFrame([], _FK_VIOLATIONS_SCHEMA)
    return reduce(DataFrame.unionByName, outs)


def _detect_source_kind(source, base: str, resolver: Resolver,
                        headers: Optional["HeaderSource"]) -> str:
    """'json' | 'csv' | 'tsv' | 'html' for a string source, with the
    reference's precedence (format.rb:26-44): MIME type from the header
    source ▷ extension ▷ a ~1 KB content sniff."""
    from .discovery import detect_format
    url = base or source
    hdrs = None
    if headers is not None:
        try:
            hdrs = headers(url)
        except Exception:
            hdrs = None
    sample = None
    try:
        path = resolver(url) if (base or "://" in str(source)) else source
        with open(path, "rb") as f:
            sample = f.read(1024)
    except OSError:
        pass
    return detect_format(url=url, sample=sample, headers=hdrs)


def _html_to_triples(spark: SparkSession, url: str, path: str,
                     minimal: bool) -> DataFrame:
    """Extensionless/HTML input routes to the web extractor (stage 1+2 over
    a single page) — embedded csvw+json <script> metadata applies."""
    import datetime
    from .sources.html_extract import _decode, extract_page
    from .sources.pages import PAGES_SCHEMA
    from .web import pages_to_triples
    with open(path, "rb") as f:
        html = f.read()
    content = extract_page(_decode(html))
    default_meta = None
    if not content.csvw_meta and content.tables and content.tables[0].rows:
        # no embedded csvw+json script: synthesize embedded-header metadata
        # from the first table's header row (M7 name derivation simplified)
        header = content.tables[0].rows[0]
        default_meta = {"url": url, "tableSchema": {"columns": [
            {"name": h or f"_col.{i + 1}", "titles": h}
            for i, h in enumerate(header)]}}
    row = [(url, datetime.datetime(1970, 1, 1), bytearray(html),
            content.text, "und")]
    pages = spark.createDataFrame(row, PAGES_SCHEMA)
    return pages_to_triples(pages, minimal=minimal, default_meta=default_meta)


def csvw_to_triples(spark: SparkSession, source, base: str = "",
                    resolver: Resolver = default_resolver,
                    user_metadata: Optional[dict] = None,
                    minimal: bool = False,
                    headers: Optional["HeaderSource"] = None) -> DataFrame:
    """Main entry: ``source`` is metadata (dict or .json path/url) or a
    CSV/TSV/HTML path — format decided by MIME type / extension / content
    sniff, not extension alone (reference format.rb:26-44).

    For a CSV source the reference's ``for_input`` resolution applies:
    user metadata ▷ discovered ``Link rel=describedby`` /
    ``{url}-metadata.json`` / ``metadata.json`` (merged via csvw.merge,
    M2/M3) ▷ embedded header. ``headers`` is an optional injectable
    ``url -> {header: value}`` source consulted for Content-Type and Link.
    Returns the flat triples DataFrame (operators.triples.TRIPLE_SCHEMA).
    """
    from .csvw.merge import merge_metadata
    kind = "json" if isinstance(source, dict) else \
        _detect_source_kind(source, base, resolver, headers)
    if kind == "html":
        url = base or source
        return _html_to_triples(spark, url,
                                resolver(url) if (base or "://" in str(source)) else source, minimal)
    if kind == "json":
        if user_metadata is not None:
            raw = source if isinstance(source, dict) else \
                __import__("json").load(open(resolver(source) if (base or "://" in str(source)) else source))
            merged = merge_metadata(user_metadata, raw)
            meta = load_metadata(merged, base=base or (source if isinstance(source, str) else ""),
                                 resolver=resolver)
        else:
            # the metadata document's own location is the base when none is
            # given (relative table urls resolve against it)
            meta = load_metadata(
                source, base=base or (source if isinstance(source, str) else ""),
                resolver=resolver)
    else:
        url = base or source
        # Content-Type `header=absent` (reference reader.rb:60-63): the
        # response declares row 1 is data — inject header:false dialect
        # metadata unless the caller supplied their own (`||=` there)
        if user_metadata is None and headers is not None:
            from .discovery import header_absent
            if header_absent(headers(url) or {}):
                user_metadata = {"@context": "http://www.w3.org/ns/csvw",
                                 "url": url, "dialect": {"header": False}}
        found = discover_metadata(url, resolver, headers=headers)
        docs = ([user_metadata] if user_metadata else []) + [d for d, _ in found]
        if docs:
            merged = merge_metadata(*docs)
            meta_base = found[0][1] if found else url
            meta = load_metadata(merged, base=meta_base, resolver=resolver)
            # direct-CSV entry: narrow the merged group to this table
            # (reference: reader.rb:68 for_table — no group-level triples)
            if isinstance(meta, TableGroup):
                table = meta.for_table(url)
                if table is None and len(meta.tables) == 1:
                    table = meta.tables[0]
                if table is not None:
                    meta = table
        else:
            # metadata-less CSV/TSV: embedded header only (TSV gets the
            # tab dialect the text/tab-separated-values registration implies)
            from .csvw.model import embedded_table_from_header
            dialect = Dialect(delimiter="\t") if kind == "tsv" else Dialect()
            titles, _ = read_header(resolver(url) if (base or "://" in str(source)) else source, dialect)
            meta = embedded_table_from_header(titles, url, dialect)
    if isinstance(meta, TableGroup):
        return group_to_triples(spark, meta, resolver, minimal=minimal)
    return table_to_triples(spark, meta, resolver, minimal=minimal)
