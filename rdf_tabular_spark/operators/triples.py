"""Row → RDF-triple generation: the engine's core map operator.

Reference semantics: lib/rdf/tabular/metadata.rb:1640-1727 (Row#initialize —
null/default/separator/trim + datatype coercion + URI-template binding) and
lib/rdf/tabular/reader.rb:136-183 (each_statement — subject assignment and
cell-triple emission).

Spark-first design: CSVW Table metadata is compiled ONCE on the driver into a
picklable ``TableMapping`` plan; rows flow through a single Arrow-batched
``mapInPandas`` kernel that emits the flat triples DataFrame — on the CSV
line path (``lines_to_triples``) the same kernel also parses the numbered
lines, so each task runs one Python worker. URI templates that read only
column variables expand once per column and base, and an aboutUrl shared by
several columns once per row. Blank nodes are deterministic skolem labels
keyed on (table_url, source_num) so output is reproducible and
set-comparison ≡ graph isomorphism. No driver-side collect on the data path;
the kernel is embarrassingly parallel (no shuffle).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from typing import Iterator, Optional
from urllib.parse import unquote

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BooleanType, LongType, StringType,
                               StructField, StructType)

from ..csvw import coerce
from ..csvw.context import CSVW, RDF, XSD, Context
from ..csvw.model import Table, normalize_datatype
from ..csvw.uri_template import URITemplate

TRIPLE_SCHEMA = StructType([
    StructField("subj", StringType(), False),
    StructField("pred", StringType(), False),
    StructField("obj", StringType(), True),
    StructField("obj_is_iri", BooleanType(), False),
    StructField("obj_datatype", StringType(), True),
    StructField("obj_lang", StringType(), True),
    StructField("table_url", StringType(), True),
    StructField("source_num", LongType(), True),
])

RDF_FIRST = RDF + "first"
RDF_REST = RDF + "rest"
RDF_NIL = RDF + "nil"
XSD_INTEGER = XSD + "integer"


def table_hash(url: str) -> str:
    return hashlib.sha1(url.encode("utf-8")).hexdigest()[:10]


@dataclass
class ColumnPlan:
    name: str
    number: int           # 1-based logical
    source_number: int    # 1-based physical
    virtual: bool = False
    suppress: bool = False
    about_template: Optional[str] = None
    property_template: Optional[str] = None  # None → default "{#_name}"
    value_template: Optional[str] = None
    datatypes: Optional[list[dict]] = None
    null_values: tuple = ("",)  # ANY match → null (CSVW `null` may be an array)
    default: Optional[str] = None
    separator: Optional[str] = None
    lang: Optional[str] = None
    ordered: bool = False
    required: bool = False


@dataclass
class TableMapping:
    """Compiled, picklable execution plan for one CSVW table."""
    url: str
    table_resource: str          # IRI or deterministic skolem bnode
    trim: str = "false"          # 'true'|'false'|'start'|'end'
    columns: list[ColumnPlan] = field(default_factory=list)
    minimal: bool = False
    thash: str = ""
    row_about_template: Optional[str] = None  # schema/table-inherited aboutUrl
    # schema-inherited lang, applied to auto-created extra-cell columns
    # (a row with more cells than defined columns, metadata.rb:1664-1667)
    extra_lang: Optional[str] = None
    # 0-based indices of schema.rowTitles columns (W3C-final §5.5:
    # each referenced cell's value becomes a csvw:title on the row node
    # in standard mode; absent from the draft-era reference)
    row_title_idx: list[int] = field(default_factory=list)

    def __post_init__(self):
        if not self.thash:
            self.thash = table_hash(self.url)


def compile_mapping(table: Table, minimal: bool = False) -> TableMapping:
    """Driver-side compilation of CSVW Table metadata → TableMapping."""
    tid = table.id
    thash = table_hash(table.url)
    mapping = TableMapping(
        url=table.url,
        table_resource=tid if tid else f"_:t{thash}",
        trim=table.dialect.effective_trim,
        minimal=minimal,
        thash=thash,
        row_about_template=table.schema.inherited("aboutUrl"),
        extra_lang=table.schema.inherited("lang"),
    )
    for col in table.schema.columns:
        dt = col.inherited("datatype")
        null_v = col.inherited("null")
        if null_v is None:
            nulls = ("",)
        elif isinstance(null_v, list):
            nulls = tuple(null_v) or ("",)
        else:
            nulls = (null_v,)
        mapping.columns.append(ColumnPlan(
            name=col.name,
            number=col.number,
            source_number=col.number,  # skipColumns offset applied at source
            virtual=col.virtual,
            suppress=col.suppress_output,
            about_template=col.inherited("aboutUrl"),
            property_template=col.inherited("propertyUrl"),
            value_template=col.raw.get("valueUrl") if "valueUrl" in col.raw else col.inherited("valueUrl"),
            datatypes=normalize_datatype(dt) if dt is not None else None,
            null_values=nulls,
            default=col.inherited("default"),
            separator=col.inherited("separator"),
            lang=col.inherited("lang"),
            ordered=bool(col.inherited("ordered")),
            required=col.required,
        ))
    rt = table.schema.row_titles
    if rt:
        by_name = {c.name: i for i, c in enumerate(table.schema.columns)}
        mapping.row_title_idx = [by_name[n] for n in rt if n in by_name]
    return mapping


# ---------------------------------------------------------------------------
# Kernel internals (run on executors inside Arrow batches)
# ---------------------------------------------------------------------------

# template variables bound per column, the same on every row
_COLUMN_VARS = frozenset(("_name", "_column", "_sourceColumn"))


class _CompiledColumn:
    """Executor-side column with pre-compiled URI templates.

    ``prop_per_column``: the propertyUrl reads only column variables, so it
    expands once per column and base. ``about_per_row``: the aboutUrl reads
    no column variable, so columns sharing it expand it once per row."""
    __slots__ = ("plan", "about_t", "prop_t", "value_t", "name_decoded",
                 "prop_per_column", "about_per_row")

    def __init__(self, plan: ColumnPlan):
        self.plan = plan
        self.about_t = URITemplate(plan.about_template) if plan.about_template else None
        prop = plan.property_template if plan.property_template else "{#_name}"
        self.prop_t = URITemplate(prop)
        self.value_t = URITemplate(plan.value_template) if plan.value_template else None
        self.name_decoded = unquote(plan.name)
        self.prop_per_column = _COLUMN_VARS.issuperset(self.prop_t.variables)
        self.about_per_row = (self.about_t is not None and
                              _COLUMN_VARS.isdisjoint(self.about_t.variables))


class TripleKernel:
    """Stateless row→triples converter, shared by the CSV path and the
    web-pages virtual-row path. One instance per executor task."""

    def __init__(self, mapping: TableMapping):
        self.m = mapping
        self.cols = [_CompiledColumn(c) for c in mapping.columns]
        self.ctx = Context(base=mapping.url)
        self.row_url_prefix = mapping.url + "#row="
        self._cur_thash = mapping.thash
        # column index → expanded row-invariant propertyUrl under self.ctx;
        # cleared when ``url=`` rebinds the base, so it holds one entry per
        # column at most
        self._pred_cache: dict[int, str] = {}
        # extra-cell columns inherit the schema aboutUrl (the reference's
        # auto Column.new has tableSchema as parent, metadata.rb:1665)
        self.extra_about_t = (URITemplate(mapping.row_about_template)
                              if mapping.row_about_template else None)
        # (column, raw) → coercion result memo: web tables repeat cell
        # values heavily (enums, codes, small-domain attributes) and the
        # coercion is pure per (raw, column plan); results are immutable
        # to every caller (CellValue tuples read-only, binding/errors
        # never mutated). Capped so an adversarial all-distinct 100-TB
        # column cannot grow executor memory: cleared when full.
        self._cell_cache: dict = {}

    _CELL_CACHE_MAX = 65536

    def _coerce_cell(self, raw: Optional[str], cp: ColumnPlan
                     ) -> tuple[list[coerce.CellValue], object, list[str]]:
        """Mirror of Row#initialize cell logic → (typed values, binding,
        errors). Errors mirror the reference Cell struct's ``errors``
        accumulation (metadata.rb:1576-1607): datatype mismatches from
        ``value_matching_datatype`` plus the ``required`` check."""
        key = (cp.number, raw)
        hit = self._cell_cache.get(key)
        if hit is not None:
            return hit
        result = self._coerce_cell_uncached(raw, cp)
        cache = self._cell_cache
        if len(cache) >= self._CELL_CACHE_MAX:
            cache.clear()
        cache[key] = result
        return result

    def _coerce_cell_uncached(self, raw: Optional[str], cp: ColumnPlan
                              ) -> tuple[list[coerce.CellValue], object,
                                         list[str]]:
        value = raw if raw is not None else cp.null_values[0]
        if value == "":
            value = cp.default if cp.default is not None else ""
        parts = value.split(cp.separator) if cp.separator else [value]
        out: list[coerce.CellValue] = []
        errors: list[str] = []
        for v in parts:
            if cp.datatypes is None:
                # reference parity (metadata.rb:1678): "If no datatype,
                # always strip value" — unconditional, independent of the
                # dialect trim setting (which modulates only the
                # string-datatyped branch below)
                v = v.strip()
            if v in cp.null_values:
                if cp.required:
                    errors.append(f"{cp.name} is required")
                continue
            if v == "":
                # element-level default (metadata.rb:1681-1682): reachable
                # only when a non-empty `null` is declared ('' otherwise
                # matches null above); the reference returns the default
                # STRING directly — datatype coercion is bypassed and the
                # element emits as a plain literal
                out.append(coerce.CellValue(
                    cp.default if cp.default is not None else "",
                    None, None))
                continue
            if cp.datatypes is not None:
                first_dt = cp.datatypes[0].get("base", "string")
                if first_dt in ("string", "anyAtomicType", "any"):
                    if self.m.trim in ("true", "start"):
                        v = v.lstrip()
                    if self.m.trim in ("true", "end"):
                        v = v.rstrip()
                else:
                    v = v.strip()
                cv = None
                all_errs: list[str] = []
                for dt in cp.datatypes:
                    cv, errs = coerce.value_matching_datatype(v, dt, cp.lang)
                    if cv is not None:
                        all_errs = []
                        break
                    all_errs.extend(errs)
                # no datatype in the union matched: every mismatch is
                # reported (the first-declared datatype's error was being
                # dropped when a later one also failed)
                errors.extend(all_errs)
                out.append(cv if cv is not None else coerce.CellValue(v, None, None))
            else:
                out.append(coerce.CellValue(v, None, cp.lang))
        if cp.separator:
            binding = [cv.lexical or "" for cv in out]
        else:
            binding = out[0].lexical if out else ""
        return out, binding, errors

    def row_triples(self, values: list[Optional[str]], row_num: int, source_num: int,
                    url: Optional[str] = None):
        """→ list of (subj, pred, obj, obj_is_iri, obj_datatype, obj_lang).

        ``url`` rebinds the table base per call (web path: one compiled kernel
        per metadata document, reused across millions of page URLs)."""
        m = self.m
        if url is not None and url != self.ctx.base:
            self.ctx = Context(base=url)
            self._pred_cache.clear()
            self.row_url_prefix = url + "#row="
            self._cur_thash = table_hash(url)
        elif url is None:
            self._cur_thash = m.thash
        triples: list[tuple] = []
        add = triples.append

        # pad row to the number of defined columns (virtual columns)
        values = list(values) + [None] * (len(self.cols) - len(values))

        bindings: dict = {"_row": row_num, "_sourceRow": source_num}
        cell_values: list[list[coerce.CellValue]] = []
        for cc, raw in zip(self.cols, values):
            vals, binding, _errs = self._coerce_cell(raw, cc.plan)
            cell_values.append(vals)
            bindings[cc.plan.name] = binding

        thash = self._cur_thash
        row_resource = f"_:r{thash}-{source_num}"
        default_subject = f"_:d{thash}-{source_num}"
        if not m.minimal:
            add((m.table_resource, CSVW + "row", row_resource, True, None, None))
            add((row_resource, CSVW + "rownum", str(row_num), False, XSD_INTEGER, None))
            add((row_resource, CSVW + "url", self.row_url_prefix + str(source_num), True, None, None))
            for ti in m.row_title_idx:
                for cv in cell_values[ti]:
                    if cv.lexical:
                        add((row_resource, CSVW + "title", cv.lexical,
                             False, None, cv.lang))

        described: set[str] = set()
        ctx = self.ctx
        pred_cache = self._pred_cache
        row_abouts: dict[str, str] = {}  # about_per_row template → subject
        for ci, (cc, vals) in enumerate(zip(self.cols, cell_values)):
            cp = cc.plan
            if cp.suppress:
                continue
            # the templates only READ the bindings, and the _name/_column/
            # _sourceColumn slots cannot collide with column names (NAME_
            # SYNTAX forbids a leading underscore outside _col.N) — so
            # mutate ONE dict per row instead of copying it per column
            # (72k dict copies/batch measured on the web kernel)
            b = bindings
            b["_name"] = cc.name_decoded
            b["_column"] = cp.number
            b["_sourceColumn"] = cp.source_number

            if cc.about_t is None:
                subject = default_subject
            elif cc.about_per_row:
                subject = row_abouts.get(cp.about_template)
                if subject is None:
                    subject = row_abouts[cp.about_template] = ctx.expand_iri(
                        cc.about_t.expand(b), document_relative=True)
            else:
                subject = ctx.expand_iri(cc.about_t.expand(b), document_relative=True)
            if not m.minimal and subject not in described:
                described.add(subject)
                add((row_resource, CSVW + "describes", subject, True, None, None))

            pred = pred_cache.get(ci) if cc.prop_per_column else None
            if pred is None:
                pred = ctx.expand_iri(cc.prop_t.expand(b), document_relative=True)
                if cc.prop_per_column:
                    pred_cache[ci] = pred

            if cc.value_t is not None:
                obj = ctx.expand_iri(cc.value_t.expand(b), document_relative=True)
                add((subject, pred, obj, True, None, None))
            elif cp.ordered and cp.separator:
                # rdf:List chain with deterministic bnode links
                if not vals:
                    add((subject, pred, RDF_NIL, True, None, None))
                else:
                    head = f"_:l{thash}-{source_num}-{cp.number}-0"
                    add((subject, pred, head, True, None, None))
                    for i, cv in enumerate(vals):
                        node = f"_:l{thash}-{source_num}-{cp.number}-{i}"
                        add((node, RDF_FIRST, cv.lexical, False, cv.datatype, cv.lang))
                        nxt = (f"_:l{thash}-{source_num}-{cp.number}-{i+1}"
                               if i + 1 < len(vals) else RDF_NIL)
                        add((node, RDF_REST, nxt, True, None, None))
            else:
                for cv in vals:
                    add((subject, pred, cv.lexical, False, cv.datatype, cv.lang))

        # reference parity (metadata.rb:1664-1667,1462): a row with MORE
        # source cells than defined columns auto-creates a column per
        # extra cell — derived name "_col.{number}", no datatype (value
        # stripped; empty = default null, suppressed), schema-inherited
        # lang and aboutUrl. Divergence from the reference documented in
        # tests/suite test221: we do this only when the schema declares
        # no virtual columns (the reference misaligns extra source cells
        # INTO virtual-column definitions — a bug, not a semantic).
        if len(values) > len(self.cols) and not any(
                cc.plan.virtual for cc in self.cols):
            for idx in range(len(self.cols), len(values)):
                v = (values[idx] or "").strip()
                if v == "":
                    continue
                b = dict(bindings)
                b["_name"] = f"_col.{idx + 1}"
                b["_column"] = idx + 1
                b["_sourceColumn"] = idx + 1
                if self.extra_about_t is not None:
                    subject = self.ctx.expand_iri(
                        self.extra_about_t.expand(b), document_relative=True)
                else:
                    subject = default_subject
                if not m.minimal and subject not in described:
                    described.add(subject)
                    add((row_resource, CSVW + "describes", subject,
                         True, None, None))
                pred = self.ctx.expand_iri(f"#_col.{idx + 1}",
                                           document_relative=True)
                add((subject, pred, v, False, None, m.extra_lang))
        return triples


def _triples_kernel(mapping: TableMapping, parse=None):
    """The Arrow-batch triple kernel; ``parse`` (batches → ROWS_SCHEMA
    batches) runs first when the input is unparsed lines."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        k = TripleKernel(mapping)
        url = mapping.url
        cols = ["subj", "pred", "obj", "obj_is_iri", "obj_datatype", "obj_lang"]
        for pdf in (parse(batches) if parse is not None else batches):
            out: list[tuple] = []
            srcs: list[int] = []
            for values, row_num, source_num in zip(pdf["values"], pdf["row_num"], pdf["source_num"]):
                ts = k.row_triples(list(values), int(row_num), int(source_num))
                out.extend(ts)
                srcs.extend([int(source_num)] * len(ts))
            res = pd.DataFrame(out, columns=cols)
            res["table_url"] = url
            res["source_num"] = pd.Series(srcs, dtype="int64")
            yield res
    return kernel


def rows_to_triples(rows_df: DataFrame, mapping: TableMapping) -> DataFrame:
    """values-array rows → triples via one Arrow-batched mapInPandas stage.

    ``rows_df`` schema: values: array<string>, row_num: long, source_num: long.
    Narrow transformation — partitioning of the input is preserved, no shuffle.
    """
    from ..session import ensure_package_on_executors
    ensure_package_on_executors(rows_df.sparkSession)
    return rows_df.mapInPandas(_triples_kernel(mapping), schema=TRIPLE_SCHEMA)


def lines_to_triples(lines_df: DataFrame, parse,
                     mapping: TableMapping) -> DataFrame:
    """Numbered CSV lines (``line, row_num, source_num``) → triples: the
    line parse (``parse``, e.g. ``csv_source.line_parser(dialect)``) and the
    triple kernel in ONE mapInPandas, so each row crosses the JVM/Python
    boundary once and each task runs one Python worker."""
    from ..session import ensure_package_on_executors
    ensure_package_on_executors(lines_df.sparkSession)
    return lines_df.mapInPandas(_triples_kernel(mapping, parse),
                                schema=TRIPLE_SCHEMA)


ERRORS_SCHEMA = StructType([
    StructField("table_url", StringType(), True),
    StructField("source_num", LongType(), False),
    StructField("column", StringType(), False),
    StructField("value", StringType(), True),
    StructField("error", StringType(), False),
])


def rows_to_errors(rows_df: DataFrame, mapping: TableMapping) -> DataFrame:
    """Validation mode (reference: validate!, cell.errors accumulation,
    metadata.rb:1712-1713 + Cell#valid?): run the SAME coercion kernel but
    emit one row per cell error instead of triples. Narrow Arrow stage;
    ``df.isEmpty()`` on the result is the distributed validity check.

    Also enforces ``required`` (reference: metadata.rb:1406-1412): an empty
    value in a required column is an error.
    """
    from ..csvw import coerce as C

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [(_CompiledColumn(c), c) for c in mapping.columns]
        url = mapping.url
        out_cols = ["table_url", "source_num", "column", "value", "error"]
        for pdf in batches:
            out: list[tuple] = []
            for values, source_num in zip(pdf["values"], pdf["source_num"]):
                values = list(values) + [None] * (len(cols) - len(values))
                for (cc, cp), raw in zip(cols, values):
                    value = raw if raw is not None else ""
                    if value == "":
                        value = cp.default if cp.default is not None else ""
                    parts = value.split(cp.separator) if cp.separator else [value]
                    for v in parts:
                        v = v.strip()
                        if v in cp.null_values:
                            if cp.required:
                                out.append((url, int(source_num), cp.name, raw,
                                            f"{cp.name} is required"))
                            continue
                        if cp.datatypes is None:
                            continue
                        all_errs: list[str] = []
                        for dt in cp.datatypes:
                            cv, errs = C.value_matching_datatype(v, dt, cp.lang)
                            if cv is not None:
                                all_errs = []
                                break
                            all_errs.extend(errs)
                        for e in all_errs:
                            out.append((url, int(source_num), cp.name, v, e))
            yield pd.DataFrame(out, columns=out_cols)

    from ..session import ensure_package_on_executors
    ensure_package_on_executors(rows_df.sparkSession)
    return rows_df.mapInPandas(kernel, schema=ERRORS_SCHEMA)


def local_triples_df(spark: SparkSession, triples: list[tuple]) -> DataFrame:
    """Small driver-built triple list (table-level/common-property/prov
    triples — O(metadata), never O(data)) → DataFrame of ONE partition,
    built in the JVM from literals (no Python worker, no near-empty
    partition per task slot)."""
    rows = [t if len(t) == 8 else t + (None, None) for t in triples]
    structs = [F.struct(*[F.lit(v).cast(f.dataType).alias(f.name)
                          for v, f in zip(row, TRIPLE_SCHEMA.fields)])
               for row in rows]
    return spark.range(1, numPartitions=1).select(F.inline(
        F.array(*structs).cast(ArrayType(TRIPLE_SCHEMA, False))))
