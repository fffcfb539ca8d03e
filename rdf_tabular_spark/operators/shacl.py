"""SHACL-lite: distributed shape validation over triple DataFrames.

The reference validates TABLES against CSVW metadata (metadata.rb validate!,
errors accumulated per cell — ported in csvw/validate.py and the pipeline
errors tier); a knowledge-graph pipeline additionally needs the GRAPH-side
quality gate: validate emitted triples against shapes before materializing.
This implements the useful core of SHACL node/property shapes:

- ``targetClass`` — focus nodes are subjects of ``rdf:type <class>``
  (``None`` targets every subject in the graph),
- per property shape (``path``): ``minCount`` / ``maxCount`` (cardinality),
  ``datatype`` (exact obj_datatype match), ``pattern`` (Java-regex ``rlike``
  on the object lexical form — keep patterns RE2-compatible for the DuckDB
  oracle), ``in`` (closed value list), ``nodeKind`` ('IRI' | 'Literal').

Execution shape (all JVM-side, zero Python UDFs):

- shapes live on the driver (a handful of dicts — the SHACL shapes graph is
  always tiny); each property shape compiles to a filter + aggregation plan
  over ONE pass of the path's triples,
- cardinality: focus set (type triples, or distinct subjects) LEFT-joins the
  per-focus path counts — one map-side-combined groupBy per (shape, path) on
  an already-pred-filtered slice, so predicate pushdown prunes the scan,
- value constraints: a narrow filter over the path slice — one violation row
  per offending triple, no shuffle at all,
- the report is the union of per-constraint violation DataFrames: (focus,
  shape_id, path, constraint, actual, expected) — scalar columns only, so
  the whole report is DuckDB-oracle-checkable.

At 100 TB each shape touches only its path's partition slice (the graph
store partitions by pred_bucket — see sinks/graph_store.py), the focus set
is one more slice, and every aggregation keys on focus subjects (naturally
high-cardinality, no skew beyond what salting already handles upstream).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


@dataclass(frozen=True)
class PropertyShape:
    path: str
    min_count: int | None = None
    max_count: int | None = None
    datatype: str | None = None
    pattern: str | None = None
    in_values: tuple[str, ...] | None = None
    node_kind: str | None = None      # 'IRI' | 'Literal'
    class_: str | None = None         # sh:class — object must be typed
    min_length: int | None = None
    max_length: int | None = None
    unique_lang: bool = False         # sh:uniqueLang — needs obj_lang
    has_value: str | None = None      # sh:hasValue — some value == X
    less_than: str | None = None      # sh:lessThan OTHER_PATH (pairwise)
    equals: str | None = None         # sh:equals OTHER_PATH (set equality)


@dataclass(frozen=True)
class NodeShape:
    shape_id: str
    target_class: str | None = None   # None = every subject
    properties: tuple[PropertyShape, ...] = field(default_factory=tuple)


def _report(df: DataFrame, shape: NodeShape, prop: PropertyShape,
            constraint: str, actual, expected: str) -> DataFrame:
    return df.select(
        F.col("focus"),
        F.lit(shape.shape_id).alias("shape_id"),
        F.lit(prop.path).alias("path"),
        F.lit(constraint).alias("constraint"),
        actual.cast("string").alias("actual"),
        F.lit(expected).alias("expected"))


def _focus_nodes(triples: DataFrame, shape: NodeShape) -> DataFrame:
    if shape.target_class is None:
        return triples.select(F.col("subj").alias("focus")).distinct()
    return (triples
            .filter((F.col("pred") == RDF_TYPE)
                    & (F.col("obj") == shape.target_class))
            .select(F.col("subj").alias("focus")).distinct())


def validate_shapes(triples: DataFrame,
                    shapes: list[NodeShape]) -> DataFrame:
    """Validation report: one row per violation, empty DataFrame when the
    graph conforms.  ``triples`` needs (subj, pred, obj); ``obj_datatype``
    and ``obj_is_iri`` are consulted only by datatype / nodeKind constraints
    (validating a shape that uses them against a frame without them raises
    the normal analysis error — declare the columns or drop the constraint).
    """
    spark = triples.sparkSession
    reports: list[DataFrame] = []
    for shape in shapes:
        focus = _focus_nodes(triples, shape)
        for prop in shape.properties:
            slice_ = triples.filter(F.col("pred") == prop.path) \
                            .withColumnRenamed("subj", "focus")
            if prop.min_count is not None or prop.max_count is not None:
                counts = (slice_.groupBy("focus")
                          .agg(F.count(F.lit(1)).cast("long").alias("_n")))
                per_focus = (focus.join(counts, on="focus", how="left")
                             .withColumn("_n", F.coalesce("_n", F.lit(0)
                                                          .cast("long"))))
                if prop.min_count is not None:
                    bad = per_focus.filter(F.col("_n") < prop.min_count)
                    reports.append(_report(bad, shape, prop, "minCount",
                                           F.col("_n"),
                                           str(prop.min_count)))
                if prop.max_count is not None:
                    bad = per_focus.filter(F.col("_n") > prop.max_count)
                    reports.append(_report(bad, shape, prop, "maxCount",
                                           F.col("_n"),
                                           str(prop.max_count)))
            vals = slice_.join(focus, on="focus", how="leftsemi") \
                if shape.target_class is not None else slice_
            if prop.datatype is not None:
                bad = vals.filter(
                    F.coalesce(F.col("obj_datatype"), F.lit(""))
                    != prop.datatype)
                reports.append(_report(bad, shape, prop, "datatype",
                                       F.coalesce(F.col("obj_datatype"),
                                                  F.lit("")),
                                       prop.datatype))
            if prop.pattern is not None:
                bad = vals.filter(~F.col("obj").rlike(prop.pattern))
                reports.append(_report(bad, shape, prop, "pattern",
                                       F.col("obj"), prop.pattern))
            if prop.in_values is not None:
                bad = vals.filter(~F.col("obj").isin(*prop.in_values))
                reports.append(_report(bad, shape, prop, "in",
                                       F.col("obj"),
                                       ",".join(prop.in_values)))
            if prop.node_kind is not None:
                want_iri = prop.node_kind == "IRI"
                bad = vals.filter(F.col("obj_is_iri") != F.lit(want_iri))
                reports.append(_report(
                    bad, shape, prop, "nodeKind",
                    F.when(F.col("obj_is_iri"), "IRI").otherwise("Literal"),
                    prop.node_kind))
            if prop.class_ is not None:
                # sh:class — every value must be an instance of the class:
                # anti-join the value set against the class's type slice
                # (both pred-filtered; the instance set is usually the
                # smaller side and AQE picks the build side at runtime)
                instances = (triples
                             .filter((F.col("pred") == RDF_TYPE)
                                     & (F.col("obj") == prop.class_))
                             .select(F.col("subj").alias("obj")).distinct())
                bad = vals.join(instances, on="obj", how="leftanti")
                reports.append(_report(bad, shape, prop, "class",
                                       F.col("obj"), prop.class_))
            if prop.min_length is not None:
                bad = vals.filter(F.length("obj") < prop.min_length)
                reports.append(_report(bad, shape, prop, "minLength",
                                       F.length("obj"),
                                       str(prop.min_length)))
            if prop.max_length is not None:
                bad = vals.filter(F.length("obj") > prop.max_length)
                reports.append(_report(bad, shape, prop, "maxLength",
                                       F.length("obj"),
                                       str(prop.max_length)))
            if prop.has_value is not None:
                # sh:hasValue — the focus node must carry AT LEAST ONE
                # value equal to X on this path: anti-join focus against
                # the matching-value slice
                having = (slice_.filter(F.col("obj") == prop.has_value)
                          .select("focus").distinct())
                bad = focus.join(having, on="focus", how="leftanti")
                reports.append(_report(bad, shape, prop, "hasValue",
                                       F.lit("absent"), prop.has_value))
            if prop.less_than is not None:
                # sh:lessThan — every (v, w) pair across the two paths on
                # one focus must satisfy v < w; numeric when both sides
                # cast, lexicographic when NEITHER does (string/string).
                # A mixed pair (exactly one side numeric) is incomparable
                # and therefore a violation per SHACL §4.5.3 — NOT
                # compared as strings ('10' vs '9x' would pass).
                # One focus-keyed join, fan-out bounded by per-focus
                # value multiplicities (CSVW attributes: tiny).
                other = (triples.filter(F.col("pred") == prop.less_than)
                         .select(F.col("subj").alias("focus"),
                                 F.col("obj").alias("_w")))
                pairs = vals.join(other, on="focus")
                va = F.col("obj").try_cast("double")
                vb = F.col("_w").try_cast("double")
                violates = (
                    F.when(va.isNotNull() & vb.isNotNull(), ~(va < vb))
                    .when(va.isNull() & vb.isNull(),
                          ~(F.col("obj") < F.col("_w")))
                    .otherwise(F.lit(True)))   # incomparable pair
                bad = pairs.filter(violates)
                reports.append(_report(bad, shape, prop, "lessThan",
                                       F.concat_ws(" !< ", "obj", "_w"),
                                       prop.less_than))
            if prop.equals is not None:
                # sh:equals — the two paths' value SETS must coincide per
                # focus: report each value present on exactly one side
                # (two anti-joins on (focus, obj))
                other = (triples.filter(F.col("pred") == prop.equals)
                         .select(F.col("subj").alias("focus"), "obj"))
                mine = vals.select("focus", "obj")
                only_mine = mine.join(other, on=["focus", "obj"],
                                      how="leftanti")
                only_other = (other.join(focus, on="focus", how="leftsemi")
                              .join(mine, on=["focus", "obj"],
                                    how="leftanti"))
                bad = only_mine.unionByName(only_other)
                reports.append(_report(bad, shape, prop, "equals",
                                       F.col("obj"), prop.equals))
            if prop.unique_lang:
                # sh:uniqueLang — no two values of the path may share a
                # language tag; one keyed groupBy on (focus, lang)
                dup = (vals.filter(F.col("obj_lang").isNotNull())
                       .groupBy("focus", "obj_lang")
                       .agg(F.count(F.lit(1)).cast("long").alias("_n"))
                       .filter(F.col("_n") > 1))
                reports.append(_report(dup, shape, prop, "uniqueLang",
                                       F.col("obj_lang"), "unique"))
    if not reports:
        return spark.createDataFrame(
            [], "focus string, shape_id string, path string, "
                "constraint string, actual string, expected string")
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def conformance_summary(report: DataFrame) -> DataFrame:
    """Violations per (shape, path, constraint) — the dashboard row; one
    map-side-combined groupBy over the (already tiny relative to the graph)
    report."""
    return (report.groupBy("shape_id", "path", "constraint")
            .agg(F.count(F.lit(1)).cast("long").alias("n_violations"),
                 F.countDistinct("focus").cast("long").alias("n_focus")))


def shapes_from_json(spec) -> list[NodeShape]:
    """Driver-side shapes loader for the jobs CLI: a JSON list of node
    shapes, each ``{"shape_id": ..., "target_class": ... | null,
    "properties": [{"path": ..., "min_count": ..., "max_count": ...,
    "datatype": ..., "pattern": ..., "in": [...], "node_kind": ...}]}``.
    Unknown keys are rejected loudly — a typo'd constraint silently
    validating nothing is the worst failure mode for a quality gate."""
    if not isinstance(spec, list):
        raise ValueError("shapes spec must be a JSON list of node shapes")
    allowed_node = {"shape_id", "target_class", "properties"}
    allowed_prop = {"path", "min_count", "max_count", "datatype",
                    "has_value", "less_than", "equals",
                    "pattern", "in", "node_kind", "class", "min_length",
                    "max_length", "unique_lang"}
    shapes = []
    for i, node in enumerate(spec):
        extra = set(node) - allowed_node
        if extra or "shape_id" not in node:
            raise ValueError(f"node shape #{i}: unknown keys {sorted(extra)}"
                             if extra else f"node shape #{i}: missing shape_id")
        props = []
        for j, pr in enumerate(node.get("properties", [])):
            extra = set(pr) - allowed_prop
            if extra or "path" not in pr:
                raise ValueError(
                    f"shape {node['shape_id']} property #{j}: "
                    + (f"unknown keys {sorted(extra)}" if extra
                       else "missing path"))
            if pr.get("node_kind") not in (None, "IRI", "Literal"):
                raise ValueError(
                    f"shape {node['shape_id']} property #{j}: node_kind "
                    f"must be 'IRI' or 'Literal', got {pr['node_kind']!r}")
            props.append(PropertyShape(
                path=pr["path"],
                min_count=pr.get("min_count"),
                max_count=pr.get("max_count"),
                datatype=pr.get("datatype"),
                pattern=pr.get("pattern"),
                in_values=tuple(pr["in"]) if pr.get("in") else None,
                node_kind=pr.get("node_kind"),
                class_=pr.get("class"),
                min_length=pr.get("min_length"),
                max_length=pr.get("max_length"),
                unique_lang=bool(pr.get("unique_lang", False)),
                has_value=pr.get("has_value"),
                less_than=pr.get("less_than"),
                equals=pr.get("equals")))
        shapes.append(NodeShape(shape_id=node["shape_id"],
                                target_class=node.get("target_class"),
                                properties=tuple(props)))
    return shapes
