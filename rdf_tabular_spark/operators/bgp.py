"""SPARQL-style basic-graph-pattern (BGP) matching over (subj, pred, obj)
triples — the query-side counterpart of the construction pipeline.

The reference emits RDF for downstream SPARQL stores (rdf-tabular
README.md: "Transform tabular data ... into RDF"); this module closes the
loop inside Spark: a BGP (a conjunction of triple patterns with shared
variables) compiles into a tree of self-joins over the triples DataFrame,
which is exactly how relational SPARQL engines execute BGPs (cf. Neumann &
Weikum, RDF-3X, VLDB 2008 — triple patterns as index scans joined on
shared variables).

Compilation model (single source of truth for Spark AND the DuckDB oracle):
``plan_bgp`` orders the patterns (most-constant-bound first, then greedily
by shared-variable connectivity so no join is ever a cartesian product);
``bgp_match`` executes the plan as DataFrame joins; ``bgp_sql`` emits the
identical plan as ANSI SQL. Because both paths consume the same plan, the
oracle checks the *semantics*, not a hand-transcribed copy.

Scale notes (10^12 triples):
- Each pattern is a filter over the triples scan — constant subject or
  predicate filters push down to the parquet/Iceberg scan (predicate
  columns are min/max-indexed in the graph store's pred_bucket layout,
  sinks/graph_store.py), so a pattern with any constant never reads the
  full graph.
- Joins shuffle on the shared variable(s) — the graph store buckets by
  subject, so subject-variable star joins (the common shape) co-locate and
  the exchange collapses on bucketed reads.
- ``broadcast_patterns`` marks patterns known to bind few rows (e.g. a
  scan over a vocabulary-sized predicate such as entity labels); those
  sides broadcast instead of shuffling the big side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Pattern = tuple[str, str, str]
_POS = ("subj", "pred", "obj")
_POS4 = ("graph", "subj", "pred", "obj")


def _positions(pattern) -> tuple:
    """SPARQL ``GRAPH`` support: a 4-term pattern is a QUAD —
    ``(graph, subj, pred, obj)`` — matched against a relation that carries
    a ``graph`` column (the graph store exposes the source document as
    table_url; batch ids work too). 3-term patterns stay triples."""
    return _POS4 if len(pattern) == 4 else _POS


def _sq(term: str) -> str:
    """SQL string literal for a constant term (single quotes doubled — the
    one escape ANSI, DuckDB, and Spark SQL all share)."""
    return "'" + term.replace("'", "''") + "'"


# Engine-divergent function spellings. Most SPARQL builtins compile to the
# one shared Spark∩DuckDB ANSI subset, but a few have no shared spelling:
# SPARQL REPLACE (fn:replace) substitutes EVERY occurrence — Spark's
# regexp_replace is global already while DuckDB's is first-match unless
# passed the 'g' option — and SHA256 is Spark ``sha2(x, 256)`` vs DuckDB
# ``sha256(x)``. The SPARQL front-end compiles these to neutral MARKER
# tokens; :func:`render_dialect` rewrites them at each engine seam just
# before evaluation (F.expr on the Spark side, SQL-string embedding on the
# DuckDB side). Markers are paired open/close fragments, so nested calls
# rewrite correctly under plain text replacement, and expressions without
# markers (every hand-written filter) pass through byte-identical.
_DIALECT = {
    "spark": (("__replace_g__", ""),
              ("__sha256__(", "sha2("), ("__sha256_end__)", ", 256)"),
              # regex replacement group 1: Java spells it $1, RE2 \1 —
              # used by the term-graph STR() unescape (rdfio/terms.py)
              ("__re_g1__", "'$1'")),
    "duckdb": (("__replace_g__", ", 'g'"),
               ("__sha256__(", "sha256("), ("__sha256_end__)", ")"),
               ("__re_g1__", "'\\1'")),
}


def render_dialect(expr: str, engine: str) -> str:
    """Rewrite neutral dialect markers to the given engine's spelling
    (engine is ``"spark"`` or ``"duckdb"``). Idempotent — a second pass
    finds no markers — so nested SQL emitters may each apply it."""
    for marker, spelling in _DIALECT[engine]:
        expr = expr.replace(marker, spelling)
    return expr


def _is_var(term) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _is_path(term) -> bool:
    """A parsed property-path AST in predicate position (SPARQL allows a
    path wherever a predicate IRI may stand). The AST — not a string — is
    the marker, so IRIs containing path-operator characters ('/', '+')
    are never misread."""
    from .paths import PATH_NODE_TYPES
    return isinstance(term, PATH_NODE_TYPES)


def _vars(pattern: Pattern) -> list[str]:
    """Variable names (without '?') in subj/pred/obj position order,
    deduplicated."""
    out: list[str] = []
    for term in pattern:
        if _is_var(term) and term[1:] not in out:
            out.append(term[1:])
    return out


def plan_bgp(patterns: Sequence[Pattern],
             pred_counts: dict | None = None) -> list[int]:
    """Join order as indices into ``patterns``: start from the pattern with
    the most constants (most selective under the classic bound-term
    heuristic), then repeatedly pick the most-constant pattern that shares
    at least one variable with the already-joined set. Raises ValueError if
    the BGP is disconnected (the join would be a cartesian product).

    ``pred_counts`` upgrades the bound-term heuristic to STATISTICS-DRIVEN
    ordering: a ``{predicate: triple_count}`` map (vocabulary-sized —
    sinks/graph_store.predicate_counts collects it in one pass) breaks ties
    among equally-bound patterns by ascending cardinality, so a
    10-row-predicate leg anchors the join tree before a 10^9-row one.
    Join order never changes results (the operators are joins/filters),
    so the stats-free oracle plan stays a valid cross-check."""
    if not patterns:
        raise ValueError("empty BGP")
    n_const = [sum(0 if _is_var(t) else 1 for t in p) for p in patterns]

    def card(i: int) -> int:
        if pred_counts is None:
            return 0
        pred = patterns[i][-2]
        if _is_var(pred) or _is_path(pred):
            # unbound pred = full graph; a path's closure can likewise
            # reach far beyond any one predicate's count — schedule late
            return sum(pred_counts.values())
        return pred_counts.get(pred, 0)

    key = (lambda i: (n_const[i], -card(i), -i))
    order = [max(range(len(patterns)), key=key)]
    bound = set(_vars(patterns[order[0]]))
    remaining = [i for i in range(len(patterns)) if i != order[0]]
    while remaining:
        connected = [i for i in remaining if bound & set(_vars(patterns[i]))]
        if not connected:
            raise ValueError(
                f"disconnected BGP: patterns {remaining} share no variable "
                f"with the joined set {sorted(bound)} (cartesian product)")
        nxt = max(connected, key=key)
        order.append(nxt)
        bound |= set(_vars(patterns[nxt]))
        remaining.remove(nxt)
    return order


def _pattern_df(triples: DataFrame, pattern: Pattern) -> DataFrame:
    """One triple/quad pattern → filter constants / same-variable
    equalities, project variable positions to variable-named columns. A
    path AST in predicate position evaluates via paths.path_match and
    binds its (src, dst) endpoints to the subject/object terms (3-term
    patterns only — a graph-scoped path would need per-graph closure)."""
    if _is_path(pattern[-2]):
        if len(pattern) == 4:
            raise ValueError(
                "property paths are not supported in quad patterns "
                "(closure would need per-graph evaluation); scope the "
                "graph with a plain quad pattern and join")
        from .paths import path_match
        rel = path_match(triples.select("subj", "pred", "obj"), pattern[1])
        df = rel
        first_pos: dict[str, str] = {}
        for pos, term in zip(("src", "dst"), (pattern[0], pattern[2])):
            if _is_var(term):
                var = term[1:]
                if var in first_pos:     # (?x, path, ?x) — cycle endpoints
                    df = df.filter(F.col(pos) == F.col(first_pos[var]))
                else:
                    first_pos[var] = pos
            else:
                df = df.filter(F.col(pos) == F.lit(term))
        return df.select(*[F.col(pos).alias(v)
                           for v, pos in first_pos.items()])
    df = triples
    first_pos: dict[str, str] = {}
    for pos, term in zip(_positions(pattern), pattern):
        if _is_var(term):
            var = term[1:]
            if var in first_pos:          # (?x, p, ?x) — join within the row
                df = df.filter(F.col(pos) == F.col(first_pos[var]))
            else:
                first_pos[var] = pos
        else:
            df = df.filter(F.col(pos) == F.lit(term))
    return df.select(*[F.col(pos).alias(v) for v, pos in first_pos.items()])


def _group_vars(patterns: Sequence[Pattern]) -> list[str]:
    out: list[str] = []
    for p in patterns:
        for v in _vars(p):
            if v not in out:
                out.append(v)
    return out


def _sql_lit(v) -> str:
    """SQL literal for a VALUES cell (str / int / float / bool / None) —
    rendered identically for the DuckDB oracle and, via F.lit on the
    DataFrame side, for Spark."""
    if v is None:
        return "cast(null as varchar)"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return _sq(v)
    return repr(v)


def _join_group(triples: DataFrame, patterns: Sequence[Pattern],
                broadcast_patterns: Sequence[int],
                scan=None, pred_counts: dict | None = None) -> DataFrame:
    """Inner-join compilation of one BGP group (the body of bgp_match
    before OPTIONAL/FILTER extensions). ``scan(pattern) -> DataFrame``
    overrides the triples relation per pattern — the hook graph-store
    reads use to substitute a partition-pruned scan for constant-predicate
    patterns (sinks/graph_store.bgp_match_store)."""
    order = plan_bgp(patterns, pred_counts=pred_counts)
    result: DataFrame | None = None
    bound: set[str] = set()
    for idx in order:
        rel = scan(patterns[idx]) if scan is not None else triples
        df = _pattern_df(rel, patterns[idx])
        if idx in broadcast_patterns:
            df = F.broadcast(df)
        if result is None:
            result, bound = df, set(_vars(patterns[idx]))
        else:
            shared = sorted(bound & set(_vars(patterns[idx])))
            result = result.join(df, on=shared, how="inner")
            bound |= set(_vars(patterns[idx]))
    return result


def bgp_match(triples: DataFrame, patterns: Sequence[Pattern],
              broadcast_patterns: Sequence[int] = (),
              optionals: Sequence[Sequence[Pattern]] = (),
              values: tuple | None = None,
              exists: Sequence[Sequence[Pattern]] = (),
              minus: Sequence[Sequence[Pattern]] = (),
              binds: Sequence[tuple] = (),
              filters: Sequence[str] = (),
              distinct: bool = False,
              scan=None, pred_counts: dict | None = None) -> DataFrame:
    """Match a BGP against the triples DataFrame; returns one column per
    variable (bag semantics, like SPARQL SELECT without DISTINCT unless
    ``distinct``). ``broadcast_patterns`` lists original pattern indices
    whose binding sets are known small (broadcast-join those sides).

    ``optionals``: each entry is itself a BGP (SPARQL ``OPTIONAL { ... }``)
    left-joined on the variables it shares with the required part —
    unmatched rows carry NULL for the optional-only variables. Each group
    must share ≥1 variable with the required patterns (else the left join
    would be a cartesian product — rejected, same policy as plan_bgp).

    ``filters``: SPARQL ``FILTER`` expressions as SQL boolean strings over
    variable names, restricted to the ANSI subset Spark and DuckDB share
    (comparisons, ``length``, ``and``/``or``, arithmetic) — the SAME string
    is executed by both engines, so the oracle checks the semantics, not a
    transcription. Applied after all joins (simplified scoping: filters see
    the full binding row, incl. optional NULLs — SQL outer-WHERE
    semantics).

    ``minus``: negation groups (SPARQL ``MINUS`` / the shared-variable
    case of ``FILTER NOT EXISTS``): bindings that join a minus-group
    binding on the shared variables are removed — one anti-join each,
    the exact relational shape Spark executes as broadcast/shuffled
    LeftAnti. Each group must share ≥1 variable with the required
    patterns (a disjoint-domain MINUS removes nothing in SPARQL;
    rejected here as almost-certainly a mistake).

    ``values``: SPARQL ``VALUES`` inline data as ``(columns, rows)`` —
    column names without '?', rows as tuples of str/int/float/bool/None
    (None = SPARQL UNDEF: NULL never joins, so an UNDEF cell's row only
    survives via its other columns — document per-column UNDEF is not
    offered). Joined on the columns shared with the bound set (the tiny
    inline table broadcasts); with NO shared column SPARQL prescribes the
    cross product, executed as a broadcast cross join. Columns not already
    bound extend the output schema.

    ``exists``: SPARQL ``FILTER EXISTS`` groups — bindings survive iff
    the group has ≥1 solution joining on the shared variables; one
    LeftSemi join each (the dual of ``minus``). Must share ≥1 variable
    (a disjoint EXISTS is constant true/false — almost certainly a
    mistake, rejected).

    ``binds``: SPARQL ``BIND (expr AS ?var)`` as ``(var, sql_expr)``
    pairs over the shared Spark∩DuckDB ANSI subset (same contract as
    ``filters`` — the identical string runs in both engines). Applied in
    order; later binds and all filters see earlier bind columns.

    Application order (both engines, identically): required joins →
    OPTIONAL → VALUES → EXISTS → MINUS → BIND → FILTER → project."""
    result = _join_group(triples, patterns, broadcast_patterns, scan=scan,
                         pred_counts=pred_counts)
    bound = set(_group_vars(patterns))
    out_vars = _group_vars(patterns)
    for group in optionals:
        gdf = _join_group(triples, group, (), scan=scan,
                          pred_counts=pred_counts)
        gvars = _group_vars(group)
        shared = sorted(bound & set(gvars))
        if not shared:
            raise ValueError(
                f"OPTIONAL group {group} shares no variable with the "
                f"required patterns (cartesian product)")
        result = result.join(gdf, on=shared, how="left")
        bound |= set(gvars)
        out_vars += [v for v in gvars if v not in out_vars]
    if values is not None:
        vcols, vrows = values
        vdf = triples.sparkSession.createDataFrame(
            [tuple(r) for r in vrows], schema=list(vcols))
        shared = sorted(bound & set(vcols))
        if shared:
            result = result.join(F.broadcast(vdf), on=shared, how="inner")
        else:
            result = result.crossJoin(F.broadcast(vdf))
        bound |= set(vcols)
        out_vars += [v for v in vcols if v not in out_vars]
    for group in exists:
        gdf = _join_group(triples, group, (), scan=scan,
                          pred_counts=pred_counts)
        gvars = _group_vars(group)
        shared = sorted(bound & set(gvars))
        if not shared:
            raise ValueError(
                f"EXISTS group {group} shares no variable with the bound "
                f"set (constant-valued EXISTS)")
        result = result.join(gdf.select(*shared), on=shared,
                             how="left_semi")
    for group in minus:
        gdf = _join_group(triples, group, (), scan=scan,
                          pred_counts=pred_counts)
        gvars = _group_vars(group)
        shared = sorted(bound & set(gvars))
        if not shared:
            raise ValueError(
                f"MINUS group {group} shares no variable with the bound "
                f"set (disjoint-domain MINUS is a no-op in SPARQL)")
        result = result.join(gdf.select(*shared), on=shared,
                             how="left_anti")
    for var, expr in binds:
        if var in out_vars:
            raise ValueError(
                f"BIND target {var!r} is already bound (SPARQL requires a "
                f"fresh variable)")
        result = result.withColumn(var, F.expr(render_dialect(expr, "spark")))
        out_vars.append(var)
    for f in filters:
        result = result.filter(F.expr(render_dialect(f, "spark")))
    result = result.select(*out_vars)
    return result.distinct() if distinct else result


def _group_ctes(patterns: Sequence[Pattern], prefix: str,
                triples_sql: str | None = None) -> list[str]:
    """Per-pattern scan CTEs (``{prefix}0``, ``{prefix}1``, ...) in the
    plan_bgp join order. A path-AST predicate nests the paths.path_sql
    query (over ``triples_sql`` — the inner WITH shadows the outer ``t``,
    which both engines scope innermost-first)."""
    order = plan_bgp(patterns)
    subqs: list[str] = []
    for qi, idx in enumerate(order):
        pattern = patterns[idx]
        if _is_path(pattern[-2]):
            if len(pattern) == 4:
                raise ValueError(
                    "property paths are not supported in quad patterns")
            from .paths import path_sql
            if triples_sql is None:
                raise ValueError(
                    "path predicate requires the group's triples_sql")
            inner = path_sql(triples_sql, pattern[1])
            sel, conds = [], []
            first_pos: dict[str, str] = {}
            for pos, term in zip(("src", "dst"), (pattern[0], pattern[2])):
                if _is_var(term):
                    var = term[1:]
                    if var in first_pos:
                        conds.append(f"{pos} = {first_pos[var]}")
                    else:
                        first_pos[var] = pos
                        sel.append(f"{pos} as {var}")
                else:
                    conds.append(f"{pos} = {_sq(term)}")
            where = (" where " + " and ".join(conds)) if conds else ""
            subqs.append(f"{prefix}{qi} as (select {', '.join(sel)} "
                         f"from ({inner}) path_rel{where})")
            continue
        sel = []
        conds = []
        first_pos = {}
        for pos, term in zip(_positions(pattern), pattern):
            if _is_var(term):
                var = term[1:]
                if var in first_pos:
                    conds.append(f"{pos} = {first_pos[var]}")
                else:
                    first_pos[var] = pos
                    sel.append(f"{pos} as {var}")
            else:
                conds.append(f"{pos} = {_sq(term)}")
        where = (" where " + " and ".join(conds)) if conds else ""
        subqs.append(
            f"{prefix}{qi} as (select {', '.join(sel)} from t{where})")
    return subqs


def _group_join_sql(patterns: Sequence[Pattern], prefix: str) -> str:
    order = plan_bgp(patterns)
    joins = [f"{prefix}0"]
    bound = set(_vars(patterns[order[0]]))
    for qi, idx in enumerate(order[1:], start=1):
        shared = sorted(bound & set(_vars(patterns[idx])))
        joins.append(f"join {prefix}{qi} using ({', '.join(shared)})")
        bound |= set(_vars(patterns[idx]))
    return " ".join(joins)


def bgp_sql(triples_sql: str, patterns: Sequence[Pattern],
            optionals: Sequence[Sequence[Pattern]] = (),
            values: tuple | None = None,
            exists: Sequence[Sequence[Pattern]] = (),
            minus: Sequence[Sequence[Pattern]] = (),
            binds: Sequence[tuple] = (),
            filters: Sequence[str] = (),
            distinct: bool = False) -> str:
    """The same plan as ``bgp_match``, emitted as ANSI SQL over a triples
    relation (CTE) — the DuckDB oracle generator. ``optionals`` become
    ``left join`` of the group subquery on the shared variables; ``values``
    a VALUES-list CTE joined (or cross-joined) exactly as the DataFrame
    side; ``exists`` becomes ``semi join``; ``minus`` becomes ``anti
    join``; ``binds`` wrap the join query in projection layers (each layer
    sees the previous binds); ``filters`` are the identical expression
    strings appended as the outer WHERE (exactly where bgp_match applies
    them)."""
    subqs = _group_ctes(patterns, "q", triples_sql=triples_sql)
    joins = _group_join_sql(patterns, "q")
    bound = set(_group_vars(patterns))
    out_vars = _group_vars(patterns)
    for g, group in enumerate(optionals):
        gp = f"g{g}_"
        subqs += _group_ctes(group, gp, triples_sql=triples_sql)
        gvars = _group_vars(group)
        subqs.append(
            f"og{g} as (select {', '.join(gvars)} "
            f"from {_group_join_sql(group, gp)})")
        shared = sorted(bound & set(gvars))
        if not shared:
            raise ValueError(
                f"OPTIONAL group {group} shares no variable with the "
                f"required patterns (cartesian product)")
        joins += f" left join og{g} using ({', '.join(shared)})"
        bound |= set(gvars)
        out_vars += [v for v in gvars if v not in out_vars]
    if values is not None:
        vcols, vrows = values
        rows_sql = ", ".join(
            "(" + ", ".join(_sql_lit(c) for c in row) + ")" for row in vrows)
        subqs.append(f"vals as (select * from (values {rows_sql}) "
                     f"v({', '.join(vcols)}))")
        shared = sorted(bound & set(vcols))
        if shared:
            joins += f" join vals using ({', '.join(shared)})"
        else:
            joins += " cross join vals"
        bound |= set(vcols)
        out_vars += [v for v in vcols if v not in out_vars]
    for g, group in enumerate(exists):
        gp = f"e{g}_"
        subqs += _group_ctes(group, gp, triples_sql=triples_sql)
        gvars = _group_vars(group)
        shared = sorted(bound & set(gvars))
        if not shared:
            raise ValueError(
                f"EXISTS group {group} shares no variable with the bound "
                f"set (constant-valued EXISTS)")
        subqs.append(
            f"eg{g} as (select {', '.join(shared)} "
            f"from {_group_join_sql(group, gp)})")
        joins += f" semi join eg{g} using ({', '.join(shared)})"
    for g, group in enumerate(minus):
        gp = f"m{g}_"
        subqs += _group_ctes(group, gp, triples_sql=triples_sql)
        gvars = _group_vars(group)
        shared = sorted(bound & set(gvars))
        if not shared:
            raise ValueError(
                f"MINUS group {group} shares no variable with the bound "
                f"set (disjoint-domain MINUS is a no-op in SPARQL)")
        subqs.append(
            f"mg{g} as (select {', '.join(shared)} "
            f"from {_group_join_sql(group, gp)})")
        joins += f" anti join mg{g} using ({', '.join(shared)})"
    src = joins
    if binds:
        subqs.append(f"base0 as (select {', '.join(out_vars)} from {joins})")
        for i, (var, expr) in enumerate(binds):
            if var in out_vars:
                raise ValueError(
                    f"BIND target {var!r} is already bound (SPARQL requires "
                    f"a fresh variable)")
            subqs.append(f"base{i + 1} as "
                         f"(select *, {render_dialect(expr, 'duckdb')} "
                         f"as {var} from base{i})")
            out_vars.append(var)
        src = f"base{len(binds)}"
    where = (f"\nwhere "
             + " and ".join(f"({render_dialect(f, 'duckdb')})"
                            for f in filters)
             if filters else "")
    sel = "select distinct" if distinct else "select"
    return (f"with t as ({triples_sql}),\n"
            + ",\n".join(subqs)
            + f"\n{sel} {', '.join(out_vars)} from {src}{where}")


def _norm_aggs(aggs: Sequence[tuple]) -> list[tuple]:
    """Normalize agg specs → ``(alias, spark_expr, duck_expr)``.

    2-tuples ``(alias, sql_expr)`` are raw expressions in the shared
    Spark∩DuckDB ANSI subset (count/sum/min/max/avg, count(distinct x);
    SPARQL SAMPLE is ``min(x)`` — deterministic where the spec allows any
    element). 3/4-tuples ``(alias, 'group_concat', var[, sep])`` cover
    SPARQL GROUP_CONCAT, the one aggregate whose SQL spelling diverges:
    Spark ``concat_ws(sep, sort_array(collect_list(var)))`` vs DuckDB
    ``string_agg(var, sep order by var)`` — both sort, so the
    concatenation order (unspecified in SPARQL) is pinned identically."""
    out = []
    for a in aggs:
        if len(a) == 2:
            alias, expr = a
            out.append((alias, expr, expr))
            continue
        alias, fn, var = a[0], a[1], a[2]
        if fn != "group_concat":
            raise ValueError(f"unknown structured aggregate: {fn}")
        sep = _sq(a[3] if len(a) > 3 else " ")
        out.append((
            alias,
            f"concat_ws({sep}, sort_array(collect_list({var})))",
            f"string_agg({var}, {sep} order by {var})"))
    return out


def bgp_agg(triples: DataFrame, patterns: Sequence[Pattern],
            group_by: Sequence[str], aggs: Sequence[tuple],
            having: Sequence[str] = (), **kwargs) -> DataFrame:
    """SPARQL SELECT aggregation over BGP bindings: GROUP BY the given
    variables, compute ``aggs`` (see :func:`_norm_aggs` — raw shared-SQL
    pairs plus structured GROUP_CONCAT), then apply ``having``
    expressions, which see the aliases (SPARQL HAVING). ``kwargs`` pass
    to bgp_match. One extra shuffle (the groupBy) over the BGP result —
    partial aggregation is map-side, so the exchange carries groups,
    not bindings."""
    bindings = bgp_match(triples, patterns, **kwargs)
    out = bindings.groupBy(*group_by).agg(
        *[F.expr(render_dialect(spark_expr, "spark")).alias(alias)
          for alias, spark_expr, _ in _norm_aggs(aggs)])
    for h in having:
        out = out.filter(F.expr(render_dialect(h, "spark")))
    return out


def bgp_agg_sql(triples_sql: str, patterns: Sequence[Pattern],
                group_by: Sequence[str], aggs: Sequence[tuple],
                having: Sequence[str] = (), **kwargs) -> str:
    """``bgp_agg`` as SQL (DuckDB oracle). HAVING is emitted as an outer
    WHERE over the aggregated subquery so alias references behave
    identically in both engines (post-aggregation filter — the SPARQL
    semantics)."""
    inner = bgp_sql(triples_sql, patterns, **kwargs)
    cols = list(group_by) + [
        f"{render_dialect(duck_expr, 'duckdb')} as {alias}"
        for alias, _, duck_expr in _norm_aggs(aggs)]
    q = f"select {', '.join(cols)} from ({inner}) b"
    if group_by:
        q += f" group by {', '.join(group_by)}"
    if having:
        conds = " and ".join(f"({render_dialect(h, 'duckdb')})"
                             for h in having)
        q = f"select * from ({q}) g where {conds}"
    return q


def bgp_subselect(triples: DataFrame, patterns: Sequence[Pattern],
                  sub_patterns: Sequence[Pattern],
                  group_by: Sequence[str], aggs: Sequence[tuple],
                  having: Sequence[str] = (),
                  broadcast_sub: bool = True, **kwargs) -> DataFrame:
    """SPARQL 1.1 §12 subquery: an inner aggregating SELECT evaluated
    independently, its result joined to the outer BGP's bindings on the
    variables it projects (SPARQL joins solution mappings on shared
    variables — here the inner projection is ``group_by`` + aliases, and
    only ``group_by`` can be shared since aliases are fresh).

    Scale: the classic use is per-group statistics decorating row-level
    bindings ("each doc with its language's doc count"). The inner result
    has one row per group — vocabulary-sized next to the outer bindings —
    so it broadcast-joins by default; pass ``broadcast_sub=False`` when
    the group domain is corpus-sized. ``kwargs`` go to the OUTER
    bgp_match."""
    outer = bgp_match(triples, patterns, **kwargs)
    inner = bgp_agg(triples, sub_patterns, group_by, aggs, having=having)
    if broadcast_sub:
        inner = F.broadcast(inner)
    if not group_by:
        # scalar subquery (global aggregate): SPARQL joins the one-row
        # mapping onto every outer solution — a broadcast cross join
        return outer.crossJoin(inner)
    return outer.join(inner, on=list(group_by))


def bgp_subselect_sql(triples_sql: str, patterns: Sequence[Pattern],
                      sub_patterns: Sequence[Pattern],
                      group_by: Sequence[str], aggs: Sequence[tuple],
                      having: Sequence[str] = (), **kwargs) -> str:
    """``bgp_subselect`` as SQL (DuckDB oracle): outer binding query
    joined USING(group vars) to the aggregated inner query."""
    outer = bgp_sql(triples_sql, patterns, **kwargs)
    inner = bgp_agg_sql(triples_sql, sub_patterns, group_by, aggs,
                        having=having)
    if not group_by:
        return f"select * from ({outer}) o cross join ({inner}) i"
    using = ", ".join(group_by)
    return (f"select * from ({outer}) o join ({inner}) i "
            f"using ({using})")


def bgp_union_match(triples: DataFrame,
                    branches: Sequence[Sequence[Pattern]],
                    distinct: bool = False) -> DataFrame:
    """SPARQL ``UNION``: bag union of the branch BGPs' binding sets.
    Branches may bind different variables — the output schema is the
    ordered union of all branch variables, with NULL for variables a
    branch does not bind (SPARQL's unbound). Each branch is an
    independent scan+join tree, so Spark runs them in parallel and the
    union is a zero-shuffle bag concat."""
    if not branches:
        raise ValueError("empty UNION")
    out_vars: list[str] = []
    for b in branches:
        out_vars += [v for v in _group_vars(b) if v not in out_vars]
    parts = []
    for b in branches:
        df = _join_group(triples, b, ())
        have = set(_group_vars(b))
        parts.append(df.select(*[
            F.col(v) if v in have else F.lit(None).cast("string").alias(v)
            for v in out_vars]))
    result = parts[0]
    for p in parts[1:]:
        result = result.unionByName(p)
    return result.distinct() if distinct else result


def bgp_union_sql(triples_sql: str,
                  branches: Sequence[Sequence[Pattern]],
                  distinct: bool = False) -> str:
    """``bgp_union_match`` as SQL (DuckDB oracle): per-branch CTE trees
    concatenated with UNION ALL (UNION when ``distinct``), NULL-padding
    branch-missing variables."""
    if not branches:
        raise ValueError("empty UNION")
    out_vars: list[str] = []
    for b in branches:
        out_vars += [v for v in _group_vars(b) if v not in out_vars]
    subqs: list[str] = []
    selects: list[str] = []
    for bi, b in enumerate(branches):
        prefix = f"b{bi}_"
        subqs += _group_ctes(b, prefix)
        have = set(_group_vars(b))
        cols = ", ".join(
            v if v in have else f"cast(null as varchar) as {v}"
            for v in out_vars)
        selects.append(f"select {cols} from {_group_join_sql(b, prefix)}")
    setop = "\nunion\n" if distinct else "\nunion all\n"
    return (f"with t as ({triples_sql}),\n" + ",\n".join(subqs)
            + "\n" + setop.join(selects))


def construct(triples: DataFrame, patterns: Sequence[Pattern],
              template: Sequence[Pattern],
              broadcast_patterns: Sequence[int] = (),
              optionals: Sequence[Sequence[Pattern]] = (),
              minus: Sequence[Sequence[Pattern]] = (),
              filters: Sequence[str] = (),
              scan=None, **kwargs) -> DataFrame:
    """SPARQL ``CONSTRUCT``: instantiate ``template`` triple patterns once
    per WHERE-clause binding — the rule-based derivation primitive (e.g.
    rdfs:subClassOf materialization, vocabulary mapping, edge reversal).
    Bindings with an unbound (NULL, from OPTIONAL) variable in a template
    pattern drop that pattern's instantiation, per SPARQL 1.1 §16.2.
    Output is the standard (subj, pred, obj) shape, deduplicated —
    CONSTRUCT produces a graph, and graphs are triple SETS.

    Scale: the WHERE clause is one bgp_match; each template pattern is a
    projection over its bindings (zero extra shuffles beyond the BGP
    joins); the final distinct is the only added exchange — at 10^12
    bindings feed the result through sinks/graph_store dedup-on-write
    instead of collecting."""
    bindings = bgp_match(triples, patterns,
                         broadcast_patterns=broadcast_patterns,
                         optionals=optionals, minus=minus,
                         filters=filters, scan=scan, **kwargs)
    parts = []
    for s, p, o in template:
        cols = [F.col(t[1:]) if _is_var(t) else F.lit(t) for t in (s, p, o)]
        out = bindings.select(cols[0].alias("subj"), cols[1].alias("pred"),
                              cols[2].alias("obj"))
        for pos, t in zip(_POS, (s, p, o)):
            if _is_var(t):
                out = out.filter(F.col(pos).isNotNull())
        parts.append(out)
    result = parts[0]
    for p in parts[1:]:
        result = result.unionByName(p)
    return result.distinct()


def construct_sql(triples_sql: str, patterns: Sequence[Pattern],
                  template: Sequence[Pattern],
                  optionals: Sequence[Sequence[Pattern]] = (),
                  minus: Sequence[Sequence[Pattern]] = (),
                  filters: Sequence[str] = (), **kwargs) -> str:
    """``construct`` as SQL (DuckDB oracle): the bgp_sql binding query as a
    CTE, one SELECT per template pattern with NULL-binding rows filtered,
    UNION (set semantics) across patterns."""
    inner = bgp_sql(triples_sql, patterns, optionals=optionals,
                    minus=minus, filters=filters, **kwargs)
    selects = []
    for s, p, o in template:
        cols = []
        conds = []
        for pos, t in zip(_POS, (s, p, o)):
            if _is_var(t):
                cols.append(f"{t[1:]} as {pos}")
                conds.append(f"{t[1:]} is not null")
            else:
                cols.append(f"{_sq(t)} as {pos}")
        where = (" where " + " and ".join(conds)) if conds else ""
        selects.append(f"select {', '.join(cols)} from b{where}")
    body = "\nunion all\n".join(selects)
    return (f"with b as ({inner})\n"
            f"select distinct subj, pred, obj from (\n{body}\n)")


def ask(triples: DataFrame, patterns: Sequence[Pattern],
        **kwargs) -> bool:
    """SPARQL ``ASK``: does the BGP have at least one solution? Early-out
    via isEmpty (one task per partition until a hit, no full count) —
    the query form the reference uses to validate its own provenance
    output (rdf-tabular spec/reader_spec.rb:125-158). ``kwargs`` pass
    through to bgp_match (optionals/minus/filters/scan)."""
    return not bgp_match(triples, patterns, **kwargs).isEmpty()
