"""Graph query tier: BGP compilation/matching, fixed-iteration PageRank,
semi-naive transitive closure (operators/bgp.py, operators/graph.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdf_tabular_spark.operators import bgp as B
from rdf_tabular_spark.operators import graph as G


def _triples(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


# ---------------------------------------------------------------------------
# BGP
# ---------------------------------------------------------------------------

def test_plan_most_selective_first_then_connected():
    pats = [("?a", "?p", "?b"),            # 0 consts
            ("?b", "knows", "?c"),         # 1 const
            ("?c", "type", "Person")]      # 2 consts
    assert B.plan_bgp(pats) == [2, 1, 0]


def test_plan_disconnected_raises():
    with pytest.raises(ValueError, match="disconnected"):
        B.plan_bgp([("?a", "p", "?b"), ("?x", "q", "?y")])


def test_bgp_star_match(spark):
    t = _triples(spark, [
        ("s1", "type", "Person"), ("s1", "name", "ada"),
        ("s2", "type", "Person"),                       # no name → dropped
        ("s3", "type", "Org"), ("s3", "name", "acme"),  # wrong type
    ])
    out = B.bgp_match(t, [("?x", "type", "Person"), ("?x", "name", "?n")])
    assert out.columns == ["x", "n"]
    assert [tuple(r) for r in out.collect()] == [("s1", "ada")]


def test_bgp_path_match(spark):
    t = _triples(spark, [
        ("a", "mentions", "e1"), ("b", "mentions", "e2"),
        ("e1", "label", "one"),
        ("c", "label", "stray"),   # label without incoming mention
    ])
    out = B.bgp_match(t, [("?d", "mentions", "?e"), ("?e", "label", "?l")])
    assert sorted(map(tuple, out.collect())) == [("a", "e1", "one")]


def test_bgp_repeated_variable_in_pattern(spark):
    t = _triples(spark, [("x", "sameAs", "x"), ("x", "sameAs", "y")])
    out = B.bgp_match(t, [("?s", "sameAs", "?s")])
    assert [tuple(r) for r in out.collect()] == [("x",)]


def test_bgp_variable_predicate(spark):
    t = _triples(spark, [("s", "p1", "o"), ("s", "p2", "o2")])
    out = B.bgp_match(t, [("s", "?p", "?o")])
    assert sorted(map(tuple, out.collect())) == [("p1", "o"), ("p2", "o2")]


def test_bgp_bag_semantics(spark):
    # duplicate triples stay duplicated (SPARQL SELECT without DISTINCT)
    t = _triples(spark, [("s", "p", "o"), ("s", "p", "o")])
    assert B.bgp_match(t, [("?x", "p", "o")]).count() == 2


def test_bgp_broadcast_hint_in_plan(spark):
    t = _triples(spark, [("a", "mentions", "e"), ("e", "label", "l")])
    out = B.bgp_match(t, [("?d", "mentions", "?e"), ("?e", "label", "?l")],
                      broadcast_patterns=[1])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_bgp_sql_matches_dataframe(spark):
    """bgp_sql over an inline relation must produce the same bindings the
    DataFrame path does (same plan, two emitters)."""
    import duckdb
    rows = [("s1", "type", "Person"), ("s1", "name", "ada"),
            ("s2", "type", "Person"), ("s2", "name", "bob"),
            ("s3", "type", "Org"), ("s3", "name", "acme")]
    pats = [("?x", "type", "Person"), ("?x", "name", "?n")]
    spark_out = sorted(map(tuple,
                           B.bgp_match(_triples(spark, rows), pats).collect()))
    values = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in rows)
    sql = B.bgp_sql(
        f"select * from (values {values}) v(subj, pred, obj)", pats)
    ddb_out = sorted(map(tuple, duckdb.sql(sql).fetchall()))
    assert spark_out == ddb_out == [("s1", "ada"), ("s2", "bob")]


def test_bgp_optional_emits_null_bindings(spark):
    """SPARQL OPTIONAL: subjects without the optional triple survive with
    NULL for the optional-only variable."""
    t = _triples(spark, [("d1", "type", "Doc"), ("d1", "wc", "500"),
                         ("d2", "type", "Doc")])
    out = {tuple(r) for r in B.bgp_match(
        t, [("?s", "type", "Doc")],
        optionals=[[("?s", "wc", "?w")]]).collect()}
    assert out == {("d1", "500"), ("d2", None)}


def test_bgp_optional_disconnected_raises(spark):
    t = _triples(spark, [("d1", "type", "Doc")])
    with pytest.raises(ValueError, match="OPTIONAL"):
        B.bgp_match(t, [("?s", "type", "Doc")],
                    optionals=[[("?x", "wc", "?w")]])


def test_bgp_filter_applies_shared_expression(spark):
    t = _triples(spark, [("d1", "name", "alpha"), ("d2", "name", "be")])
    out = B.bgp_match(t, [("?s", "name", "?n")],
                      filters=["length(n) > 2"]).collect()
    assert [tuple(r) for r in out] == [("d1", "alpha")]


def test_bgp_union_null_pads_branch_missing_vars(spark):
    t = _triples(spark, [("d1", "name", "alpha"), ("d1", "lang", "en"),
                         ("d1", "wc", "9")])
    out = {tuple(r) for r in B.bgp_union_match(
        t, [[("?s", "name", "?v")],
            [("?s", "lang", "?v"), ("?s", "wc", "?w")]]).collect()}
    assert out == {("d1", "alpha", None), ("d1", "en", "9")}


def test_bgp_optional_filter_sql_parity(spark):
    """OPTIONAL + FILTER through both emitters — same plan, two engines."""
    import duckdb
    rows = [("d1", "type", "Doc"), ("d1", "name", "alpha"),
            ("d1", "wc", "500"),
            ("d2", "type", "Doc"), ("d2", "name", "gamma"),
            ("d3", "type", "Doc"), ("d3", "name", "no")]
    req = [("?s", "type", "Doc"), ("?s", "name", "?n")]
    opt = [[("?s", "wc", "?w")]]
    filt = ["length(n) > 2"]
    spark_out = sorted(map(tuple, B.bgp_match(
        _triples(spark, rows), req, optionals=opt, filters=filt).collect()))
    values = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in rows)
    sql = B.bgp_sql(f"select * from (values {values}) v(subj, pred, obj)",
                    req, optionals=opt, filters=filt)
    ddb_out = sorted(map(tuple, duckdb.sql(sql).fetchall()))
    assert spark_out == ddb_out == [("d1", "alpha", "500"),
                                    ("d2", "gamma", None)]


def test_bgp_minus_removes_matching_bindings(spark):
    """SPARQL MINUS: bindings joining a minus-group binding on shared
    variables are removed (anti-join)."""
    t = _triples(spark, [("d1", "type", "Doc"), ("d1", "wc", "9"),
                         ("d2", "type", "Doc")])
    out = [tuple(r) for r in B.bgp_match(
        t, [("?s", "type", "Doc")],
        minus=[[("?s", "wc", "?w")]]).collect()]
    assert out == [("d2",)]


def test_bgp_minus_disjoint_raises(spark):
    t = _triples(spark, [("d1", "type", "Doc")])
    with pytest.raises(ValueError, match="MINUS"):
        B.bgp_match(t, [("?s", "type", "Doc")],
                    minus=[[("?x", "wc", "?w")]])


def test_bgp_minus_sql_parity(spark):
    import duckdb
    rows = [("d1", "type", "Doc"), ("d1", "wc", "9"), ("d2", "type", "Doc"),
            ("d3", "type", "Doc"), ("d3", "wc", "1")]
    req = [("?s", "type", "Doc")]
    mns = [[("?s", "wc", "?w")]]
    spark_out = sorted(map(tuple, B.bgp_match(
        _triples(spark, rows), req, minus=mns).collect()))
    values = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in rows)
    sql = B.bgp_sql(f"select * from (values {values}) v(subj, pred, obj)",
                    req, minus=mns)
    ddb_out = sorted(map(tuple, duckdb.sql(sql).fetchall()))
    assert spark_out == ddb_out == [("d2",)]


def test_bgp_values_restricts_and_extends(spark):
    """SPARQL VALUES: shared column restricts, unshared column extends."""
    t = _triples(spark, [("d1", "lang", "en"), ("d2", "lang", "fr"),
                         ("d3", "lang", "de")])
    out = sorted(map(tuple, B.bgp_match(
        t, [("?s", "lang", "?l")],
        values=(["l", "label"],
                [("en", "English"), ("fr", "French")])).collect()))
    assert out == [("d1", "en", "English"), ("d2", "fr", "French")]


def test_bgp_values_undef_cell_never_joins(spark):
    """None = SPARQL UNDEF; NULL never joins, so the UNDEF row drops."""
    t = _triples(spark, [("d1", "lang", "en")])
    out = [tuple(r) for r in B.bgp_match(
        t, [("?s", "lang", "?l")],
        values=(["l"], [("en",), (None,)])).collect()]
    assert out == [("d1", "en")]


def test_bgp_values_disjoint_is_cross_product(spark):
    t = _triples(spark, [("d1", "lang", "en"), ("d2", "lang", "fr")])
    out = B.bgp_match(t, [("?s", "lang", "?l")],
                      values=(["tag"], [("a",), ("b",)]))
    assert out.count() == 4


def test_bgp_exists_keeps_only_matching(spark):
    t = _triples(spark, [("d1", "type", "Doc"), ("d1", "wc", "9"),
                         ("d2", "type", "Doc")])
    out = [tuple(r) for r in B.bgp_match(
        t, [("?s", "type", "Doc")],
        exists=[[("?s", "wc", "?w")]]).collect()]
    assert out == [("d1",)]


def test_bgp_exists_never_multiplies_rows(spark):
    # two wc edges on d1: semi-join must still emit d1 ONCE
    t = _triples(spark, [("d1", "type", "Doc"), ("d1", "wc", "9"),
                         ("d1", "wc", "7")])
    out = [tuple(r) for r in B.bgp_match(
        t, [("?s", "type", "Doc")],
        exists=[[("?s", "wc", "?w")]]).collect()]
    assert out == [("d1",)]


def test_bgp_bind_chained_and_filtered(spark):
    t = _triples(spark, [("d1", "name", "ab"), ("d2", "name", "abcdef")])
    out = [tuple(r) for r in B.bgp_match(
        t, [("?s", "name", "?n")],
        binds=[("n_len", "length(n)"),
               ("band", "case when n_len > 3 then 'long' else 'short' end")],
        filters=["n_len > 2"]).collect()]
    assert out == [("d2", "abcdef", 6, "long")]


def test_bgp_bind_rebind_rejected(spark):
    t = _triples(spark, [("d1", "name", "ab")])
    with pytest.raises(ValueError, match="already bound"):
        B.bgp_match(t, [("?s", "name", "?n")], binds=[("n", "upper(n)")])


def test_bgp_values_exists_bind_sql_parity(spark):
    import duckdb
    rows = [("d1", "type", "Doc"), ("d1", "lang", "en"), ("d1", "wc", "9"),
            ("d2", "type", "Doc"), ("d2", "lang", "fr"),
            ("d3", "type", "Doc"), ("d3", "lang", "en"), ("d3", "wc", "2")]
    req = [("?s", "type", "Doc"), ("?s", "lang", "?l")]
    kwargs = dict(values=(["l", "label"], [("en", "English")]),
                  exists=[[("?s", "wc", "?w")]],
                  binds=[("tag", "l || '-' || label")],
                  filters=["length(tag) > 3"])
    spark_out = sorted(map(tuple, B.bgp_match(
        _triples(spark, rows), req, **kwargs).collect()))
    values = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in rows)
    sql = B.bgp_sql(f"select * from (values {values}) v(subj, pred, obj)",
                    req, **kwargs)
    ddb_out = sorted(map(tuple, duckdb.sql(sql).fetchall()))
    assert spark_out == ddb_out == [("d1", "en", "English", "en-English"),
                                    ("d3", "en", "English", "en-English")]


def _quads(spark, rows):
    return spark.createDataFrame(
        rows, "graph string, subj string, pred string, obj string")


def test_quad_pattern_binds_graph_variable(spark):
    rows = [("g1", "s1", "type", "Doc"), ("g1", "s1", "name", "a"),
            ("g2", "s2", "type", "Doc"), ("g3", "s2", "name", "b")]
    # type and name must come from the SAME graph: s2's name is in g3
    out = sorted(map(tuple, B.bgp_match(
        _quads(spark, rows),
        [("?g", "?s", "type", "Doc"), ("?g", "?s", "name", "?n")])
        .collect()))
    assert out == [("g1", "s1", "a")]


def test_quad_constant_graph_filters(spark):
    rows = [("g1", "s1", "p", "x"), ("g2", "s1", "p", "y")]
    out = [tuple(r) for r in B.bgp_match(
        _quads(spark, rows), [("g2", "?s", "p", "?o")]).collect()]
    assert out == [("s1", "y")]


def test_quad_sql_parity(spark):
    import duckdb
    rows = [("g1", "s1", "type", "Doc"), ("g1", "s1", "name", "a"),
            ("g2", "s2", "type", "Doc"), ("g3", "s2", "name", "b")]
    pats = [("?g", "?s", "type", "Doc"), ("?g", "?s", "name", "?n")]
    spark_out = sorted(map(tuple, B.bgp_match(
        _quads(spark, rows), pats).collect()))
    values = ", ".join(f"('{g}', '{s}', '{p}', '{o}')"
                       for g, s, p, o in rows)
    sql = B.bgp_sql(
        f"select * from (values {values}) v(graph, subj, pred, obj)", pats)
    assert spark_out == sorted(map(tuple, duckdb.sql(sql).fetchall()))


def test_quad_path_predicate_rejected(spark):
    from rdf_tabular_spark.operators.paths import parse_path
    with pytest.raises(ValueError, match="quad"):
        B.bgp_match(_quads(spark, [("g", "s", "p", "o")]),
                    [("?g", "?s", parse_path("p+"), "?o")])


def test_construct_drops_unbound_template_patterns(spark):
    """SPARQL 16.2: a template pattern with an unbound variable is skipped
    for that binding (not emitted with NULL)."""
    t = _triples(spark, [("d1", "type", "Doc"), ("d1", "wc", "9"),
                         ("d2", "type", "Doc")])
    out = {tuple(r) for r in B.construct(
        t, [("?s", "type", "Doc")],
        [("?s", "kind", "document"), ("?s", "len", "?w")],
        optionals=[[("?s", "wc", "?w")]]).collect()}
    assert out == {("d1", "kind", "document"), ("d2", "kind", "document"),
                   ("d1", "len", "9")}


def test_construct_output_is_a_set(spark):
    # two bindings instantiate the same triple -> one output row
    t = _triples(spark, [("d1", "p", "a"), ("d1", "p", "b")])
    out = B.construct(t, [("?s", "p", "?o")],
                      [("?s", "type", "Thing")]).collect()
    assert [tuple(r) for r in out] == [("d1", "type", "Thing")]


def test_construct_sql_parity(spark):
    import duckdb
    rows = [("d1", "type", "Doc"), ("d1", "wc", "9"), ("d2", "type", "Doc")]
    req = [("?s", "type", "Doc")]
    tmpl = [("?s", "kind", "document"), ("?s", "len", "?w")]
    opt = [[("?s", "wc", "?w")]]
    spark_out = sorted(map(tuple, B.construct(
        _triples(spark, rows), req, tmpl, optionals=opt).collect()))
    values = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in rows)
    sql = B.construct_sql(
        f"select * from (values {values}) v(subj, pred, obj)",
        req, tmpl, optionals=opt)
    ddb_out = sorted(map(tuple, duckdb.sql(sql).fetchall()))
    assert spark_out == ddb_out


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------

def _ref_pagerank(edges, n_iter=3, d=0.85):
    """Driver-side reference with the operator's exact float semantics."""
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    n = len(nodes)
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = {v: 1.0 / n for v in nodes}
    base = (1.0 - d) / n
    for _ in range(n_iter):
        c = {}
        for s, t in edges:
            c[t] = c.get(t, 0.0) + r[s] / out[s]
        r = {v: base + d * c.get(v, 0.0) for v in nodes}
    return r


def test_pagerank_matches_reference(spark):
    edges = [("a", "b"), ("b", "a"), ("c", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank"] for r in G.pagerank(df, n_iter=3).collect()}
    assert got == _ref_pagerank(edges)


def test_pagerank_dangling_absorbs_mass(spark):
    # b has no out-edges: total mass shrinks (documented simplified variant)
    edges = [("a", "b")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank"] for r in G.pagerank(df, n_iter=2).collect()}
    ref = _ref_pagerank(edges, n_iter=2)
    assert got == ref
    assert sum(got.values()) < 1.0


def test_pagerank_sql_literals_are_repr_exact():
    sql = G.pagerank_sql("select 'a' as src, 'b' as dst", damping=0.85)
    # 1 - 0.85 in IEEE doubles is NOT 0.15 — the oracle must carry the
    # bit-exact constant, not the decimal-pretty one
    assert "0.15000000000000002" in sql
    assert "cast('0.85' as double)" in sql


# ---------------------------------------------------------------------------
# transitive closure
# ---------------------------------------------------------------------------

def _ref_closure(edges):
    reach = set(edges)
    while True:
        new = {(a, d) for a, b in reach for c, d in edges if b == c} - reach
        if not new:
            return reach
        reach |= new


def test_closure_chain(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = set(map(tuple, G.transitive_closure(df).collect()))
    assert got == _ref_closure(edges)
    assert ("a", "d") in got


def test_closure_cycle_terminates(spark):
    edges = [("a", "b"), ("b", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = set(map(tuple, G.transitive_closure(df).collect()))
    assert got == {("a", "b"), ("b", "a"), ("a", "a"), ("b", "b")}


def test_closure_diamond_dedups(spark):
    # two paths a→d must yield ONE (a, d) pair (set semantics)
    edges = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = G.transitive_closure(df)
    assert out.count() == out.distinct().count()
    assert set(map(tuple, out.collect())) == _ref_closure(edges)


def test_closure_doubling_equals_semi_naive(spark):
    import random
    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(12)]
    edges = {(rng.choice(nodes), rng.choice(nodes)) for _ in range(18)}
    e = spark.createDataFrame(sorted(edges), "src string, dst string")
    a = {tuple(r) for r in G.transitive_closure(e).collect()}
    b = {tuple(r) for r in G.transitive_closure_doubling(e).collect()}
    assert a == b and a


def test_closure_doubling_deep_chain_few_rounds(spark):
    # a 40-deep chain closes within max_iter=6 (2^6 = 64 >= 40) -- the
    # whole point of the doubling tier
    e = spark.createDataFrame([(f"v{i}", f"v{i+1}") for i in range(40)],
                              "src string, dst string")
    out = G.transitive_closure_doubling(e, max_iter=6)
    assert out.count() == 40 * 41 // 2


def test_bgp_sql_escapes_quoted_constants(spark):
    """A constant term containing a single quote must survive both
    emitters (SQL literals are doubled-quote escaped)."""
    import duckdb
    rows = [("s", "p", "O'Brien"), ("s2", "p", "other")]
    pats = [("?x", "p", "O'Brien")]
    spark_out = [tuple(r) for r in B.bgp_match(
        _triples(spark, rows), pats).collect()]
    tsql = ("select * from (values ('s', 'p', 'O''Brien'), "
            "('s2', 'p', 'other')) v(subj, pred, obj)")
    ddb_out = duckdb.sql(B.bgp_sql(tsql, pats)).fetchall()
    assert spark_out == ddb_out == [("s",)]


def test_plan_bgp_statistics_driven_ordering():
    """With predicate cardinalities the planner anchors the join tree on
    the smallest leg; without them it falls back to bound-term + index."""
    pats = [("?x", "big", "?y"), ("?x", "small", "?z")]
    assert B.plan_bgp(pats) == [0, 1]
    assert B.plan_bgp(pats, pred_counts={"big": 1_000_000, "small": 10}) \
        == [1, 0]
    # an unbound-predicate leg estimates as the whole graph -> last
    pats2 = [("?x", "?p", "?y"), ("?x", "small", "?z")]
    assert B.plan_bgp(pats2, pred_counts={"small": 10})[0] == 1


def test_bgp_match_pred_counts_same_results(spark):
    rows = [("a", "big", "b"), ("a", "small", "c"), ("b", "small", "a")]
    pats = [("?x", "big", "?y"), ("?x", "small", "?z")]
    t = _triples(spark, rows)
    plain = sorted(map(tuple, B.bgp_match(t, pats).collect()))
    stats = sorted(map(tuple, B.bgp_match(
        t, pats, pred_counts={"big": 9, "small": 1}).collect()))
    assert plain == stats == [("a", "b", "c")]


def test_describe_cbd_bnode_closure(spark):
    """DESCRIBE must pull the seed's triples plus transitive bnode
    subtrees, and stop at IRI boundaries."""
    t = _triples(spark, [
        ("http://d/1", "stats", "_:s1"),
        ("_:s1", "n", "42"),
        ("_:s1", "next", "_:s2"),
        ("_:s2", "deep", "ok"),
        ("_:s1", "link", "http://other"),     # IRI object: boundary
        ("http://other", "secret", "x"),       # must NOT be described
        ("http://d/2", "stats", "_:z1"),       # unseeded subject
    ])
    seeds = spark.createDataFrame([("http://d/1",)], "node string")
    out = {tuple(r) for r in G.describe(t, seeds).collect()}
    assert out == {("http://d/1", "stats", "_:s1"),
                   ("_:s1", "n", "42"),
                   ("_:s1", "next", "_:s2"),
                   ("_:s2", "deep", "ok"),
                   ("_:s1", "link", "http://other")}


def test_describe_sql_parity(spark):
    import duckdb
    rows = [("http://d/1", "stats", "_:s1"), ("_:s1", "n", "42"),
            ("http://d/2", "stats", "_:z1"), ("_:z1", "m", "7")]
    seeds = spark.createDataFrame([("http://d/1",)], "node string")
    spark_out = sorted(map(tuple, G.describe(
        _triples(spark, rows), seeds).collect()))
    values = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in rows)
    sql = G.describe_sql(
        f"select * from (values {values}) v(subj, pred, obj)",
        "select 'http://d/1' as node")
    ddb_out = sorted(map(tuple, duckdb.sql(sql).fetchall()))
    assert spark_out == ddb_out == [("_:s1", "n", "42"),
                                    ("http://d/1", "stats", "_:s1")]


def test_bgp_path_predicate_parity(spark):
    """A parsed path AST in predicate position: evaluated via path_match,
    joined with plain patterns on shared variables — both emitters."""
    import duckdb
    from rdf_tabular_spark.operators.paths import parse_path
    rows = [("a", "parent", "b"), ("b", "parent", "c"),
            ("c", "label", "root")]
    pats = [("?x", parse_path("parent+"), "?a"), ("?a", "label", "?l")]
    spark_out = sorted(map(tuple, B.bgp_match(
        _triples(spark, rows), pats).collect()))
    values = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in rows)
    sql = B.bgp_sql(f"select * from (values {values}) v(subj, pred, obj)",
                    pats)
    ddb_out = sorted(map(tuple, duckdb.sql(sql).fetchall()))
    assert spark_out == ddb_out == [("a", "c", "root"), ("b", "c", "root")]


def test_bgp_path_predicate_constant_endpoint(spark):
    from rdf_tabular_spark.operators.paths import parse_path
    rows = [("a", "parent", "b"), ("b", "parent", "c")]
    out = [tuple(r) for r in B.bgp_match(
        _triples(spark, rows), [("?x", parse_path("parent+"), "c")])
        .collect()]
    assert sorted(out) == [("a",), ("b",)]


def test_bgp_agg_group_having_sql_parity(spark):
    import duckdb
    rows = [("d1", "lang", "en"), ("d2", "lang", "en"), ("d3", "lang", "fr"),
            ("d1", "name", "abc"), ("d2", "name", "defgh"),
            ("d3", "name", "x")]
    pats = [("?s", "lang", "?l"), ("?s", "name", "?n")]
    group, aggs = ["l"], [("n_docs", "count(*)"),
                          ("max_len", "max(length(n))")]
    having = ["n_docs >= 2"]
    out = [tuple(r) for r in B.bgp_agg(
        _triples(spark, rows), pats, group, aggs, having=having).collect()]
    assert out == [("en", 2, 5)]
    values = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in rows)
    sql = B.bgp_agg_sql(
        f"select * from (values {values}) v(subj, pred, obj)",
        pats, group, aggs, having=having)
    assert sorted(map(tuple, duckdb.sql(sql).fetchall())) == out


def test_reliable_checkpoint_path(spark, tmp_path):
    """Opt-in reliable checkpoint: the iterative operators accept
    checkpoint_dir= and produce identical results through checkpoint()
    (files actually land in the directory; default behavior unchanged)."""
    import os
    from rdf_tabular_spark.operators.components import connected_components
    from rdf_tabular_spark.operators.graph import transitive_closure
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "src string, dst string")
    ckdir = str(tmp_path / "ck")
    local = {(r.src, r.dst) for r in transitive_closure(edges).collect()}
    reliable = {(r.src, r.dst)
                for r in transitive_closure(edges,
                                             checkpoint_dir=ckdir).collect()}
    assert local == reliable and ("a", "d") in reliable
    assert any(os.scandir(ckdir)), "reliable checkpoint wrote nothing"

    cc_edges = spark.createDataFrame([("a", "b"), ("b", "c"), ("x", "y")],
                                     "a string, b string")
    cc = {(r.id, r.component)
          for r in connected_components(
              cc_edges, checkpoint_dir=str(tmp_path / "ck2")).collect()}
    assert cc == {("a", "a"), ("b", "a"), ("c", "a"),
                  ("x", "x"), ("y", "x")}


def test_bfs_distances(spark):
    """Frontier BFS: true min hop-distances, unreachable nodes absent,
    cycles terminate, multi-source takes the nearer source."""
    from rdf_tabular_spark.operators.graph import bfs_distances
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),      # cycle
         ("b", "d"), ("d", "e"), ("s2", "e"),
         ("x", "y")],                              # disconnected
        "src string, dst string")
    src = spark.createDataFrame([("a",), ("s2",)], "node string")
    out = {r["node"]: r["dist"] for r in bfs_distances(edges, src).collect()}
    assert out == {"a": 0, "s2": 0, "b": 1, "c": 2, "d": 2,
                   "e": 1}  # e via s2 (1), not via a->b->d->e (3)
    assert "x" not in out and "y" not in out


def test_degree_histogram(spark):
    from rdf_tabular_spark.operators.graph import degree_histogram
    t = spark.createDataFrame(
        [("s1", "p", "o1"), ("s1", "p", "o2"), ("s2", "p", "o1"),
         ("s3", "q", "o1"), ("s3", "q", "o2")],
        "subj string, pred string, obj string")
    out = {r["degree"]: r["n_subjects"] for r in degree_histogram(t).collect()}
    assert out == {2: 2, 1: 1}


def test_negative_samples(spark):
    """Deterministic TransE-style corruption: k rows per triple (minus
    true-tail collisions), tails drawn from the subject pool, reproducible
    across invocations."""
    from rdf_tabular_spark.operators.graph import negative_samples
    t = spark.createDataFrame(
        [("e1", "p", "e2"), ("e2", "p", "e3"), ("e3", "q", "e1"),
         ("e4", "p", "e1")],
        "subj string, pred string, obj string")
    out = negative_samples(t, k=3).collect()
    pool = {"e1", "e2", "e3", "e4"}
    assert all(r["neg_obj"] in pool for r in out)
    assert all(r["neg_obj"] != dict(
        [(("e1", "p"), "e2"), (("e2", "p"), "e3"),
         (("e3", "q"), "e1"), (("e4", "p"), "e1")])[(r["subj"], r["pred"])]
        for r in out)
    # per-triple count ≤ k, and the bulk of corruptions survive the filter
    from collections import Counter
    per = Counter((r["subj"], r["pred"]) for r in out)
    assert all(v <= 3 for v in per.values()) and sum(per.values()) >= 8
    # reproducible
    again = negative_samples(t, k=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_hits_hand_computed(spark):
    """HITS on a tiny hub/authority graph matches the hand-unrolled
    recurrence: h1,h2 both link to a1,a2 (h1 also to a3)."""
    from rdf_tabular_spark.operators.graph import hits
    edges = spark.createDataFrame(
        [("h1", "a1"), ("h1", "a2"), ("h1", "a3"),
         ("h2", "a1"), ("h2", "a2")], "src string, dst string")
    got = {r["node"]: (r["hub"], r["auth"]) for r in hits(edges, n_iter=1).collect()}
    # iter 1: auth = indeg (a1=2, a2=2, a3=1); hub = sum of auths linked
    assert got["a1"] == (0, 2) and got["a2"] == (0, 2) and got["a3"] == (0, 1)
    assert got["h1"] == (5, 0)   # 2+2+1
    assert got["h2"] == (4, 0)   # 2+2
    got2 = {r["node"]: (r["hub"], r["auth"]) for r in hits(edges, n_iter=2).collect()}
    # iter 2: auth(a1) = h1+h2 = 9, auth(a3) = h1 = 5; hub(h1) = 9+9+5
    assert got2["a1"] == (0, 9) and got2["a3"] == (0, 5)
    assert got2["h1"] == (23, 0) and got2["h2"] == (18, 0)


def test_random_walks_deterministic_picks(spark):
    """Walks follow real edges, stop at sinks, and the md5 edge pick is
    reproducible (hand-computed for a fan-out node)."""
    import hashlib

    from rdf_tabular_spark.operators.graph import random_walks
    edges = spark.createDataFrame(
        [("A", "B"), ("A", "C"), ("B", "D")], "src string, dst string")
    out = random_walks(edges, length=2, walks_per_node=1).collect()
    rows = {(r["start"], r["walk"], r["step"]): r["node"] for r in out}
    # step 0 emits every node
    assert {k[0] for k in rows} == {"A", "B", "C", "D"}
    # hand-compute A's step-1 pick: rank = md5("A|0|1")[:8] % outdeg(2);
    # ranked out-edges of A sorted by dst: 0=B, 1=C
    pick = int(hashlib.md5(b"A|0|1").hexdigest()[:8], 16) % 2
    assert rows[("A", 0, 1)] == ["B", "C"][pick]
    # C and D are sinks: no step-1 rows
    assert ("C", 0, 1) not in rows and ("D", 0, 1) not in rows
    # B's only edge goes to D, then stops
    assert rows[("B", 0, 1)] == "D"
    assert ("B", 0, 2) not in rows
    # determinism: a second run is identical
    again = {(r["start"], r["walk"], r["step"]): r["node"]
             for r in random_walks(edges, length=2, walks_per_node=1).collect()}
    assert again == rows


# ---------------------------------------------------------------------------
# triangle counting + neighborhood Jaccard
# ---------------------------------------------------------------------------

def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string")


def test_triangle_counts_k4(spark):
    # K4: every node is in C(3,2)=3 triangles; 4 triangles total
    nodes = ["a", "b", "c", "d"]
    e = _edges(spark, [(x, y) for x in nodes for y in nodes if x < y])
    got = {r["node"]: r["n_triangles"] for r in G.triangle_counts(e).collect()}
    assert got == {n: 3 for n in nodes}


def test_triangle_counts_square_with_diagonal(spark):
    # square a-b-c-d-a plus diagonal a-c: triangles {a,b,c} and {a,c,d};
    # direction, duplicates and self-loops must not change the count
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
                       ("a", "c"), ("c", "a"), ("b", "a"), ("b", "b")])
    got = {r["node"]: r["n_triangles"] for r in G.triangle_counts(e).collect()}
    assert got == {"a": 2, "b": 1, "c": 2, "d": 1}


def test_triangle_counts_triangle_free(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    got = {r["node"]: r["n_triangles"] for r in G.triangle_counts(e).collect()}
    assert got == {"a": 0, "b": 0, "c": 0, "d": 0}


def test_neighbor_jaccard_values(spark):
    # N(a)={x,y}, N(b)={x,y}, N(c)={y,z} → (a,b)=2/2=1, (a,c)=(b,c)=1/3
    e = _edges(spark, [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"),
                       ("c", "y"), ("c", "z")])
    got = {(r["node_a"], r["node_b"]): (r["n_shared"], r["jaccard"])
           for r in G.neighbor_jaccard(e).collect()}
    assert got == {("a", "b"): (2, 1.0),
                   ("a", "c"): (1, round(1 / 3, 6)),
                   ("b", "c"): (1, round(1 / 3, 6))}


def test_neighbor_jaccard_super_node_cap(spark):
    # every node links to hub h; capping h's in-degree removes the
    # quadratic hub-only pairs and the hub's contribution to degrees
    rows = [(f"n{i}", "h") for i in range(6)] + [("n0", "x"), ("n1", "x")]
    e = _edges(spark, rows)
    capped = G.neighbor_jaccard(e, max_dst_in_degree=3)
    got = {(r["node_a"], r["node_b"]): (r["n_shared"], r["jaccard"])
           for r in capped.collect()}
    # only the x-sharing pair survives, and h no longer counts in degrees
    assert got == {("n0", "n1"): (1, 1.0)}
    uncapped = G.neighbor_jaccard(e).count()
    assert uncapped == 15 + 1 - 1  # C(6,2) hub pairs, n0-n1 merged with x


def test_label_propagation_two_cliques_bridge(spark):
    # two triangles joined by one bridge edge: after 3 sync rounds the
    # left clique is labeled 'a' and the right one 'c' (the bridge node's
    # round-1 label seeds the right clique — synchronous LPA semantics)
    e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"),
                       ("x", "y"), ("y", "z"), ("x", "z"),
                       ("c", "x")])
    got = {r["node"]: r["label"]
           for r in G.label_propagation(e, n_iter=3).collect()}
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["x"] == got["y"] == got["z"] == "c"


def test_label_propagation_deterministic_ties(spark):
    # star: center's neighbors all tie at count 1 → min label wins;
    # leaves adopt the center's label in round 1 and keep a stable
    # 2-coloring under synchronous updates — exactly reproducible
    e = _edges(spark, [("c", "l1"), ("c", "l2"), ("c", "l3")])
    r1 = {(r["node"], r["label"])
          for r in G.label_propagation(e, n_iter=2).collect()}
    r2 = {(r["node"], r["label"])
          for r in G.label_propagation(e, n_iter=2).collect()}
    assert r1 == r2
    labs = dict(r1)
    assert labs["c"] == "c"           # round 2: all neighbors carry 'c'
    assert labs["l1"] == labs["l2"] == labs["l3"] == "l1"  # sync swap


def test_bfs_per_seed_and_harmonic(spark):
    from rdf_tabular_spark.operators.graph import (bfs_per_seed,
                                                   harmonic_centrality_sampled)
    # path a -> b -> c -> d plus seed e -> c
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("e", "c")],
        "src string, dst string")
    seeds = spark.createDataFrame([("a",), ("e",)], "node string")
    d = {(r["seed"], r["node"]): r["dist"]
         for r in bfs_per_seed(edges, seeds, max_hops=3).collect()}
    assert d[("a", "b")] == 1 and d[("a", "c")] == 2 and d[("a", "d")] == 3
    assert d[("e", "c")] == 1 and d[("e", "d")] == 2
    assert ("e", "b") not in d
    h = {r["node"]: (r["harmonic_x"], r["n_seeds"])
         for r in harmonic_centrality_sampled(edges, seeds,
                                              max_hops=3).collect()}
    # L = lcm(1..3) = 6: c <- 6/2 (from a) + 6/1 (from e) = 9
    assert h["c"] == (9, 2)
    assert h["d"] == (6 // 3 + 6 // 2, 2)
    assert h["b"] == (6, 1)


def test_predicate_cardinality_flags(spark):
    from rdf_tabular_spark.operators.graph import predicate_cardinality
    rows = [
        # p_fun: every subject exactly one object; objects shared -> not IFP
        ("s1", "p_fun", "x"), ("s2", "p_fun", "x"), ("s3", "p_fun", "y"),
        # p_multi: s1 has two values -> 1/2 single < 99%
        ("s1", "p_multi", "a"), ("s1", "p_multi", "b"), ("s2", "p_multi", "c"),
        # p_id: unique both ways -> functional AND inverse-functional
        ("s1", "p_id", "i1"), ("s2", "p_id", "i2"),
    ]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = {r["pred"]: r for r in predicate_cardinality(df).collect()}
    assert out["p_fun"]["is_functional"] and \
        not out["p_fun"]["is_inverse_functional"]
    assert not out["p_multi"]["is_functional"]
    assert out["p_id"]["is_functional"] and \
        out["p_id"]["is_inverse_functional"]
    assert out["p_fun"]["n_subjects"] == 3 and out["p_fun"]["n_objects"] == 2
    assert out["p_multi"]["n_triples"] == 3 and \
        out["p_multi"]["n_single_subj"] == 1


def test_component_sizes_histogram(spark):
    from rdf_tabular_spark.operators.components import connected_components
    from pyspark.sql import functions as F
    # two triangles-ish stars + one pair
    edges = spark.createDataFrame(
        [("a1", "a0"), ("a2", "a0"), ("b1", "b0"), ("b2", "b0"),
         ("c1", "c0")],
        "a string, b string")
    cc = connected_components(edges)
    sizes = (cc.groupBy("component").agg(F.count("*").alias("sz"))
             .groupBy("sz").agg(F.count("*").alias("n")).collect())
    out = {r["sz"]: r["n"] for r in sizes}
    assert out == {3: 2, 2: 1}


def test_schema_drift_detects_dropped_predicate(spark):
    from rdf_tabular_spark.operators.graph import schema_drift
    a = spark.createDataFrame(
        [("s1", "v#name", "x"), ("s1", "v#age", "1"),
         ("s2", "v#name", "y"), ("s2", "v#age", "2")],
        "subj string, pred string, obj string")
    # snapshot b: age vanished from s2 -> a new, smaller shape appears
    b = spark.createDataFrame(
        [("s1", "v#name", "x"), ("s1", "v#age", "1"), ("s2", "v#name", "y")],
        "subj string, pred string, obj string")
    out = {r["cs"]: (r["n_a"], r["n_b"], r["delta"])
           for r in schema_drift(a, b).collect()}
    assert out["age name"] == (2, 1, -1)
    assert out["name"] == (0, 1, 1)


def test_pred_value_profiles_numeric_fraction(spark):
    from rdf_tabular_spark.operators.graph import pred_value_profiles
    t = spark.createDataFrame(
        [("s1", "v#n", "12"), ("s2", "v#n", "oops"), ("s3", "v#n", "3.5"),
         ("s1", "v#name", "ab")],
        "subj string, pred string, obj string")
    out = {r["prop"]: r for r in pred_value_profiles(t).collect()}
    n = out["n"]
    assert (n["n_values"], n["n_numeric"]) == (3, 2)
    assert (n["min_len"], n["max_len"], n["total_len"]) == (2, 4, 9)
    assert out["name"]["n_numeric"] == 0


def test_query_job_schema_drift_since(spark, tmp_path):
    """--schema-drift-since surfaces shape changes between two commits."""
    import time as _time

    from rdf_tabular_spark.jobs.query import main as query_main
    from rdf_tabular_spark.sinks.graph_store import materialize
    root = str(tmp_path / "store")
    df1 = spark.createDataFrame(
        [("s1", "v#name", "x", False, None, None, "u", 0),
         ("s1", "v#age", "1", False, None, None, "u", 0)],
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, obj_lang string, table_url string, "
        "source_num long")
    materialize(df1, root, "b1")
    t0 = _time.strftime("%Y-%m-%dT%H:%M:%SZ", _time.gmtime())
    _time.sleep(1.1)
    df2 = df1.selectExpr("'s2' as subj", "'v#name' as pred", "obj",
                         "obj_is_iri", "obj_datatype", "obj_lang",
                         "table_url", "source_num").limit(1)
    materialize(df2, root, "b2")
    s = query_main(["--store", root, "--schema-drift-since", t0])
    assert s["n_changed_shapes"] == 1
    assert s["top"][0]["cs"] == "name" and s["top"][0]["delta"] == 1


def test_star_cardinality_estimate_exact_for_distinct_stars(spark):
    from rdf_tabular_spark.operators.graph import star_cardinality_estimate
    t = spark.createDataFrame(
        [("s1", "v#a", "1"), ("s1", "v#b", "2"),
         ("s2", "v#a", "3"), ("s2", "v#b", "4"),
         ("s3", "v#a", "5"),                      # a only
         ("s4", "v#b", "6"), ("s4", "v#c", "7")],
        "subj string, pred string, obj string")
    r = star_cardinality_estimate(t, ("a", "b")).collect()[0]
    assert r["props"] == "a b"
    assert r["estimated"] == r["actual"] == 2
    # a pattern nobody matches estimates (and counts) zero
    r0 = star_cardinality_estimate(t, ("a", "zz")).collect()[0]
    assert r0["estimated"] == r0["actual"] == 0
