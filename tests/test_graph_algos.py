"""Graph query tier: BGP compilation/matching, semi-naive transitive
closure, DESCRIBE and lineage checkpoints (operators/bgp.py,
operators/graph.py)."""

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
