"""Property tests for invariants a single fixture can't pin: fusion's
majority invariant. Spark actions are expensive, so each property batches
ALL its hypothesis examples into ONE DataFrame and a single collect."""

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
