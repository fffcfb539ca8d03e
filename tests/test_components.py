"""connected_components: batched min-label propagation (one action per
rounds_per_check rounds — the stage-3 dominator fix)."""

from pyspark.sql import functions as F

from rdf_tabular_spark.operators.components import (canonical_mapping,
                                                    connected_components)


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "a string, b string")
    rows = connected_components(df, **kw).collect()
    return {r["id"]: r["component"] for r in rows}


def test_chain_spans_multiple_batches(spark):
    # a 12-node chain has diameter 11 — min-label propagation needs ~11
    # rounds, i.e. several 3-round batches before the convergence check hits
    ids = [f"n{i:02d}" for i in range(12)]
    edges = [(ids[i], ids[i + 1]) for i in range(11)]
    comp = _cc(spark, edges)
    assert set(comp.values()) == {"n00"}
    assert len(comp) == 12


def test_two_components_and_min_label(spark):
    comp = _cc(spark, [("b", "c"), ("c", "a"), ("x", "y")])
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_batched_equals_unbatched(spark):
    edges = [("a", "b"), ("b", "c"), ("d", "e"), ("e", "f"), ("f", "a"),
             ("p", "q"), ("r", "s"), ("q", "r")]
    assert _cc(spark, edges, rounds_per_check=1) == \
        _cc(spark, edges, rounds_per_check=4)


def test_canonical_mapping_empty_edges(spark):
    empty = spark.createDataFrame([], "a string, b string")
    assert canonical_mapping(empty).count() == 0


def test_canonical_mapping_driver_tier_matches_distributed(spark):
    edges = [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "a")]
    df = spark.createDataFrame(edges, "a string, b string")
    driver = {(r["id"], r["canonical_id"])
              for r in canonical_mapping(df).collect()}
    dist = {(r["id"], r["canonical_id"])
            for r in canonical_mapping(df, driver_threshold=0).collect()}
    assert driver == dist
    assert ("c", "a") in driver and ("y", "x") in driver


def test_rewrite_triples_rewrites_iri_objects(spark):
    """Stage-3 rewrite must canonicalize IRI objects too (edges between
    pages), while literal objects that merely look like a mapped id are
    left untouched."""
    from rdf_tabular_spark.operators.components import rewrite_triples
    triples = spark.createDataFrame(
        [("http://a/x", "p", "http://a/y", True),
         ("http://a/y", "p", "lit http://a/y", False),
         ("http://a/y", "p", "http://a/z", True)],
        "subj string, pred string, obj string, obj_is_iri boolean")
    mapping = spark.createDataFrame(
        [("http://a/y", "http://a/canon")], "id string, canonical_id string")
    got = {(r["subj"], r["obj"]) for r in
           rewrite_triples(triples, mapping).collect()}
    assert got == {
        ("http://a/x", "http://a/canon"),        # IRI obj rewritten
        ("http://a/canon", "lit http://a/y"),    # literal obj untouched
        ("http://a/canon", "http://a/z"),        # subj rewritten
    }


def test_signature_edges_match_driver_reference(spark):
    """LSH verify (one plain join plan, broadcast picked by AQE) returns
    exactly the candidate pairs whose matching-minhash fraction reaches
    the threshold, computed driver-side from the same signatures."""
    import rdf_tabular_spark.operators.minhash as M
    docs = spark.createDataFrame(
        [(f"s{i}", "tok0|tok1|tok2|tok3|" + (f"x{i}" if i % 2 else "x0"))
         for i in range(30)],
        "subj string, profile string")
    sigs = M.minhash_signatures(docs, "subj", "profile", num_perm=16,
                                token_sep="|").persist()
    held = []
    try:
        got = {(r["a"], r["b"]): r["sim"] for r in
               M.signature_similarity_edges(sigs, num_bands=4, threshold=0.5,
                                            releases=held).collect()}
        cands = {(r["a"], r["b"]) for r in
                 M.lsh_candidate_pairs(sigs, num_bands=4).collect()}
        sig = {r["id"]: r["sig"] for r in sigs.collect()}
    finally:
        for df in held:
            df.unpersist()
        sigs.unpersist()
    want = {}
    for a, b in cands:
        sim = sum(x == y for x, y in zip(sig[a], sig[b])) / len(sig[a])
        if sim >= 0.5:
            want[(a, b)] = sim
    assert got == want and got        # non-empty and identical

def test_canonical_mapping_is_a_local_relation(spark):
    """The driver union-find hands its mapping to the JVM as a
    LocalRelation — no Python parallelize job (PythonRDD) — for an empty
    and for a non-empty edge set."""
    for rows in ([], [("b", "a"), ("c", "b"), ("e", "d")]):
        edges = spark.createDataFrame(rows, "a string, b string")
        m = canonical_mapping(edges)
        qe = m._jdf.queryExecution()
        assert qe.optimizedPlan().getClass().getSimpleName() == \
            "LocalRelation", qe.optimizedPlan().toString()
        assert "PythonRDD" not in qe.toRdd().toDebugString()
        assert {(r["id"], r["canonical_id"]) for r in m.collect()} == (
            {("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d")}
            if rows else set())
