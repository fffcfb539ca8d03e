"""Unit tests for the fusion / relation-extraction tier — hand-computed
expectations on tiny fixtures (the oracle-parity sweep covers the
corpus-scale versions)."""

from rdf_tabular_spark.operators.fusion import (RDF_NS, fuse_majority,
                                                reify_statements)
from rdf_tabular_spark.operators.relations import (hearst_matches,
                                                   hearst_pair_counts)


# --- fusion -----------------------------------------------------------------

def test_fuse_majority_votes_and_ties(spark):
    rows = [
        # e1/p: clean 2-1 majority for 'x'
        ("e1", "p", "x"), ("e1", "p", "x"), ("e1", "p", "y"),
        # e2/p: 1-1-1 tie -> lexical min 'a'
        ("e2", "p", "c"), ("e2", "p", "b"), ("e2", "p", "a"),
        # e3/p: no conflict, 2 identical assertions
        ("e3", "p", "z"), ("e3", "p", "z"),
    ]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = {(r["subj"], r["pred"]): (r["obj"], r["n_support"], r["n_values"])
           for r in fuse_majority(df).collect()}
    assert out == {
        ("e1", "p"): ("x", 2, 2),
        ("e2", "p"): ("a", 1, 3),
        ("e3", "p"): ("z", 2, 1),
    }


def test_reify_statements_anchor_stable_and_complete(spark):
    df = spark.createDataFrame(
        [("s", "p", "o"), ("s", "p", "o"), ("s2", "p", "o")],
        "subj string, pred string, obj string")
    rows = reify_statements(df).collect()
    # 2 distinct statements x 4 reification triples
    assert len(rows) == 8
    anchors = {r["stmt"] for r in rows}
    assert len(anchors) == 2
    by_stmt = {}
    for r in rows:
        by_stmt.setdefault(r["stmt"], {})[r["pred"]] = r["obj"]
    for stmt, props in by_stmt.items():
        assert stmt.startswith("urn:stmt:")
        assert props[RDF_NS + "type"] == RDF_NS + "Statement"
        assert props[RDF_NS + "predicate"] == "p"
        assert props[RDF_NS + "object"] == "o"
    # content-addressed: same statement reifies to the same anchor on rerun
    again = {r["stmt"] for r in reify_statements(df).collect()}
    assert again == anchors


# --- Hearst patterns --------------------------------------------------------

def test_hearst_patterns_all_four(spark):
    text = ("We love engines such as spark, flink and trino. "
            "pandas and other libraries help. "
            "databases, including duckdb, appear. "
            "formats, especially parquet and orc, win.")
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {(r["hyponym"], r["hypernym"], r["pattern"])
           for r in hearst_matches(df).collect()}
    assert ("spark", "engines", "such_as") in got
    assert ("flink", "engines", "such_as") in got
    assert ("trino", "engines", "such_as") in got
    assert ("pandas", "libraries", "and_other") in got
    assert ("duckdb", "databases", "including") in got
    assert ("parquet", "formats", "especially") in got


def test_hearst_pair_counts_support(spark):
    df = spark.createDataFrame(
        [(1, "tools such as spark"), (2, "tools such as spark"),
         (3, "tools such as flink")],
        "doc_id long, text string")
    out = {(r["hyponym"], r["hypernym"]): (r["n_mentions"], r["n_docs"])
           for r in hearst_pair_counts(df).collect()}
    assert out == {("spark", "tools"): (2, 2), ("flink", "tools"): (1, 1)}


def test_hearst_no_match_is_empty(spark):
    df = spark.createDataFrame([(1, "nothing to see here")],
                               "doc_id long, text string")
    assert hearst_matches(df).count() == 0


# --- job integration --------------------------------------------------------

def test_extract_job_fuse_reify_hearst(spark, tmp_path):
    """--fuse / --reify / --hearst side outputs: fused attributes, the
    reified provenance anchors, and the supported Hearst pairs, each as
    parquet under the store with manifest entries."""
    import os

    from rdf_tabular_spark.jobs.extract import main
    out = str(tmp_path / "store")
    m = main(["--synth", "40", "--out", out, "--batch-id", "fr1",
              "--no-canonicalize", "--fuse", "--reify", "--hearst",
              "--hearst-min-docs", "1"])
    fused = spark.read.parquet(os.path.join(out, "fused", "fr1"))
    assert set(fused.columns) == {"subj", "pred", "obj", "n_support",
                                  "n_values"}
    assert m["n_fused"] == fused.count() > 0
    # one batch, one assertion per (subj, pred) -> no conflicts
    assert m["n_conflicted_attrs"] == fused.filter("n_values > 1").count()
    reified = spark.read.parquet(os.path.join(out, "reified", "fr1"))
    assert set(reified.columns) == {"stmt", "pred", "obj"}
    # 4 reification triples per distinct statement
    n_stmts = reified.select("stmt").distinct().count()
    assert reified.count() == 4 * n_stmts > 0
    assert m["relations_dir"].endswith("relations/fr1")
    rel = spark.read.parquet(os.path.join(out, "relations", "fr1"))
    assert set(rel.columns) == {"hyponym", "hypernym", "n_mentions",
                                "n_docs"}


def test_fuse_retract_batch_maintenance(spark, tmp_path):
    """Fusion as store maintenance: losing assertions are retracted
    (term-exact), the winner survives, and time travel still sees the
    pre-fusion graph."""
    import time as _time

    from rdf_tabular_spark.jobs.query import main as query_main
    from rdf_tabular_spark.sinks.graph_store import materialize, read_graph
    root = str(tmp_path / "store")
    rows = [
        ("e1", "p:lang", "en", False, None, None, "u", 0),
        ("e1", "p:lang", "en", False, None, None, "u2", 0),
        ("e1", "p:lang", "xx", False, None, None, "u3", 0),
        ("e2", "p:lang", "fr", False, None, None, "u", 0),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_iri boolean, "
              "obj_datatype string, obj_lang string, table_url string, "
              "source_num long")
    materialize(df, root, "b1")
    pre_fusion = _time.strftime("%Y-%m-%dT%H:%M:%SZ", _time.gmtime())
    _time.sleep(1.1)
    m = query_main(["--store", root, "--fuse-majority",
                    "--derive-batch-id", "fuse1"])
    assert m["kind"] == "retraction" and m["n_triples"] == 1
    live = {(r["subj"], r["obj"]) for r in
            read_graph(spark, root).select("subj", "obj").collect()}
    assert ("e1", "en") in live and ("e1", "xx") not in live
    assert ("e2", "fr") in live                  # no conflict -> untouched
    # idempotent per batch id
    m2 = query_main(["--store", root, "--fuse-majority",
                     "--derive-batch-id", "fuse1"])
    assert m2["n_triples"] == 1
    # time travel: the pre-fusion graph still shows the loser
    from rdf_tabular_spark.sinks.graph_store import snapshots_as_of
    pre = read_graph(spark, root,
                     batches=snapshots_as_of(root, pre_fusion))
    assert ("e1", "xx") in {(r["subj"], r["obj"])
                            for r in pre.select("subj", "obj").collect()}


def test_fuse_retract_batch_term_exact_vote(spark, tmp_path):
    """Two RDF terms sharing a lexical form are distinct vote candidates,
    and the losing term IS retracted even when its lexical form equals the
    winner's (r5 advice: the vote previously conflated them)."""
    from rdf_tabular_spark.sinks.graph_store import (fuse_retract_batch,
                                                     materialize, read_graph)
    root = str(tmp_path / "store")
    rows = [
        # winner: plain literal '42' ×2; loser: '42'^^xsd:integer ×1 —
        # same lexical form, different term
        ("e1", "p:v", "42", False, None, None, "u1", 0),
        ("e1", "p:v", "42", False, None, None, "u2", 0),
        ("e1", "p:v", "42", False, "http://www.w3.org/2001/XMLSchema#integer",
         None, "u3", 0),
        # lang-tagged vs untagged with different lexical forms too
        ("e2", "p:v", "hi", False, None, "en", "u1", 0),
        ("e2", "p:v", "hi", False, None, "en", "u2", 0),
        ("e2", "p:v", "hi", False, None, "fr", "u3", 0),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_iri boolean, "
              "obj_datatype string, obj_lang string, table_url string, "
              "source_num long")
    materialize(df, root, "b1")
    m = fuse_retract_batch(spark, root, "fuse1")
    assert m["kind"] == "retraction" and m["n_triples"] == 2
    live = {(r["subj"], r["obj"], r["obj_datatype"], r["obj_lang"])
            for r in read_graph(spark, root)
            .select("subj", "obj", "obj_datatype", "obj_lang").collect()}
    assert ("e1", "42", None, None) in live
    assert all(not (s == "e1" and dt is not None) for s, _, dt, _ in live)
    assert ("e2", "hi", None, "en") in live
    assert ("e2", "hi", None, "fr") not in live
