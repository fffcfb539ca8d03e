"""SPARQL UPDATE tier: retraction batches on the append-only graph store
(equality-delete design — reads subtract, full compaction bakes in and
shadows), and the UPDATE string forms routed through update_store."""

import pytest
from pyspark.sql import functions as F

from rdf_tabular_spark.sinks.graph_store import (compact, delete_where,
                                                 expire_replaced,
                                                 live_batches,
                                                 live_retractions,
                                                 materialize, read_graph,
                                                 retract_batch,
                                                 update_store)
from rdf_tabular_spark.sparql import SparqlError, parse_update


def _store_rows(spark, rows, url="t"):
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    return df.select(
        "subj", "pred", "obj", F.lit(True).alias("obj_is_iri"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(url).alias("table_url"),
        F.lit(0).cast("long").alias("source_num"))


def _spo(df):
    return {(r.subj, r.pred, r.obj)
            for r in df.select("subj", "pred", "obj").collect()}


ROWS = [("a", "p", "b"), ("b", "p", "c"), ("a", "q", "x"), ("c", "q", "y")]


def test_retract_batch_subtracts_on_read(spark, tmp_path):
    root = str(tmp_path / "g")
    materialize(_store_rows(spark, ROWS), root, "b1")
    keys = spark.createDataFrame([("a", "p", "b")],
                                 "subj string, pred string, obj string")
    m = retract_batch(spark, root, "r1", keys)
    assert m["kind"] == "retraction" and m["n_triples"] == 1
    assert _spo(read_graph(spark, root)) == set(ROWS) - {("a", "p", "b")}
    # retraction ids never enter the data-batch live set
    assert live_batches(root) == {"b1"}
    assert live_retractions(root) == {"r1"}
    # time travel to before the retraction sees the full graph
    assert _spo(read_graph(spark, root, batches=["b1"])) == set(ROWS)
    # ... and including it in the snapshot applies it
    assert ("a", "p", "b") not in _spo(
        read_graph(spark, root, batches=["b1", "r1"]))
    # idempotent per batch-id
    m2 = retract_batch(
        spark, root, "r1",
        spark.createDataFrame([("zzz", "zzz", "zzz")],
                              "subj string, pred string, obj string"))
    assert m2["n_triples"] == 1


def test_delete_where_patterns(spark, tmp_path):
    root = str(tmp_path / "g")
    materialize(_store_rows(spark, ROWS), root, "b1")
    delete_where(spark, root, "r1", [("?s", "q", "?o")])
    assert _spo(read_graph(spark, root)) \
        == {("a", "p", "b"), ("b", "p", "c")}


def test_full_compaction_bakes_in_retractions(spark, tmp_path):
    root = str(tmp_path / "g")
    materialize(_store_rows(spark, ROWS[:2]), root, "b1")
    materialize(_store_rows(spark, ROWS[2:]), root, "b2")
    retract_batch(spark, root, "r1", spark.createDataFrame(
        [("a", "q", "x")], "subj string, pred string, obj string"))
    m = compact(spark, root)
    assert "r1" in m["replaces"]
    assert live_retractions(root) == set()
    assert _spo(read_graph(spark, root)) == set(ROWS) - {("a", "q", "x")}
    # expire removes the retraction files via the manifest path
    expired = expire_replaced(spark, root)
    assert set(expired) >= {"b1", "b2", "r1"}
    assert _spo(read_graph(spark, root)) == set(ROWS) - {("a", "q", "x")}


def test_update_store_forms(spark, tmp_path):
    root = str(tmp_path / "g")
    materialize(_store_rows(spark, ROWS), root, "b1")
    # INSERT DATA
    update_store(spark, root, "u1",
                 'INSERT DATA { d p e . e q "lit" }')
    g = _spo(read_graph(spark, root))
    assert {("d", "p", "e"), ("e", "q", "lit")} <= g
    # DELETE DATA
    update_store(spark, root, "u2", "DELETE DATA { d p e }")
    assert ("d", "p", "e") not in _spo(read_graph(spark, root))
    # DELETE WHERE with FILTER
    update_store(spark, root, "u3",
                 'DELETE WHERE { ?s q ?o . FILTER(?o = "y") }')
    assert ("c", "q", "y") not in _spo(read_graph(spark, root))
    # INSERT ... WHERE (derivation)
    update_store(spark, root, "u4",
                 "INSERT { ?o rev_p ?s } WHERE { ?s p ?o }")
    assert ("b", "rev_p", "a") in _spo(read_graph(spark, root))
    # DELETE {t} WHERE {p} (template differs from patterns)
    update_store(spark, root, "u5",
                 "DELETE { ?o rev_p ?s } WHERE { ?s p ?o }")
    g = _spo(read_graph(spark, root))
    assert not {t for t in g if t[1] == "rev_p"}
    # idempotence: replaying u1 adds nothing new
    update_store(spark, root, "u1", 'INSERT DATA { zz p zz }')
    assert ("zz", "p", "zz") not in _spo(read_graph(spark, root))


def test_parse_update_errors():
    with pytest.raises(SparqlError, match="ground"):
        parse_update("INSERT DATA { ?s p o }")
    with pytest.raises(SparqlError, match="paths"):
        parse_update("DELETE WHERE { ?s p+ ?o }")
    with pytest.raises(SparqlError):
        parse_update("SELECT ?s WHERE { ?s p ?o }")


def test_query_job_update_mode(spark, tmp_path):
    from rdf_tabular_spark.jobs.query import main as query_main
    root = str(tmp_path / "g")
    materialize(_store_rows(spark, ROWS), root, "b1")
    m = query_main(["--store", root, "--update",
                    "DELETE WHERE { ?s p ?o }",
                    "--derive-batch-id", "r1"])
    assert m["kind"] == "retraction" and m["n_triples"] == 2
    res = query_main(["--store", root, "--sparql",
                      "SELECT ?s ?o WHERE { ?s p ?o }"])
    assert res["n_rows"] == 0


TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
SUB_C = "http://www.w3.org/2000/01/rdf-schema#subClassOf"


def test_refresh_rule_batches_on_new_data(spark, tmp_path):
    """A new data batch makes the RDFS rule batch stale; refresh
    re-derives it under <id>-r1 which atomically replaces the old one."""
    from rdf_tabular_spark.sinks.graph_store import (infer_rdfs_batch,
                                                     refresh_rule_batches)
    root = str(tmp_path / "g")
    materialize(_store_rows(spark, [("C", SUB_C, "D"), ("x", TYPE, "C")]),
                root, "b1")
    infer_rdfs_batch(spark, root, "rdfs1")
    assert ("x", TYPE, "D") in _spo(read_graph(spark, root))
    # no data change → no-op
    assert refresh_rule_batches(spark, root) == []
    # new instance data arrives → rule is stale
    materialize(_store_rows(spark, [("y", TYPE, "C")]), root, "b2")
    out = refresh_rule_batches(spark, root)
    assert [m["batch_id"] for m in out] == ["rdfs1-r1"]
    assert out[0]["replaces"] == ["rdfs1"]
    assert live_batches(root) == {"b1", "b2", "rdfs1-r1"}
    g = _spo(read_graph(spark, root))
    assert ("y", TYPE, "D") in g and ("x", TYPE, "D") in g
    # refreshed manifest carries a fresh fingerprint → second call no-op
    assert refresh_rule_batches(spark, root) == []
    # and a refresh of the refresh chains the id/replaces correctly
    materialize(_store_rows(spark, [("z", TYPE, "C")]), root, "b3")
    out2 = refresh_rule_batches(spark, root)
    assert [m["batch_id"] for m in out2] == ["rdfs1-r2"]
    assert out2[0]["replaces"] == ["rdfs1-r1"]
    assert ("z", TYPE, "D") in _spo(read_graph(spark, root))


def test_refresh_construct_rule_with_kwargs(spark, tmp_path):
    """derive_batch rules refresh from their recorded patterns/template/
    filters; the new derivation sees the new data."""
    from rdf_tabular_spark.sinks.graph_store import (derive_batch,
                                                     refresh_rule_batches)
    root = str(tmp_path / "g")
    materialize(_store_rows(spark, [("a", "p", "b"), ("a", "p", "skipme")]),
                root, "b1")
    derive_batch(spark, root, [("?s", "p", "?o")], [("?o", "rev", "?s")],
                 "rule1", filters=['o <> \'skipme\''])
    assert ("b", "rev", "a") in _spo(read_graph(spark, root))
    materialize(_store_rows(spark, [("c", "p", "d")]), root, "b2")
    out = refresh_rule_batches(spark, root)
    assert [m["batch_id"] for m in out] == ["rule1-r1"]
    g = _spo(read_graph(spark, root))
    assert ("d", "rev", "c") in g and ("b", "rev", "a") in g
    assert not any(t[0] == "skipme" for t in g)   # filter survived refresh


def test_refresh_cli_mode(spark, tmp_path):
    from rdf_tabular_spark.jobs.query import main as query_main
    from rdf_tabular_spark.sinks.graph_store import infer_owl_batch
    from rdf_tabular_spark.operators.owl import OWL_INVERSE
    root = str(tmp_path / "g")
    materialize(_store_rows(spark, [("parent", OWL_INVERSE, "child"),
                                    ("a", "parent", "b")]), root, "b1")
    infer_owl_batch(spark, root, "owl1")
    materialize(_store_rows(spark, [("c", "parent", "d")]), root, "b2")
    res = query_main(["--store", root, "--refresh-rules"])
    assert res == {"refreshed": ["owl1-r1"], "skipped": []}
    assert ("d", "child", "c") in _spo(read_graph(spark, root))


def test_reinsert_after_delete_resurrects(spark, tmp_path):
    """SPARQL UPDATE sequencing: DELETE then INSERT of the same triple
    leaves it present (retractions bind to their commit time, not to the
    triple forever)."""
    import time as _t
    root = str(tmp_path / "g")
    materialize(_store_rows(spark, ROWS), root, "b1")
    update_store(spark, root, "u1", "DELETE DATA { a p b }")
    assert ("a", "p", "b") not in _spo(read_graph(spark, root))
    _t.sleep(0.01)   # commit_ns orders sub-second sequences
    update_store(spark, root, "u2", "INSERT DATA { a p b }")
    g = _spo(read_graph(spark, root))
    assert ("a", "p", "b") in g
    # and the delete still holds for the ORIGINAL batch's other triples
    assert ("b", "p", "c") in g


def test_empty_only_store_reads_back(spark, tmp_path):
    """A store whose only batch is empty (a rule that derived nothing)
    must read back as an empty frame, not a schema-inference crash."""
    root = str(tmp_path / "g")
    empty = _store_rows(spark, []).limit(0)
    m = materialize(empty, root, "b-empty")
    assert m["n_triples"] == 0
    g = read_graph(spark, root)
    assert g.count() == 0
    assert {"subj", "pred", "obj", "pred_bucket"} <= set(g.columns)


def test_as_of_read_spanning_compaction(spark, tmp_path):
    """Regression (r4 advice): an as-of read AFTER a compaction must not
    union the compaction output with its still-committed inputs — that
    returned every baked-in triple twice."""
    import time as _t
    from rdf_tabular_spark.sinks.graph_store import snapshots_as_of
    root = str(tmp_path / "g")
    materialize(_store_rows(spark, ROWS[:2]), root, "b1")
    materialize(_store_rows(spark, ROWS[2:]), root, "b2")
    _t.sleep(1.1)  # committed_at is second-granularity
    mid = _t.strftime("%Y-%m-%dT%H:%M:%SZ", _t.gmtime())
    _t.sleep(1.1)
    compact(spark, root)
    _t.sleep(1.1)
    after = _t.strftime("%Y-%m-%dT%H:%M:%SZ", _t.gmtime())

    # as-of after the compaction: sees the compaction batch only
    snap = snapshots_as_of(root, after)
    g = read_graph(spark, root, batches=snap)
    assert g.count() == len(ROWS), "baked-in triples must not double-count"
    assert _spo(g) == set(ROWS)
    # as-of between the input batches and the compaction: pre-compaction
    # time travel sees the original batches exactly once
    snap_mid = snapshots_as_of(root, mid)
    assert set(snap_mid) == {"b1", "b2"}
    g_mid = read_graph(spark, root, batches=snap_mid)
    assert g_mid.count() == len(ROWS)


def test_term_keyed_retraction(spark, tmp_path):
    """SPARQL term equality on deletes: retracting '42'^^xsd:integer with
    full term columns must NOT retract '42'@en, '42' plain, or an IRI
    object with the same lexical form (store-level contract; the 3-col
    SPARQL front-end keys lexically by documented design)."""
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    rows = [
        ("a", "p", "42", False, xsd_int, None),
        ("a", "p", "42", False, None, "en"),
        ("a", "p", "42", False, None, None),
        ("a", "p", "42", True, None, None),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_iri boolean,"
              " obj_datatype string, obj_lang string").select(
        "*", F.lit("t").alias("table_url"),
        F.lit(0).cast("long").alias("source_num"))
    root = str(tmp_path / "g")
    materialize(df, root, "b1")

    keys = spark.createDataFrame(
        [("a", "p", "42", False, xsd_int, None)],
        "subj string, pred string, obj string, obj_is_iri boolean,"
        " obj_datatype string, obj_lang string")
    m = retract_batch(spark, root, "r1", keys)
    assert m["key_cols"] == ["subj", "pred", "obj", "obj_is_iri",
                             "obj_datatype", "obj_lang"]
    left = read_graph(spark, root).select(
        "obj_is_iri", "obj_datatype", "obj_lang").collect()
    terms = {(r.obj_is_iri, r.obj_datatype, r.obj_lang) for r in left}
    assert (False, xsd_int, None) not in terms
    assert terms == {(False, None, "en"), (False, None, None),
                     (True, None, None)}

    # a LEXICAL (3-col) retraction of the same key deletes every term
    retract_batch(spark, root, "r2", spark.createDataFrame(
        [("a", "p", "42")], "subj string, pred string, obj string"))
    assert read_graph(spark, root).count() == 0


def test_read_predicate_nondefault_buckets(spark, tmp_path):
    """Regression (r4 advice): read_predicate must derive the bucket count
    from each batch's manifest — a store written with a non-default count
    silently dropped matching rows when the caller didn't repeat it."""
    from rdf_tabular_spark.sinks.graph_store import read_predicate
    root = str(tmp_path / "g")
    materialize(_store_rows(spark, ROWS), root, "b1", pred_buckets=7)
    got = read_predicate(spark, root, "p")  # no pred_buckets argument
    assert _spo(got) == {("a", "p", "b"), ("b", "p", "c")}


def test_read_subject_any_bucket_count(spark, tmp_path):
    """Regression: subj_bucket used to be taken mod the batch's pred_bucket
    count while read_subject assumed 64, so a store written with 7 buckets
    returned 1 of 50 subjects. Every subject must come back, whatever the
    bucket count of the batch it lives in."""
    from rdf_tabular_spark.sinks.graph_store import read_subject
    root = str(tmp_path / "g")
    rows = [(f"s{i}", "p", f"o{i}") for i in range(50)]
    materialize(_store_rows(spark, rows[:25]), root, "b7", pred_buckets=7)
    materialize(_store_rows(spark, rows[25:]), root, "bsized")
    assert read_graph(spark, root).count() == 50
    for s, p, o in rows:
        assert _spo(read_subject(spark, root, s)) == {(s, p, o)}, s


def test_compact_folds_batches_of_different_bucket_counts(spark, tmp_path):
    """The same triples committed under 64 buckets and under the sized
    count carry different bucket columns; compaction must still fold each
    triple into one row with support 2."""
    root = str(tmp_path / "g")
    rows = [(f"s{i}", f"p{i % 3}", f"o{i}") for i in range(40)]
    m64 = materialize(_store_rows(spark, rows), root, "b64", pred_buckets=64)
    m1 = materialize(_store_rows(spark, rows), root, "bsized")
    assert (m64["pred_buckets"], m1["pred_buckets"]) == (64, 1)
    m = compact(spark, root)
    g = read_graph(spark, root)
    assert m["n_triples"] == g.count() == len(rows)
    assert _spo(g) == set(rows)
    assert {r["support"] for r in g.select("support").collect()} == {2}


def test_materialize_sizes_buckets_to_the_batch(spark, tmp_path,
                                                monkeypatch):
    """A small batch writes one file; with the rows-per-file target
    lowered it writes several power-of-two buckets, one file per dir. The
    manifest's bucket_counts sum to what reads back, and materialize leaves
    no persisted RDD behind."""
    import glob
    import os

    from rdf_tabular_spark.sinks import graph_store as gs
    jsc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    before = jsc.getPersistentRDDs().size()
    rows = [(f"s{i}", f"p{i % 5}", f"o{i}") for i in range(200)]

    def files(m):
        return [len(glob.glob(os.path.join(d, "*.parquet"))) for d in
                glob.glob(os.path.join(m["path"], "pred_bucket=*"))]

    small = materialize(_store_rows(spark, rows), str(tmp_path / "a"), "b1")
    assert small["pred_buckets"] == 1 and files(small) == [1]
    monkeypatch.setattr(gs, "ROWS_PER_BUCKET_FILE", 30)
    root = str(tmp_path / "b")
    m = materialize(_store_rows(spark, rows), root, "b1")
    assert m["pred_buckets"] == 8                  # 200 rows / 30 → 8
    assert files(m) and set(files(m)) == {1}
    assert sum(m["bucket_counts"].values()) == m["n_triples"] == \
        read_graph(spark, root).count() == len(rows)
    assert m["bucket_counts"] == {
        str(r["pred_bucket"]): r["count"] for r in
        read_graph(spark, root).groupBy("pred_bucket").count().collect()}
    assert jsc.getPersistentRDDs().size() == before


def test_update_data_rejects_property_paths():
    """A whitespace-free property path in a DATA block ('<a>/<b>') parses
    to a path AST — must be rejected loudly, not reach createDataFrame."""
    with pytest.raises(SparqlError, match="property paths"):
        parse_update("INSERT DATA { <urn:s> <urn:a>/<urn:b> <urn:o> }")
    with pytest.raises(SparqlError, match="property paths"):
        parse_update("DELETE DATA { <urn:s> <urn:a>|<urn:b> <urn:o> }")


def test_diff_snapshots_added_removed(spark, tmp_path):
    """Time-travel delta: triples committed between two snapshot times show
    as 'added', retractions as 'removed', and a diff spanning a compaction
    is empty (compaction rewrites layout, not content)."""
    import time as _t
    from rdf_tabular_spark.sinks.graph_store import diff_snapshots
    root = str(tmp_path / "g")
    materialize(_store_rows(spark, ROWS[:2]), root, "b1")
    _t.sleep(1.1)
    t1 = _t.strftime("%Y-%m-%dT%H:%M:%SZ", _t.gmtime())
    _t.sleep(1.1)
    materialize(_store_rows(spark, ROWS[2:]), root, "b2")
    update_store(spark, root, "u1", "DELETE DATA { b p c }")
    _t.sleep(1.1)
    t2 = _t.strftime("%Y-%m-%dT%H:%M:%SZ", _t.gmtime())

    d = {(r["subj"], r["pred"], r["obj"], r["change"])
         for r in diff_snapshots(spark, root, t1, t2).collect()}
    assert d == {("a", "q", "x", "added"), ("c", "q", "y", "added"),
                 ("b", "p", "c", "removed")}

    # diff across a content-preserving compaction: no spurious rows
    _t.sleep(1.1)
    compact(spark, root)
    _t.sleep(1.1)
    t3 = _t.strftime("%Y-%m-%dT%H:%M:%SZ", _t.gmtime())
    assert diff_snapshots(spark, root, t2, t3).count() == 0


def test_query_job_diff_since(spark, tmp_path):
    """jobs/query.py --diff-since: the time-travel delta surfaces through
    the CLI with added/removed counts and a parquet --out mode."""
    import time as _t
    from rdf_tabular_spark.jobs.query import main as query_main
    root = str(tmp_path / "g")
    materialize(_store_rows(spark, ROWS[:2]), root, "b1")
    _t.sleep(1.1)
    t1 = _t.strftime("%Y-%m-%dT%H:%M:%SZ", _t.gmtime())
    _t.sleep(1.1)
    materialize(_store_rows(spark, ROWS[2:]), root, "b2")
    s = query_main(["--store", root, "--diff-since", t1])
    assert s["added"] == 2 and s["removed"] == 0
    out = str(tmp_path / "delta")
    s2 = query_main(["--store", root, "--diff-since", t1, "--out", out])
    assert s2["n_changes"] == 2
    assert spark.read.parquet(out).filter("change = 'added'").count() == 2
