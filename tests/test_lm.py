"""Semantics tests for the Bloom-filter decontamination variant
(operators/curate.flag_contamination_bloom) against the exact probe."""

from pyspark.sql import functions as F

from rdf_tabular_spark.operators import curate as C

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_bloom_never_under_counts(spark):
    """Bloom membership has zero false negatives: every exact overlap is
    also a bloom overlap, and bloom counts dominate exact counts."""
    docs = _docs(spark)
    bench = docs.where(F.col("doc_id") % 97 == 0).select("text")
    exact = C.flag_contamination(docs, bench, n=3).collect()
    bloom = {r["doc_id"]: r for r in
             C.flag_contamination_bloom(docs, bench, n=3).collect()}
    assert len(bloom) == len(exact)
    for r in exact:
        b = bloom[r["doc_id"]]
        assert b["n_overlap"] >= r["n_overlap"], r["doc_id"]
        if r["contaminated"]:
            assert b["contaminated"], r["doc_id"]


def test_bloom_tiny_filter_saturates(spark):
    """With m far below the shingle count every position is set and every
    doc with >= 1 shingle reads contaminated — the documented
    false-positive geometry, not an error. The expected set is computed
    independently (docs producing at least one 3-gram), so a broken probe
    that returns n_overlap=0 everywhere fails this test."""
    from rdf_tabular_spark.operators import text as T
    docs = _docs(spark).limit(20)
    bench = docs.select("text")
    with_shingles = {r["doc_id"] for r in docs.select(
        "doc_id", F.size(T.word_ngrams(F.col("text"), 3)).alias("n")).collect()
        if r["n"] > 0}
    out = {r["doc_id"]: r["contaminated"] for r in
           C.flag_contamination_bloom(docs, bench, n=3, m=2, k=1).collect()}
    assert with_shingles, "fixture regressed: no doc produces a shingle"
    assert all(out[d] for d in with_shingles)
