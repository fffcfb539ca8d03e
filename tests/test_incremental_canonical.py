"""Cross-batch subject canonicalization: batches arriving over time must
converge on GLOBAL canonical ids (north_rule: resumable, checkpointed runs
over 10^12 docs — per-batch-only identity would split every entity that
spans a batch boundary)."""

from pyspark.sql import functions as F

from rdf_tabular_spark.sinks.graph_store import load_canonical_map
from rdf_tabular_spark.sources.pages import DOC_PAGE_META, pages_from_documents
from rdf_tabular_spark.web import web_pipeline


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, f"document body {i}", "en", "web", 20) for i in ids],
        "doc_id long, text string, lang string, source string, n_chars int")


def _host(pages, host):
    """The pages moved to ``host``: the url and every IRI inside the html
    (the JSON-LD @id, the microdata itemid)."""
    return pages.withColumn(
        "url", F.regexp_replace("url", "^http://pages\\.", f"http://{host}.")
    ).withColumn(
        "html", F.regexp_replace(F.col("html").cast("string"),
                                 "http://pages\\.", f"http://{host}.")
        .cast("binary"))


def test_global_canonical_across_batches(spark, tmp_path):
    """Batch 1 sees hosts a+m (m→a), batch 2 sees m+z (z→m locally). The
    merged map must route z→a transitively, and batch 2's MATERIALIZED
    triples must carry a-host subjects even though host a never appeared
    in batch 2."""
    root = str(tmp_path / "store")
    base = pages_from_documents(_docs(spark, [1, 2, 3]))
    web_pipeline(spark, _host(base, "a").unionByName(_host(base, "m")),
                 root, "b1", default_meta=DOC_PAGE_META,
                 incremental_canonical=True)
    web_pipeline(spark, _host(base, "m").unionByName(_host(base, "z")),
                 root, "b2", default_meta=DOC_PAGE_META,
                 incremental_canonical=True)

    m = {r["id"]: r["canonical_id"]
         for r in load_canonical_map(spark, root).collect()}
    z_entries = {k: v for k, v in m.items() if k.startswith("http://z.")}
    assert z_entries, "z-host subjects missing from the global map"
    assert all(v.startswith("http://a.") for v in z_entries.values()), z_entries

    b2 = spark.read.parquet(f"{root}/data/batch=b2")
    subj_hosts = {r["subj"].split("//")[1].split(".")[0]
                  for r in b2.select("subj").distinct().collect()
                  if r["subj"].startswith("http")}
    assert subj_hosts == {"a"}, subj_hosts


def test_first_batch_bootstraps_map(spark, tmp_path):
    root = str(tmp_path / "store")
    assert load_canonical_map(spark, root) is None
    base = pages_from_documents(_docs(spark, [1]))
    web_pipeline(spark, _host(base, "a").unionByName(_host(base, "m")),
                 root, "b1", default_meta=DOC_PAGE_META,
                 incremental_canonical=True)
    m = {r["id"]: r["canonical_id"]
         for r in load_canonical_map(spark, root).collect()}
    assert any(k.startswith("http://m.") and v.startswith("http://a.")
               for k, v in m.items())


def test_merge_mappings_transitive(spark):
    from rdf_tabular_spark.operators.components import merge_mappings
    m1 = spark.createDataFrame([("B", "A")], "id string, canonical_id string")
    m2 = spark.createDataFrame([("C", "B"), ("E", "D")],
                               "id string, canonical_id string")
    merged = {r["id"]: r["canonical_id"]
              for r in merge_mappings([m1, m2]).collect()}
    assert merged["C"] == "A" and merged["B"] == "A"
    assert merged["E"] == "D"


def test_read_graph_canonical_applies_retroactive_merges(spark, tmp_path):
    """Identities learned in LATER batches must reach EARLIER batches'
    triples at read time: batch 1 materializes m-host subjects (z→m was
    all it knew); batch 2 learns m→a. The store still holds m-subjects in
    batch 1 (immutability), but the canonical read shows one identity."""
    from rdf_tabular_spark.sinks.graph_store import (read_graph,
                                                     read_graph_canonical)
    root = str(tmp_path / "store")
    base = pages_from_documents(_docs(spark, [1, 2]))
    web_pipeline(spark, _host(base, "m").unionByName(_host(base, "z")),
                 root, "b1", default_meta=DOC_PAGE_META,
                 incremental_canonical=True)
    web_pipeline(spark, _host(base, "a").unionByName(_host(base, "m")),
                 root, "b2", default_meta=DOC_PAGE_META,
                 incremental_canonical=True)

    def hosts(df):
        return {r["subj"].split("//")[1].split(".")[0]
                for r in df.select("subj").distinct().collect()
                if r["subj"].startswith("http")}

    raw = hosts(read_graph(spark, root))
    assert "m" in raw, "batch 1 must keep its as-committed m subjects"
    canon = hosts(read_graph_canonical(spark, root))
    assert canon == {"a"}, canon


def test_canonical_compaction_bakes_identities(spark, tmp_path):
    """compact(canonical=True) persists what read_graph_canonical computes:
    after a retroactive merge, the compacted store's RAW read shows one
    identity, buckets recomputed for the rewritten subjects."""
    from rdf_tabular_spark.sinks.graph_store import (compact, read_graph,
                                                     with_buckets)
    root = str(tmp_path / "store")
    base = pages_from_documents(_docs(spark, [1, 2]))
    web_pipeline(spark, _host(base, "m").unionByName(_host(base, "z")),
                 root, "b1", default_meta=DOC_PAGE_META,
                 incremental_canonical=True)
    web_pipeline(spark, _host(base, "a").unionByName(_host(base, "m")),
                 root, "b2", default_meta=DOC_PAGE_META,
                 incremental_canonical=True)
    m = compact(spark, root, canonical=True)
    assert m is not None and m["lineage"]["canonical"] is True
    g = read_graph(spark, root)
    hosts = {r["subj"].split("//")[1].split(".")[0]
             for r in g.select("subj").distinct().collect()
             if r["subj"].startswith("http")}
    assert hosts == {"a"}, hosts
    # buckets must be consistent with the REWRITTEN subjects
    recomputed = with_buckets(g.drop("pred_bucket", "subj_bucket"))
    mismatch = (g.select("subj", "pred", "subj_bucket")
                .exceptAll(recomputed.select("subj", "pred", "subj_bucket")))
    assert mismatch.count() == 0
