"""Structured Streaming ingest tests: incremental pages → triples with
checkpoint resume, and the watermarked per-host rate aggregation."""

import os
import re

import pytest

from rdf_tabular_spark.sources.pages import DOC_PAGE_META, pages_from_documents
from rdf_tabular_spark.streaming.ingest import (stream_pages_to_triples,
                                                triples_rate_per_host)

SF_DIR = "/root/testdata/sf0.001"


def _write_batch(spark, tmp, name, lo, hi):
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .filter(f"doc_id >= {lo} and doc_id < {hi}"))
    pages_from_documents(docs).write.mode("append") \
        .parquet(os.path.join(tmp, "pages_in"))


def test_stream_ingest_and_resume(spark, tmp_path):
    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "pages_in")
    out_dir = os.path.join(tmp, "triples_out")
    ckpt = os.path.join(tmp, "ckpt")

    _write_batch(spark, tmp, "b1", 0, 40)
    q = stream_pages_to_triples(spark, in_dir, out_dir, ckpt,
                                default_meta=DOC_PAGE_META)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == 40 * 4  # 4 cell triples per single-row page

    # append a second batch; re-running with the same checkpoint processes
    # ONLY the new files (exactly-once file accounting)
    _write_batch(spark, tmp, "b2", 40, 100)
    q = stream_pages_to_triples(spark, in_dir, out_dir, ckpt,
                                default_meta=DOC_PAGE_META)
    q.awaitTermination(120)
    out = spark.read.parquet(out_dir)
    assert out.count() == 100 * 4
    # no duplicates: every (subj, pred) pair appears exactly once
    assert out.select("subj", "pred").distinct().count() == 100 * 4


def test_stream_rate_per_host(spark, tmp_path):
    """Append-mode windowed aggregation emits a window only once the
    watermark passes its end — the second batch (later event times)
    finalizes the first 1-minute window."""
    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "pages_in")
    out = os.path.join(tmp, "rates")
    ckpt = os.path.join(tmp, "rates_ckpt")

    _write_batch(spark, tmp, "b1", 0, 50)  # warc_ts = 00:00:00 .. 00:00:49
    q = triples_rate_per_host(spark, in_dir, out, ckpt,
                              default_meta=DOC_PAGE_META,
                              watermark="0 seconds")
    q.awaitTermination(120)

    _write_batch(spark, tmp, "b2", 50, 100)  # event time advances to 00:01:39
    q = triples_rate_per_host(spark, in_dir, out, ckpt,
                              default_meta=DOC_PAGE_META,
                              watermark="0 seconds")
    q.awaitTermination(120)

    rows = spark.read.parquet(out).collect()
    # window [00:00, 00:01) closed: docs 0-59, 4 triples each
    assert [(r["host"], r["n_triples"]) for r in rows] == \
        [("pages.example.org", 60 * 4)]


def test_stream_ntriples_to_store_exactly_once(spark, tmp_path):
    """Streaming RDF ingest: nt files -> graph store with manifest-
    idempotent epoch commits; a re-run with the same checkpoint ingests
    only NEW files, and the committed manifests carry stream lineage."""
    import glob
    import json

    from rdf_tabular_spark.sinks.graph_store import read_graph
    from rdf_tabular_spark.streaming.ingest import stream_ntriples_to_store

    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "nt_in")
    store = os.path.join(tmp, "graph")
    ckpt = os.path.join(tmp, "ckpt")
    os.makedirs(in_dir)
    with open(os.path.join(in_dir, "a.nt"), "w") as f:
        for i in range(30):
            f.write(f"<http://s/{i}> <http://p> \"v{i}\" .\n")

    q = stream_ntriples_to_store(spark, in_dir, store, ckpt)
    q.awaitTermination(120)
    assert read_graph(spark, store).count() == 30

    # second drop: only the new file lands, as a new epoch batch
    with open(os.path.join(in_dir, "b.nt"), "w") as f:
        for i in range(30, 45):
            f.write(f"<http://s/{i}> <http://p> \"v{i}\" .\n")
    q = stream_ntriples_to_store(spark, in_dir, store, ckpt)
    q.awaitTermination(120)
    g = read_graph(spark, store)
    assert g.count() == 45
    assert g.select("subj").distinct().count() == 45

    manifests = sorted(glob.glob(os.path.join(store, "_manifests",
                                              "stream-*.json")))
    assert len(manifests) >= 2
    with open(manifests[0]) as f:
        m = json.load(f)
    assert m["lineage"]["source"] == "stream"


def test_stream_pages_to_store_end_to_end(spark, tmp_path):
    """Continuous KG construction: pages stream -> stage 1-2 extraction ->
    store commits with epoch lineage; a second crawl drop lands as a new
    epoch batch and the store query sees both."""
    import glob
    import json

    from rdf_tabular_spark.sinks.graph_store import read_graph
    from rdf_tabular_spark.streaming.ingest import stream_pages_to_store

    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "pages_in")
    store = os.path.join(tmp, "graph")
    ckpt = os.path.join(tmp, "ckpt")
    _write_batch(spark, tmp, "b1", 0, 20)

    q = stream_pages_to_store(spark, in_dir, store, ckpt,
                              default_meta=DOC_PAGE_META)
    q.awaitTermination(180)
    n1 = read_graph(spark, store).count()
    assert n1 > 0

    _write_batch(spark, tmp, "b2", 20, 30)
    q = stream_pages_to_store(spark, in_dir, store, ckpt,
                              default_meta=DOC_PAGE_META)
    q.awaitTermination(180)
    g = read_graph(spark, store)
    assert g.count() > n1

    manifests = sorted(glob.glob(os.path.join(store, "_manifests",
                                              "crawl-*.json")))
    assert len(manifests) >= 2
    with open(manifests[0]) as f:
        m = json.load(f)
    assert m["lineage"]["source"] == "stream-pages"


def test_stream_pages_to_store_combined_facets(spark, tmp_path):
    """The stream runs the fused kernel (tables + microdata + JSON-LD +
    RDFa) with in-kernel robots compliance — the stream
    path and the batch path share the exact stage, so per-facet subjects
    all land in the store and noindex pages (doc_id % 7 == 3) emit
    nothing."""
    from rdf_tabular_spark.sinks.graph_store import read_graph
    from rdf_tabular_spark.streaming.ingest import stream_pages_to_store

    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "pages_in")
    store = os.path.join(tmp, "graph")
    ckpt = os.path.join(tmp, "ckpt")
    _write_batch(spark, tmp, "b1", 0, 21)

    q = stream_pages_to_store(spark, in_dir, store, ckpt,
                              default_meta=DOC_PAGE_META,
                              respect_noindex=True)
    q.awaitTermination(180)
    subs = {r.subj for r in
            read_graph(spark, store).select("subj").distinct().collect()}
    base = "http://pages.example.org/doc/"
    assert f"{base}4#doc-4" in subs      # CSVW table facet
    assert f"{base}4#jld" in subs        # JSON-LD facet
    assert any(s == f"{base}0#item" for s in subs)   # microdata facet
    # robots: doc 3 (and 10, 17) are noindex — no facet emits for them
    assert not any(f"/doc/3#" in s for s in subs)
    assert not any(f"/doc/10#" in s for s in subs)


def test_stream_pages_to_store_one_page_pass_with_linking(spark, tmp_path):
    """With an entity dictionary the stream still parses each page once:
    its plan holds ONE page ``MapInPandas`` (linking runs inside the page
    pass) and no union, and its committed triples equal the batch
    pipeline's (``web_pipeline(canonicalize=False)``) on the same
    pages."""
    import contextlib
    import io

    from rdf_tabular_spark.sinks.graph_store import read_graph
    from rdf_tabular_spark.sources.pages import entity_dictionary, synth_pages
    from rdf_tabular_spark.streaming.ingest import stream_pages_to_store
    from rdf_tabular_spark.web import web_pipeline

    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "pages_in")
    synth_pages(spark, 60, seed=9, partitions=2).write.parquet(in_dir)
    ents = entity_dictionary()
    q = stream_pages_to_store(spark, in_dir, os.path.join(tmp, "stream"),
                              os.path.join(tmp, "ckpt"), entity_dict=ents)
    q.awaitTermination(180)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain()
    assert buf.getvalue().count("MapInPandas") == 1, buf.getvalue()
    assert not re.search(r"\bUnion\b", buf.getvalue()), buf.getvalue()

    web_pipeline(spark, spark.read.parquet(in_dir), os.path.join(tmp, "batch"),
                 "b0", entity_dict=ents, canonicalize=False)
    cols = ["subj", "pred", "obj", "obj_is_iri", "obj_datatype", "obj_lang",
            "table_url", "source_num", "support"]

    def rows(root):
        return sorted(tuple(r) for r in
                      read_graph(spark, root).select(cols).collect())

    streamed = rows(os.path.join(tmp, "stream"))
    assert any(r[1].endswith("#mentions") for r in streamed)
    assert streamed == rows(os.path.join(tmp, "batch"))
