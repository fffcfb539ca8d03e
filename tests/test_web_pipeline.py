"""Web-scale pipeline tests: stages 1-4 (north_rule).

Invariants:
- byte-identical extracted text per url (input_hint)
- web-path triples on a page embedding the tree-ops fixture == the CSV-path
  triples from the reference golden (cell triples)
- near-duplicate pages collapse to one canonical subject per logical record
- materialize is idempotent/resumable via manifests
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from rdf_tabular_spark.sources.html_extract import (extract_page,
                                                    pages_to_text,
                                                    pages_to_virtual_rows,
                                                    pages_to_microdata)
from rdf_tabular_spark.sources.pages import (build_page_html, entity_dictionary,
                                             synth_pages, _page_rows)
from rdf_tabular_spark.web import (canonicalize_subjects, link_entities,
                                   pages_to_triples, web_pipeline)

N_PAGES = 200


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages(spark, N_PAGES, seed=42).cache()


def test_pages_schema_and_determinism(spark, pages):
    assert pages.count() == N_PAGES
    cols = dict(pages.dtypes)
    assert cols == {"url": "string", "warc_ts": "timestamp", "html": "binary",
                    "text": "string", "lang": "string"}
    # deterministic: same seed → same bytes
    again = synth_pages(spark, N_PAGES, seed=42)
    h1 = pages.select(F.sha2(F.col("html"), 256).alias("h")).orderBy("h").collect()
    h2 = again.select(F.sha2(F.col("html"), 256).alias("h")).orderBy("h").collect()
    assert h1 == h2


def test_text_extraction_byte_identical(pages):
    """input_hint invariant: extracted text per url == text column, bytewise."""
    ext = pages_to_text(pages)
    joined = pages.join(ext, on="url")
    n_bad = joined.filter(F.col("text") != F.col("extracted_text")).count()
    assert n_bad == 0


def test_virtual_rows(pages):
    rows = pages_to_virtual_rows(pages)
    sample = rows.limit(5).collect()
    assert all(len(r["values"]) == 6 for r in sample)
    assert all(r["csvw_meta"] for r in sample)
    assert rows.count() > N_PAGES  # multiple rows per page


def test_microdata(pages):
    md = pages_to_microdata(pages)
    rows = md.limit(10).collect()
    assert rows
    assert all(r["itemtype"] == "http://schema.org/Place" for r in rows)
    assert {r["prop"] for r in rows} <= {"name", "containsPlace"}


def test_web_triples_match_csv_pipeline(spark, tmp_path):
    """A page embedding the tree-ops fixture content produces the same cell
    triples as the CSV path on the same metadata (reference parity through
    the HTML route)."""
    from rdf_tabular_spark.pipeline import csvw_to_triples
    from rdf_tabular_spark.rdfio.compare import df_to_terms, triple_pr

    rows = _page_rows(7, 4)
    html = build_page_html(7, "host0.example.org", rows, "en", with_microdata=False)
    pages_df = spark.createDataFrame(
        [("https://host0.example.org/trees/page-7", None, bytearray(html.encode()), "", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    web_df = pages_to_triples(pages_df, minimal=True)

    # CSV path with identical metadata + data, table url = the page url
    meta = json.loads(extract_page(html).csvw_meta)
    meta["url"] = "https://host0.example.org/trees/page-7"
    csv_path = tmp_path / "page7.csv"
    header = "GID,On Street,Species,Trim Cycle,Inventory Date,DBH"
    csv_path.write_text("\n".join([header] + [",".join(r) for r in rows]) + "\n")
    csv_df = csvw_to_triples(spark, meta, base="https://host0.example.org/trees/page-7",
                             resolver=lambda u: str(csv_path), minimal=True)
    pr = triple_pr(df_to_terms(web_df.collect()), df_to_terms(csv_df.collect()))
    assert pr.precision == 1.0 and pr.recall == 1.0, (pr.missing, pr.extra)


def test_entity_linking(spark, pages):
    triples = pages_to_triples(pages.limit(30))
    mentions = link_entities(triples, entity_dictionary())
    got = mentions.limit(20).collect()
    assert got
    assert all(r["pred"].endswith("#mentions") for r in got)
    assert all(r["obj"].startswith("https://kg.example.org/entity/") for r in got)


def test_canonicalization_merges_near_dups(spark):
    """Duplicate-content pages (dup_fraction) → same canonical subjects."""
    pages = synth_pages(spark, 100, seed=7, dup_fraction=0.5)
    triples = pages_to_triples(pages).cache()
    releases = []
    rewritten, mapping = canonicalize_subjects(triples, threshold=0.95,
                                               releases=releases)
    n_merged = mapping.count()
    assert n_merged > 0, "expected near-duplicate subjects to merge"
    before = triples.filter(~F.col("obj_is_iri")).select("subj").distinct().count()
    after = rewritten.filter(~F.col("obj_is_iri")).select("subj").distinct().count()
    assert after < before
    # release the mapping's checkpoint too: left behind, Spark's cleaner
    # frees it during a later test that counts the persisted RDDs
    for df in [triples, *releases]:
        df.unpersist()


def _planted_pair(i: int, changed: int, n_tokens: int = 50) -> list[tuple]:
    """Two subjects whose profiles share ``n_tokens - changed`` of their
    ``n_tokens`` field=value tokens (token Jaccard
    ``(n - changed) / (n + changed)``); no token is shared with any other
    pair, and the two profiles differ, so only the near-dup tier can
    merge them."""
    out = []
    for side in "ab":
        subj = f"http://planted.example.org/r{i:03d}{side}"
        for k in range(n_tokens):
            obj = (f"v{i}-{k}-{side}" if side == "b" and k < changed
                   else f"v{i}-{k}")
            out.append((subj, f"http://planted.example.org/f{k}", obj,
                        False, None, None, "http://planted.example.org/t", k))
    return out


def test_near_dup_tier_recall_and_precision(spark):
    """canonicalize_subjects' MinHash-LSH tier at its defaults (threshold
    0.9, 2 of 8 bands): 40 planted pairs at token Jaccard 0.96 (1 of 50
    tokens changed) must merge, with recall >= 0.9; 40 pairs at 0.70
    (9 changed) must not, and nothing merges across pairs."""
    from rdf_tabular_spark.operators.triples import TRIPLE_SCHEMA
    near, far = range(40), range(40, 80)
    rows = [t for i in near for t in _planted_pair(i, 1)]
    rows += [t for i in far for t in _planted_pair(i, 9)]
    releases = []
    _, mapping = canonicalize_subjects(
        spark.createDataFrame(rows, TRIPLE_SCHEMA), releases=releases)
    try:
        canon = {r["id"]: r["canonical_id"] for r in mapping.collect()}
    finally:
        for df in releases:
            df.unpersist()

    def merged(i):
        a = f"http://planted.example.org/r{i:03d}a"
        b = f"http://planted.example.org/r{i:03d}b"
        return canon.get(b, b) == canon.get(a, a)

    hits_near = sum(map(merged, near))
    hits_far = sum(map(merged, far))
    assert hits_near / len(near) >= 0.9, f"recall {hits_near}/{len(near)}"
    assert hits_far == 0, f"{hits_far} pairs below the threshold merged"
    # every merge stays inside its planted pair
    assert all(k[:-1] == v[:-1] for k, v in canon.items()), canon


def test_materialize_and_resume(spark, pages, tmp_path):
    root = str(tmp_path / "graph")
    triples = pages_to_triples(pages.limit(50))
    from rdf_tabular_spark.sinks.graph_store import (materialize,
                                                     processed_batches,
                                                     read_graph)
    m1 = materialize(triples, root, "b0001", lineage={"test": True})
    assert m1["status"] == "committed" and m1["n_triples"] > 0
    assert processed_batches(root) == {"b0001"}
    # resume: second call is a no-op returning the same manifest
    m2 = materialize(triples, root, "b0001")
    assert m2["committed_at"] == m1["committed_at"]
    g = read_graph(spark, root)
    assert g.count() == m1["n_triples"]
    assert "pred_bucket" in g.columns
    # dedup yields set semantics
    assert g.groupBy("subj", "pred", "obj").count().filter("count > 1").count() == 0


def test_web_pipeline_end_to_end(spark, pages, tmp_path):
    root = str(tmp_path / "graph2")
    manifest = web_pipeline(spark, pages.limit(60), root, "r1",
                            entity_dict=entity_dictionary())
    assert manifest["status"] == "committed"
    assert manifest["n_triples"] > 0
    assert os.path.exists(os.path.join(root, "_manifests", "r1.json"))


def test_web_pipeline_releases_every_persist(spark, tmp_path):
    """A long-lived driver holds no cached blocks after a batch: every
    persist web_pipeline makes, the canonical map's localCheckpoint
    included, is released once the batch commits."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    manifest = web_pipeline(spark, synth_pages(spark, 60, seed=7),
                            str(tmp_path / "g"), "b1",
                            entity_dict=entity_dictionary(),
                            incremental_canonical=True)
    assert manifest["n_triples"] > 0
    assert jsc.getPersistentRDDs().size() == before


def test_microdata_to_triples(spark):
    """Stage 1b: schema.org items become rdf:type + property triples with
    vocabulary-resolved predicate IRIs."""
    from rdf_tabular_spark.sources.pages import synth_pages
    from rdf_tabular_spark.web import microdata_to_triples
    pages = synth_pages(spark, 30)  # every pid % 3 == 0 page embeds microdata
    md = microdata_to_triples(pages)
    rows = md.collect()
    assert rows, "microdata pages must yield triples"
    preds = {r["pred"] for r in rows}
    assert "http://schema.org/name" in preds
    assert "http://schema.org/containsPlace" in preds
    types = [r for r in rows if r["pred"].endswith("#type")]
    assert types and all(r["obj"] == "http://schema.org/Place" for r in types)
    # deterministic skolem subjects, page-scoped
    assert all(r["subj"].startswith("_:md-") for r in rows)


def test_fast_tokenizer_equivalence():
    """The regex fast path must produce byte-identical PageContent to the
    html.parser path — same state machine, two front-ends; anything the
    tokenizer can't model falls back (comments, doctype, quoted '>')."""
    from rdf_tabular_spark.sources import html_extract as H
    from rdf_tabular_spark.sources.pages import build_page_html, _page_rows

    def slow_parse(html):
        p = H._PageParser(); p.feed(html); p.close()
        return H.PageContent(
            tables=p.tables,
            csvw_meta=p.csvw_meta.strip() if p.csvw_meta else None,
            text="\n".join(p.text_parts), microdata=p.micro,
            links=p.links, anchors=p.anchors)

    def eq(a, b):
        return (a.text == b.text and a.csvw_meta == b.csvw_meta
                and [t.rows for t in a.tables] == [t.rows for t in b.tables]
                and [(m.item_id, m.itemtype, m.props) for m in a.microdata]
                    == [(m.item_id, m.itemtype, m.props) for m in b.microdata]
                and a.links == b.links and a.anchors == b.anchors)

    for i in range(300):
        h = build_page_html(i, f"h{i}.org", _page_rows(i, 3 + i % 9), "en", i % 3 == 0)
        assert eq(H.extract_page(h), slow_parse(h)), f"page {i}"

    cases = [
        '<p>a &amp; b &lt;x&gt;</p><br><img src="i.png">',
        '<html><!-- c --><body><p>c</p></body></html>',
        '<a title="x>y">t</a>',
        '<div/>text</div>',
        '<p>unclosed<table><tr><td>1</table>',
        '<!DOCTYPE html><html><body>d</body></html>',
        "<script type='application/csvw+json'>{\"url\": \"u\"}</script>z",
        # crawl-truncated pages: stray '<' with no subsequent '>' must not
        # be silently dropped by the fast tokenizer (unconsumed-input check)
        '<table><tr><td>1</td></tr></table>text <',
        '<p>a</p>< b',
        '<',
    ]
    for c in cases:
        assert eq(H.extract_page(c), slow_parse(c)), c[:60]


def test_graph_store_snapshot_read(spark, tmp_path):
    """Iceberg-style snapshot semantics on the parquet graph store: reading
    a batch subset reproduces the graph as of that commit; uncommitted
    batches are never visible."""
    from rdf_tabular_spark.sinks.graph_store import (materialize, read_graph,
                                                     snapshots_as_of)
    from rdf_tabular_spark.sources.pages import DOC_PAGE_META, pages_from_documents
    from rdf_tabular_spark.web import pages_to_triples

    root = str(tmp_path / "g")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    t1 = pages_to_triples(pages_from_documents(docs.filter("doc_id < 20")),
                          minimal=True, default_meta=DOC_PAGE_META)
    t2 = pages_to_triples(pages_from_documents(
        docs.filter("doc_id >= 20 and doc_id < 50")),
        minimal=True, default_meta=DOC_PAGE_META)
    m1 = materialize(t1, root, "b1")
    m2 = materialize(t2, root, "b2")
    assert read_graph(spark, root, batches=["b1"]).count() == m1["n_triples"]
    assert read_graph(spark, root).count() == m1["n_triples"] + m2["n_triples"]
    assert snapshots_as_of(root, "9999-12-31T00:00:00Z") == ["b1", "b2"]
    assert snapshots_as_of(root, "1999-01-01T00:00:00Z") == []


def test_entry_deterministic(spark):
    """Two runs of the flagship query hash identically (driver stability)."""
    import __spark_entry__ as E
    a = sorted(map(tuple, E.entry(spark).collect()))
    b = sorted(map(tuple, E.entry(spark).collect()))
    assert a == b


def test_link_entities_fuzzy_tier(spark):
    """Token-Jaccard fuzzy matching: a literal that is a superset of a
    dictionary surface links when the score clears min_score; unrelated
    literals do not; exact matches score 1.0 regardless."""
    from rdf_tabular_spark.operators.triples import TRIPLE_SCHEMA
    from rdf_tabular_spark.web import link_entities
    rows = [
        ("s1", "p", "Quercus rubra", False, None, None, "t", 1),    # exact
        ("s2", "p", "quercus rubra tree", False, None, None, "t", 2),  # fuzzy 2/3
        ("s3", "p", "entirely unrelated text", False, None, None, "t", 3),
        ("s4", "p", "http://iri", True, None, None, "t", 4),        # IRI: skipped
    ]
    triples = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    ents = {"Quercus rubra": "http://kg/e/quercus"}
    got = {r["subj"]: r["obj"]
           for r in link_entities(triples, ents, min_score=0.5).collect()}
    assert got == {"s1": "http://kg/e/quercus", "s2": "http://kg/e/quercus"}
    # raising the threshold drops the fuzzy hit but keeps the exact one
    strict = {r["subj"] for r in
              link_entities(triples, ents, min_score=0.9).collect()}
    assert strict == {"s1"}


def test_combined_parity(spark):
    """Fused single-parse kernel ≡ pages_to_triples ∪ microdata_to_triples
    ∪ pages_to_jsonld_triples (exact multiset equality over a 300-page
    synth corpus incl. microdata items, skolem ids, csvw tables)."""
    from rdf_tabular_spark.sources.pages import synth_pages
    from rdf_tabular_spark.web import (microdata_to_triples,
                                       pages_to_combined_triples,
                                       pages_to_jsonld_triples,
                                       pages_to_triples)
    pages = synth_pages(spark, 300, partitions=4).persist()
    sep = (pages_to_triples(pages)
           .unionByName(microdata_to_triples(pages))
           .unionByName(pages_to_jsonld_triples(pages)))
    fused = pages_to_combined_triples(pages)
    a = sorted(tuple(r) for r in sep.collect())
    b = sorted(tuple(r) for r in fused.collect())
    pages.unpersist()
    assert len(a) == len(b)
    assert a == b


def test_link_entities_keep_input_matches_union(spark):
    """``link_entities(keep_input=True)`` ≡ its input ∪ ``link_entities``
    over it, both when it links inside the page pass that produced its
    input (one Python node) and when its input streams through its own
    kernel (here a persisted frame): exact multiset equality, mentions of
    every facet's literals included, over pages whose text holds exact
    and fuzzy dictionary surfaces."""
    from rdf_tabular_spark.web import pages_to_combined_triples
    pages = synth_pages(spark, 200, seed=11, partitions=4).persist()
    ents = entity_dictionary()
    fused = link_entities(pages_to_combined_triples(pages), ents,
                          keep_input=True)

    def python_nodes(df):
        return df._jdf.queryExecution().executedPlan().toString() \
            .count("MapInPandas")
    # linking adds no Python node to the page pass's plan
    assert python_nodes(fused) == python_nodes(pages_to_combined_triples(pages))
    base = pages_to_combined_triples(pages).persist()
    want = sorted(tuple(r) for r in
                  base.unionByName(link_entities(base, ents)).collect())
    streamed = sorted(tuple(r) for r in
                      link_entities(base, ents, keep_input=True).collect())
    got = sorted(tuple(r) for r in fused.collect())
    base.unpersist()
    pages.unpersist()
    assert streamed == want
    assert any(t[1].endswith("#mentions") for t in got)
    assert got == want


def test_web_pipeline_empty_batch_commits(spark, tmp_path):
    """Pages that yield no triple at all: the batch commits empty; sizing
    the store write from the count of an empty batch, and canonicalizing
    a batch with no subject, neither block nor fail it."""
    import datetime
    import threading

    from rdf_tabular_spark.sinks.graph_store import read_graph
    from rdf_tabular_spark.sources.pages import PAGES_SCHEMA
    html = b"<html><body><p>no tables, items or scripts</p></body></html>"
    pages = spark.createDataFrame(
        [(f"http://empty.example.org/p{i}", datetime.datetime(2024, 1, 1),
          html, "no tables", "en") for i in range(8)], PAGES_SCHEMA)
    root = str(tmp_path / "graph")
    box = {}

    def run():
        try:
            box["manifest"] = web_pipeline(spark, pages, root, "b0",
                                           entity_dict=entity_dictionary(),
                                           incremental_canonical=True)
        except BaseException as e:  # reported by the assertion below
            box["error"] = e

    worker = threading.Thread(target=run, daemon=True)
    worker.start()
    worker.join(300)
    assert not worker.is_alive(), "web_pipeline blocked on an empty batch"
    assert "error" not in box, box.get("error")
    assert box["manifest"]["status"] == "committed"
    assert box["manifest"]["n_triples"] == 0
    assert read_graph(spark, root).count() == 0


def test_combined_parity_jsonld_pages(spark):
    """Same multiset parity over the doc-fixture pages, which DO embed a
    JSON-LD block per page (synth_pages does not) — pins the fused
    kernel's JSON-LD facet incl. the negative source_num numbering."""
    from rdf_tabular_spark.sources.pages import (DOC_PAGE_META,
                                                 pages_from_documents)
    from rdf_tabular_spark.web import (microdata_to_triples,
                                       pages_to_combined_triples,
                                       pages_to_jsonld_triples,
                                       pages_to_triples)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .limit(120)
    pages = pages_from_documents(docs).persist()
    sep = (pages_to_triples(pages, minimal=True, default_meta=DOC_PAGE_META)
           .unionByName(microdata_to_triples(pages))
           .unionByName(pages_to_jsonld_triples(pages)))
    fused = pages_to_combined_triples(pages, minimal=True,
                                      default_meta=DOC_PAGE_META)
    a = sorted(tuple(r) for r in sep.collect())
    b = sorted(tuple(r) for r in fused.collect())
    pages.unpersist()
    assert any(r[7] < 0 for r in b)     # JSON-LD facet present
    assert len(a) == len(b)
    assert a == b


def test_web_pipeline_respect_noindex(spark, tmp_path):
    """The batch path drops robots-noindex pages (doc_id % 7 == 3) inside
    the fused parse: the store holds no triple of such a page, and what it
    commits is exactly the fused kernel's triples of the other pages."""
    from rdf_tabular_spark.sinks.graph_store import read_graph
    from rdf_tabular_spark.sources.pages import (DOC_PAGE_META, doc_page_url,
                                                 pages_from_documents)
    from rdf_tabular_spark.web import pages_to_combined_triples
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .filter("doc_id >= 0 and doc_id <= 20")
    pages = pages_from_documents(docs).persist()
    noindex = [doc_page_url(d) for d in range(21) if d % 7 == 3]
    root = str(tmp_path / "g")
    web_pipeline(spark, pages, root, "b1", default_meta=DOC_PAGE_META,
                 canonicalize=False, respect_noindex=True)
    terms = ["subj", "pred", "obj", "obj_is_iri", "obj_datatype", "obj_lang"]
    g = read_graph(spark, root)
    stored = g.select(terms).collect()
    kept = pages.filter(~F.col("url").isin(noindex))
    want = pages_to_combined_triples(kept, default_meta=DOC_PAGE_META) \
        .select(terms).collect()
    hit = g.filter(F.col("table_url").isin(noindex)).count()
    pages.unpersist()
    assert hit == 0
    assert not any(r["subj"].startswith(u + "#")
                   for r in stored for u in noindex)
    assert want and set(map(tuple, stored)) == set(map(tuple, want))


def test_graph_store_compaction(spark, tmp_path):
    """Compaction merges live batches into one (cross-batch re-dedup with
    summed support), shadows the inputs atomically via the `replaces`
    manifest key, keeps pre-compaction time travel alive until expiry,
    and never un-skips a resubmitted input batch."""
    import glob
    import os

    from rdf_tabular_spark.sinks.graph_store import (
        compact, expire_replaced, live_batches, materialize,
        processed_batches, read_graph)
    from rdf_tabular_spark.sources.pages import (DOC_PAGE_META,
                                                 pages_from_documents)
    from rdf_tabular_spark.web import pages_to_triples

    root = str(tmp_path / "g")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lo = pages_to_triples(pages_from_documents(docs.filter("doc_id < 20")),
                          minimal=True, default_meta=DOC_PAGE_META)
    hi = pages_to_triples(pages_from_documents(
        docs.filter("doc_id >= 20 and doc_id < 30")),
        minimal=True, default_meta=DOC_PAGE_META)
    m1 = materialize(lo, root, "b1")
    m2 = materialize(hi, root, "b2")
    m3 = materialize(lo, root, "b3-dup")  # b3 repeats b1's triples exactly
    before = read_graph(spark, root)
    n_before, n_distinct = before.count(), \
        before.select("subj", "pred", "obj").distinct().count()
    assert n_before == m1["n_triples"] + m2["n_triples"] + m3["n_triples"]

    m = compact(spark, root)
    assert m["replaces"] == ["b1", "b2", "b3-dup"]
    # live set flipped to the compacted batch only
    assert live_batches(root) == {m["batch_id"]}
    after = read_graph(spark, root)
    # cross-batch dedup: b1's triples and b3's fold into one row each,
    # support doubled
    assert after.count() == n_distinct == m["n_triples"]
    from pyspark.sql import functions as F
    assert after.filter(F.col("support") == 2).count() == m1["n_triples"]
    assert after.selectExpr("sum(support)").first()[0] == n_before
    # one file per pred_bucket dir (the small-files invariant survives)
    for d in glob.glob(os.path.join(root, "data",
                                    f"batch={m['batch_id']}", "pred_bucket=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1
    # pre-expiry time travel: explicit old-batch read still works
    assert read_graph(spark, root, batches=["b1"]).count() == m1["n_triples"]
    # resume: every original id stays processed
    assert {"b1", "b2", "b3-dup"} <= processed_batches(root)
    # a second compact is a no-op with a single live batch
    assert compact(spark, root) is None

    expired = expire_replaced(spark, root)
    assert expired == ["b1", "b2", "b3-dup"]
    assert not os.path.isdir(os.path.join(root, "data", "batch=b1"))
    assert read_graph(spark, root, batches=["b1"]).count() == 0
    assert read_graph(spark, root).count() == m["n_triples"]
    # expired inputs must STILL be resume-skipped
    assert {"b1", "b2", "b3-dup"} <= processed_batches(root)
    again = materialize(lo, root, "b1")  # resubmission -> skip, old manifest
    assert again["status"] == "expired"


def test_kg_lifecycle_end_to_end(spark, tmp_path):
    """The full KG lifecycle over one store: extract (stage 1-4) →
    owl:sameAs fold into the canonical map → RDFS entailment batch →
    SPARQL text query → UPDATE retraction → rule refresh on new data.
    Every maintenance surface the engine ships, composed."""
    from rdf_tabular_spark.jobs.query import main as query_main
    from rdf_tabular_spark.sinks.graph_store import (infer_rdfs_batch,
                                                     materialize,
                                                     read_graph,
                                                     read_graph_canonical,
                                                     refresh_rule_batches,
                                                     update_store,
                                                     update_sameas_map)
    from rdf_tabular_spark.sources.pages import synth_pages

    root = str(tmp_path / "kg")
    pages = synth_pages(spark, 40, seed=11)
    web_pipeline(spark, pages, root, "crawl1",
                 entity_dict=entity_dictionary())
    n0 = read_graph(spark, root).count()
    assert n0 > 0

    # declare an identity + vocabulary via SPARQL UPDATE, fold sameAs
    subj = read_graph(spark, root).select("subj").first()["subj"]
    update_store(spark, root, "u1", f"""
        INSERT DATA {{
          <{subj}> <http://www.w3.org/2002/07/owl#sameAs> <http://ex.org/e1> .
          <https://kg.example.org/ontology#mentions>
            <http://www.w3.org/2000/01/rdf-schema#domain>
            <http://ex.org/Document>
        }}""")
    update_sameas_map(spark, root, "m1")
    canon = {r.id: r.canonical_id for r in
             __import__("rdf_tabular_spark.sinks.graph_store",
                        fromlist=["load_canonical_map"])
             .load_canonical_map(spark, root).collect()}
    assert canon[subj] == canon["http://ex.org/e1"]
    assert read_graph_canonical(spark, root).count() <= n0 + 2

    # entailment batch + SPARQL string query through the CLI
    infer_rdfs_batch(spark, root, "rdfs1")
    res = query_main(["--store", root, "--sparql",
                      "PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> "
                      "SELECT (COUNT(*) AS ?n) WHERE "
                      "{ ?d rdf:type <http://ex.org/Document> }"])
    n_typed = res["sample"][0]["n"]
    assert n_typed > 0           # rdfs2 fired over #mentions statements

    # retract one mention; the refresh re-derives entailment over the
    # post-delete graph
    doomed = read_graph(spark, root).filter(
        "pred = 'https://kg.example.org/ontology#mentions'") \
        .select("subj", "pred", "obj").first()
    update_store(spark, root, "u2",
                 f"DELETE DATA {{ <{doomed.subj}> <{doomed.pred}> "
                 f"<{doomed.obj}> }}")
    out = refresh_rule_batches(spark, root)
    assert [m["batch_id"] for m in out] == ["rdfs1-r1"]
    res2 = query_main(["--store", root, "--sparql",
                       "PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> "
                       "SELECT (COUNT(*) AS ?n) WHERE "
                       "{ ?d rdf:type <http://ex.org/Document> }"])
    assert res2["sample"][0]["n"] <= n_typed


def test_colspan_rowspan_grid_expansion():
    """Real-crawl tables use spans: colspan repeats the value across
    columns, rowspan carries it into following rows (pandas.read_html
    convention), adversarial span declarations are capped at 1000."""
    html = """
    <table>
     <tr><th>h1</th><th colspan=2>h23</th></tr>
     <tr><td rowspan=2>a</td><td>b</td><td>c</td></tr>
     <tr><td>d</td><td>e</td></tr>
     <tr><td>x</td><td>y</td><td>z</td></tr>
    </table>"""
    rows = extract_page(html).tables[0].rows
    assert rows == [
        ["h1", "h23", "h23"],
        ["a", "b", "c"],
        ["a", "d", "e"],
        ["x", "y", "z"]]
    # adversarial colspan: capped, not materialized
    bomb = '<table><tr><td colspan="999999999">x</td></tr></table>'
    assert len(extract_page(bomb).tables[0].rows[0]) == 1000
    # malformed span values fall back to 1
    junk = '<table><tr><td colspan="NaN" rowspan="">only</td></tr></table>'
    assert extract_page(junk).tables[0].rows == [["only"]]


def test_rowspan_carry_into_short_rows():
    """A row with too few cells to reach a carried column still receives
    the carry-down in THIS row (gap padded with ''), and the carry never
    leaks into a later row at the wrong position."""
    html = ('<table><tr><td>A</td><td rowspan=2>B</td></tr>'
            '<tr></tr>'
            '<tr><td>x</td><td>y</td></tr></table>')
    rows = extract_page(html).tables[0].rows
    assert rows == [["A", "B"], ["", "B"], ["x", "y"]]
    # short row whose cells stop before the carried column
    html2 = ('<table>'
             '<tr><td>a</td><td>b</td><td rowspan=3>c</td></tr>'
             '<tr><td>d</td></tr>'
             '<tr><td>e</td><td>f</td></tr></table>')
    rows2 = extract_page(html2).tables[0].rows
    assert rows2 == [["a", "b", "c"], ["d", "", "c"], ["e", "f", "c"]]


def test_comention_pmi(spark):
    """PMI over per-document co-mentions: positive association for the pair
    that always co-occurs, negative for the pair that never does beyond
    chance; min_pairs prunes singletons."""
    import math

    from rdf_tabular_spark.web import comention_pmi, comention_triples
    docs = spark.createDataFrame(
        [(1, "spark spark stream x"), (2, "spark stream y"),
         (3, "spark stream"), (4, "vector z"), (5, "vector spark"),
         (6, "vector spark")],
        "doc_id long, text string")
    out = {(r["ent_a"], r["ent_b"]): (r["n_ab"], r["pmi"])
           for r in comention_pmi(
               docs, ["spark", "stream", "vector"], min_pairs=2).collect()}
    # spark∩stream = docs 1-3; spark appears in 5 docs, stream in 3, N=6
    n_ab, pmi = out[("spark", "stream")]
    assert n_ab == 3
    assert pmi == round(math.log(3 * 6 / (5 * 3)), 4)
    # vector∩spark = docs 5,6
    n_ab2, pmi2 = out[("spark", "vector")]
    assert n_ab2 == 2
    assert pmi2 == round(math.log(2 * 6 / (5 * 3)), 4) and pmi2 < 0
    # repeated mentions inside one doc count once (distinct semantics)
    assert ("stream", "vector") not in out  # never co-occur

    trips = comention_triples(
        docs, {"spark": "e:spark", "stream": "e:stream", "vector": "e:vec"},
        min_pmi=0.0, min_pairs=2).collect()
    assert {(t["subj"], t["pred"], t["obj"]) for t in trips} == {
        ("e:spark", "https://kg.example.org/ontology#relatedTo", "e:stream")}


def test_pages_to_links_and_host_graph(spark):
    """Link extraction: hrefs collected in the one shared parse, relative
    targets resolved against the page URL, host aggregation counts pairs."""
    import datetime

    from rdf_tabular_spark.sources.pages import PAGES_SCHEMA
    from rdf_tabular_spark.web import host_link_graph, pages_to_links
    ts = datetime.datetime(2024, 1, 1)
    html1 = (b'<html><body><a href="/about">About</a>'
             b'<a href="http://other.example/page">x</a>'
             b'<a name="anchor-only">no href</a></body></html>')
    html2 = b'<html><body><a href="../up">rel</a></body></html>'
    pages = spark.createDataFrame(
        [("http://h1.example/a/b", ts, html1, "About\nx\nno href", "en"),
         ("http://h2.example/d/e/f", ts, html2, "rel", "en")], PAGES_SCHEMA)
    links = {(r["src"], r["dst"]) for r in pages_to_links(pages).collect()}
    assert links == {
        ("http://h1.example/a/b", "http://h1.example/about"),
        ("http://h1.example/a/b", "http://other.example/page"),
        ("http://h2.example/d/e/f", "http://h2.example/d/up")}
    hosts = {(r["src_host"], r["dst_host"]): r["n_links"]
             for r in host_link_graph(pages_to_links(pages)).collect()}
    assert hosts == {("h1.example", "h1.example"): 1,
                     ("h1.example", "other.example"): 1,
                     ("h2.example", "h2.example"): 1}


def test_anchor_text_capture():
    """PageContent.anchors pairs each CLOSED <a href> with its visible text:
    nested markup flattened, entities decoded, skip regions excluded,
    unclosed anchors dropped (they still appear in .links)."""
    from rdf_tabular_spark.sources.html_extract import extract_page
    html = ('<body><a href="/x">Hello <b>World</b></a>'
            '<a href="/y"></a>'
            '<a href="/z">a &amp; b</a>'
            '<a name="no-href">skip me</a>'
            '<a href="/unclosed">tail')
    pc = extract_page(html)
    assert pc.anchors == [("/x", "Hello World"), ("/y", ""), ("/z", "a & b")]
    assert pc.links == ["/x", "/y", "/z", "/unclosed"]


def test_pages_to_anchors(spark):
    """(src, dst, anchor) rows: urljoin resolution + anchor text, matching
    pages_to_links' edge set where anchors are closed."""
    import datetime

    from rdf_tabular_spark.sources.pages import PAGES_SCHEMA
    from rdf_tabular_spark.web import pages_to_anchors
    ts = datetime.datetime(2024, 1, 1)
    html = (b'<html><body><a href="/about">About us</a>'
            b'<a href="http://other.example/page">ext</a></body></html>')
    pages = spark.createDataFrame(
        [("http://h1.example/a/b", ts, html, "About us\next", "en")],
        PAGES_SCHEMA)
    rows = {(r["src"], r["dst"], r["anchor"])
            for r in pages_to_anchors(pages).collect()}
    assert rows == {
        ("http://h1.example/a/b", "http://h1.example/about", "About us"),
        ("http://h1.example/a/b", "http://other.example/page", "ext")}


def test_latest_snapshot(spark):
    """One row per url, greatest warc_ts wins; same-second ties break
    deterministically on md5(html)."""
    import datetime

    from rdf_tabular_spark.operators.crawl import latest_snapshot
    from rdf_tabular_spark.sources.pages import PAGES_SCHEMA
    t0 = datetime.datetime(2024, 1, 1)
    t1 = datetime.datetime(2024, 2, 1)
    rows = [
        ("http://a/", t0, b"old", "old", "en"),
        ("http://a/", t1, b"new", "new", "en"),
        ("http://b/", t0, b"only", "only", "de"),
        # tie on ts: md5(b"zz") > md5(b"aa") lexically -> "zz" wins
        ("http://c/", t0, b"aa", "aa", "en"),
        ("http://c/", t0, b"zz", "zz", "en"),
    ]
    kept = {r["url"]: r for r in
            latest_snapshot(spark.createDataFrame(rows, PAGES_SCHEMA)).collect()}
    assert len(kept) == 3
    assert kept["http://a/"]["text"] == "new"
    assert kept["http://b/"]["text"] == "only"
    import hashlib
    exp = max(("aa", "zz"), key=lambda s: hashlib.md5(s.encode()).hexdigest())
    assert kept["http://c/"]["text"] == exp


def test_anchor_labels_majority_vote(spark):
    """Majority anchor wins per dst; count ties break on anchor asc;
    empty anchors are ignored."""
    from rdf_tabular_spark.web import anchor_labels
    anchors = spark.createDataFrame(
        [("s1", "http://t/1", "Alpha"), ("s2", "http://t/1", "Alpha"),
         ("s3", "http://t/1", "Beta"),
         ("s4", "http://t/2", "Gamma"), ("s5", "http://t/2", "Delta"),
         ("s6", "http://t/3", "")],
        "src string, dst string, anchor string")
    got = {r["subj"]: r["obj"] for r in anchor_labels(anchors).collect()}
    assert got == {"http://t/1": "Alpha",   # majority
                   "http://t/2": "Delta"}   # tie -> lexicographic


def test_latest_snapshot_property(spark):
    """Property check vs a python model on a randomized-but-deterministic
    recrawl multiset: one row per url, winner = max (ts, md5(html));
    idempotent (applying twice = once)."""
    import datetime
    import hashlib

    from rdf_tabular_spark.operators.crawl import latest_snapshot
    from rdf_tabular_spark.sources.pages import PAGES_SCHEMA
    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(200):
        url = f"http://h/{i % 37}"
        ts = base + datetime.timedelta(seconds=(i * 7919) % 11)  # many ties
        html = f"v{i}".encode()
        rows.append((url, ts, html, f"v{i}", "en"))
    model = {}
    for url, ts, html, text, lang in rows:
        key = (ts, hashlib.md5(html).hexdigest())
        if url not in model or key > model[url][0]:
            model[url] = (key, text)
    df = spark.createDataFrame(rows, PAGES_SCHEMA)
    once = latest_snapshot(df)
    got = {r["url"]: r["text"] for r in once.collect()}
    assert got == {u: t for u, (_, t) in model.items()}
    twice = {r["url"]: r["text"] for r in latest_snapshot(once).collect()}
    assert twice == got
