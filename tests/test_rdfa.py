"""RDFa-lite extraction: parser semantics (vocab/prefix/typeof/property,
both tokenizer front-ends), the Arrow source, the triple face, and fused-
kernel parity."""

import pytest

from rdf_tabular_spark.sources.html_extract import extract_page

RDFA_PAGE = """<html><body>
<div vocab="http://schema.org/" prefix="ex: http://ex.org/ns#"
     typeof="Article" resource="#art-1">
  <span property="name">Doc One</span>
  <a property="inLanguage" href="http://lang.example.org/en">english</a>
  <meta property="wordCount" content="128">
  <b property="ex:rank" content="3"></b>
</div>
<div typeof="Person Teacher">
  <span property="name">Ada</span>
</div>
</body></html>"""


def _props(page):
    return {it.subject: (it.types, dict(it.props)) for it in page.rdfa}


def test_rdfa_parser_semantics():
    out = _props(extract_page(RDFA_PAGE))
    types, props = out["#art-1"]
    assert types == "http://schema.org/Article"
    assert props["http://schema.org/name"] == "Doc One"       # text content
    assert props["http://schema.org/inLanguage"] == \
        "http://lang.example.org/en"                          # href value
    assert props["http://schema.org/wordCount"] == "128"      # content attr
    assert props["http://ex.org/ns#rank"] == "3"              # CURIE prefix
    # second scope: blank-node subject, multi-token typeof, vocab persists
    types2, props2 = out["_:rdfa1"]
    assert types2 == "http://schema.org/Person http://schema.org/Teacher"
    assert props2["http://schema.org/name"] == "Ada"


def test_rdfa_fast_and_slow_parsers_agree():
    # a comment forces the html.parser fallback; output must be identical
    slow = extract_page("<!-- c -->" + RDFA_PAGE)
    fast = extract_page(RDFA_PAGE)
    assert _props(slow) == _props(fast)
    assert slow.text == fast.text


def test_rdfa_no_vocab_keeps_bare_terms():
    p = extract_page('<div typeof="Thing"><i property="x">v</i></div>')
    assert _props(p) == {"_:rdfa0": ("Thing", {"x": "v"})}


def test_rdfa_triple_face_and_fused_parity(spark):
    from pyspark.sql import functions as F

    from rdf_tabular_spark.web import pages_to_combined_triples, rdfa_to_triples
    pages = spark.createDataFrame(
        [("http://x.org/p1", RDFA_PAGE.encode())], "url string, html binary")
    single = rdfa_to_triples(pages)
    rows = {(r["subj"], r["pred"], r["obj"], r["obj_is_iri"])
            for r in single.collect()}
    # fragment subject resolved against the url
    assert ("http://x.org/p1#art-1",
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            "http://schema.org/Article", True) in rows
    assert ("http://x.org/p1#art-1", "http://schema.org/inLanguage",
            "http://lang.example.org/en", True) in rows
    assert ("http://x.org/p1#art-1", "http://schema.org/wordCount",
            "128", False) in rows
    # skolemized blank subject is url-scoped and deterministic
    blanks = {s for s, _, _, _ in rows if s.startswith("_:")}
    assert len(blanks) == 1 and next(iter(blanks)).startswith("_:ra-")
    # two type triples from the multi-token typeof
    assert sum(1 for _, p, _, _ in rows if p.endswith("#type")) == 3
    # fused kernel emits the identical RDFa triple set (page has no
    # tables/microdata/jsonld, so combined == rdfa facet)
    fused = pages_to_combined_triples(pages, minimal=True)
    frows = {(r["subj"], r["pred"], r["obj"], r["obj_is_iri"])
             for r in fused.select("subj", "pred", "obj", "obj_is_iri")
             .collect()}
    assert frows == rows


def test_rdfa_typeof_only_scope_keeps_type_triples(spark):
    """A typeof scope with NO property elements must still yield its
    rdf:type triples in BOTH the single-facet and fused paths (r5 advice:
    the pages_to_rdfa kernel previously emitted no rows for such a scope,
    silently dropping the types the fused path did emit)."""
    from rdf_tabular_spark.web import pages_to_combined_triples, rdfa_to_triples
    page = ('<div vocab="http://schema.org/" typeof="Person" '
            'resource="#p"></div>')
    pages = spark.createDataFrame(
        [("http://x.org/t", page.encode())], "url string, html binary")
    single = {(r["subj"], r["pred"], r["obj"], r["obj_is_iri"])
              for r in rdfa_to_triples(pages).collect()}
    fused = {(r["subj"], r["pred"], r["obj"], r["obj_is_iri"])
             for r in pages_to_combined_triples(pages, minimal=True)
             .select("subj", "pred", "obj", "obj_is_iri").collect()}
    expect = {("http://x.org/t#p",
               "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
               "http://schema.org/Person", True)}
    assert single == expect
    assert fused == expect


def test_nested_markup_inside_property_element_keeps_tail_text():
    """Depth-tracked capture: text after nested markup inside a
    text-content property element is retained (r5 advice — previously the
    first nested end tag closed the capture, dropping ' extra')."""
    p = extract_page(
        '<div vocab="http://s.org/" typeof="T">'
        '<span property="name">Doc <b>1</b> extra</span></div>')
    assert dict(p.rdfa[0].props) == {"http://s.org/name": "Doc 1 extra"}
    # same rule for the microdata prop stack
    m = extract_page(
        '<div itemscope itemtype="http://s.org/T">'
        '<span itemprop="name">Doc <i>2</i> tail</span></div>')
    assert dict(m.microdata[0].props) == {"name": "Doc 2 tail"}
    # nested property elements still close LIFO
    n = extract_page(
        '<div vocab="http://s.org/" typeof="T">'
        '<span property="a">x <span property="b">y</span> z</span></div>')
    assert dict(n.rdfa[0].props) == {"http://s.org/a": "x y z",
                                     "http://s.org/b": "y"}
    # truncated crawl page: unclosed capture still yields its prop
    t = extract_page('<div itemscope itemtype="http://s.org/T">'
                     '<span itemprop="name">cut off')
    assert dict(t.microdata[0].props) == {"name": "cut off"}


def test_omitted_end_tags_do_not_extend_a_microdata_capture():
    """A <p>/<li>/<td>/<tr>/<option> whose end tag crawl HTML omits
    neither raises nor lowers an open capture's depth: the capture ends
    with its own element instead of swallowing the text after it. Such an
    element that opens a capture is ended by its end tag or by the start
    of a sibling of the same tag."""
    m = extract_page(
        '<div itemscope itemtype="http://s.org/T">'
        '<span itemprop="name">Doc <p>para</span> after'
        '<p itemprop="desc">x <b>y</b></p> gap'
        '<ul><li itemprop="kw">one<li itemprop="kw">two</ul> tail</div>')
    assert m.microdata[0].props == [("name", "Doc para"),
                                    ("desc", "x y"),
                                    ("kw", "one"), ("kw", "two")]


def test_omitted_end_tags_do_not_extend_an_rdfa_capture():
    """The RDFa property capture follows the same rule as microdata."""
    r = extract_page(
        '<div vocab="http://s.org/" typeof="T">'
        '<span property="name">Doc <table><tr><td>a<td>b</table></span>'
        ' after<select><option property="opt">x<option>y</select>'
        '<table><tr><td property="cell">v</td><td>w</table></div>')
    assert r.rdfa[0].props == [("http://s.org/name", "Doc ab"),
                               ("http://s.org/opt", "x"),
                               ("http://s.org/cell", "v")]


# --- entity disambiguation (stage 2c) ---------------------------------------

def test_disambiguate_mentions_context_argmax(spark):
    from rdf_tabular_spark.web import disambiguate_mentions
    docs = spark.createDataFrame(
        [(1, "the jaguar sprinted across the savanna plains"),
         (2, "the jaguar engine and gearbox roared on the track"),
         (3, "nothing relevant here")],
        "doc_id long, text string")
    cands = spark.createDataFrame(
        [("jaguar", "http://kg/cat", "savanna plains predator cat"),
         ("jaguar", "http://kg/car", "engine gearbox track car")],
        "surface string, entity string, context string")
    out = {r["doc_id"]: (r["entity"], r["score"], r["n_candidates"])
           for r in disambiguate_mentions(docs, cands).collect()}
    assert out[1][0] == "http://kg/cat" and out[1][2] == 2
    assert out[2][0] == "http://kg/car"
    assert 3 not in out            # no mention, no row
    assert out[1][1] == 0.5        # 2 of 4 context tokens present


def test_disambiguate_tie_breaks_on_entity(spark):
    from rdf_tabular_spark.web import disambiguate_mentions
    docs = spark.createDataFrame([(1, "jaguar spotted")],
                                 "doc_id long, text string")
    cands = spark.createDataFrame(
        [("jaguar", "http://kg/b", "x1 y1"),
         ("jaguar", "http://kg/a", "x2 y2")],
        "surface string, entity string, context string")
    row = disambiguate_mentions(docs, cands).collect()[0]
    assert row["entity"] == "http://kg/a" and row["score"] == 0.0


def test_disambiguation_plan_broadcast_one_shuffle(spark):
    import re as _re

    from rdf_tabular_spark import queries as Q
    from tests.test_plans import n_exchanges, plan_of
    p = plan_of(Q.queries()["kg_entity_disambiguation"](
        spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert n_exchanges(p) == 1     # only the (doc, surface) window


def test_extract_job_disambiguate(spark, tmp_path):
    """--disambiguate CANDS.parquet writes argmax mention links."""
    import os

    from rdf_tabular_spark.jobs.extract import main
    cands_path = str(tmp_path / "cands.parquet")
    spark.createDataFrame(
        [("sighting", "http://kg/event/sighting", "spotted reported seen")],
        "surface string, entity string, context string") \
        .write.parquet(cands_path)
    out = str(tmp_path / "store")
    m = main(["--synth", "30", "--out", out, "--batch-id", "d1",
              "--no-canonicalize", "--disambiguate", cands_path])
    assert m["mentions_dir"].endswith("mentions/d1")
    links = spark.read.parquet(os.path.join(out, "mentions", "d1"))
    assert set(links.columns) == {"url", "surface", "entity", "score",
                                  "n_candidates"}
    assert m["n_mentions"] == links.count()
