"""A page whose embedded CSVW metadata is malformed loses only its table
triples: the metadata counts as absent, the page's microdata, JSON-LD and
RDFa facets still emit, and the other pages of the batch are unaffected."""

import datetime
import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rdf_tabular_spark.sources.html_extract import extract_page
from rdf_tabular_spark.sources.pages import PAGES_SCHEMA, build_page_html
from rdf_tabular_spark.web import (_emit_jsonld_triples,
                                   _emit_microdata_triples,
                                   _emit_rdfa_triples, _emit_table_triples,
                                   pages_to_combined_triples)

MALFORMED = [
    "{not json",
    "[1,2]",
    "5",
    "null",
    '{"tableSchema": 5}',
    '{"tableSchema":{"columns":"x"}}',
    '{"tableSchema":{"columns":[5]}}',
    '{"url": 3}',
    '{"dialect": "x"}',
    '{"tables": []}',
    '{"tableSchema": "schema.json"}',
    "[" * 100_000,
    # these load, and fail on the page's cells
    '{"tableSchema":{"columns":[{"separator": true}]}}',
    '{"tableSchema":{"columns":[{"datatype":{"base":"string","format":"(["}}]}}',
]

_FACETS = (
    '<div itemscope itemtype="http://schema.org/Place">'
    '<span itemprop="name">Elm</span></div>'
    '<script type="application/ld+json">'
    '{"@id": "http://ex.org/e", "http://schema.org/name": "E"}</script>'
    '<div vocab="http://schema.org/" typeof="Person">'
    '<span property="name">Ann</span></div>')


def _page(meta: str, facets: str = "") -> str:
    return ('<html><head><script type="application/csvw+json">' + meta +
            "</script></head><body><table><tr><th>a</th><th>b</th></tr>"
            "<tr><td>1</td><td>x</td></tr></table>" + facets +
            "</body></html>")


def _table_triples(html: str) -> list:
    return _emit_table_triples(extract_page(html), "http://p.example.org/1",
                               None, True, 1)


@pytest.mark.parametrize("meta", MALFORMED, ids=range(len(MALFORMED)))
def test_malformed_meta_is_absent(meta):
    page = extract_page(_page(meta, _FACETS))
    url = "http://p.example.org/1"
    table = _emit_table_triples(page, url, None, True, 1)
    assert table == []
    for emit in (_emit_microdata_triples, _emit_jsonld_triples,
                 _emit_rdfa_triples):
        facet = emit(page, url)
        assert facet, emit.__name__


def test_wellformed_meta_still_emits():
    assert _table_triples(_page("{}"))


def test_meta_reads_no_local_file(tmp_path):
    """A page cannot make the executor load a schema from its own disk."""
    (tmp_path / "s.json").write_text(json.dumps(
        {"columns": [{"name": "a"}, {"name": "b"}]}))
    meta = json.dumps({"url": f"{tmp_path}/t.csv", "tableSchema": "s.json"})
    assert _table_triples(_page(meta)) == []


_CSVW_KEYS = st.sampled_from([
    "url", "tableSchema", "columns", "name", "titles", "datatype", "base",
    "format", "aboutUrl", "propertyUrl", "valueUrl", "separator", "null",
    "default", "lang", "virtual", "suppressOutput", "dialect", "tables",
    "@context", "@type", "@id"])
_JSON = st.recursive(
    st.none() | st.booleans() | st.integers() | st.floats(allow_nan=False)
    | st.text(max_size=8),
    lambda inner: st.lists(inner, max_size=4)
    | st.dictionaries(_CSVW_KEYS | st.text(max_size=6), inner, max_size=4),
    max_leaves=16)
# metadata that loads, so that applying it to the page's cells is exercised
_SCHEMA = st.builds(
    lambda cols: {"tableSchema": {"columns": cols}},
    st.lists(st.dictionaries(_CSVW_KEYS, _JSON, max_size=4), max_size=3))


@settings(max_examples=300, deadline=None, derandomize=True)
@given(st.text(max_size=40) | (_JSON | _SCHEMA).map(json.dumps))
def test_emitter_never_raises(meta):
    _table_triples(_page(meta))


def test_malformed_default_meta_fails_the_call(spark):
    """The caller's own fallback metadata is not page input: it must load."""
    pages = spark.createDataFrame([], PAGES_SCHEMA)
    with pytest.raises(ValueError, match="default_meta"):
        pages_to_combined_triples(pages, default_meta={"tableSchema": 5})


def test_fused_kernel_skips_poisoned_pages(spark):
    ts = datetime.datetime(2024, 1, 1)
    good = build_page_html(0, "good.example.org",
                           [["1", "Elm St", "Oak", "Large Tree Routine Prune",
                             "10/18/2010", "11"]], "en", True)
    good_rows = [("http://good.example.org/0", ts, good.encode(), "", "en")]
    bad_rows = [(f"http://bad.example.org/{i}", ts, _page(m).encode(), "", "en")
                for i, m in enumerate(MALFORMED)]

    def triples(rows):
        pages = spark.createDataFrame(rows, PAGES_SCHEMA).repartition(2)
        return sorted(tuple(r) for r in
                      pages_to_combined_triples(pages).collect())

    want = triples(good_rows)
    assert want and triples(bad_rows + good_rows) == want
