"""Datatype coercion matrix (reference: spec/metadata_spec.rb:755-1004)."""

import pytest

from rdf_tabular_spark.csvw.coerce import value_matching_datatype
from rdf_tabular_spark.csvw.context import CSVW, RDF, XSD


def run(value, dt, lang=None):
    cv, errors = value_matching_datatype(value, dt, lang)
    return cv, errors


# (base, facets, lexical) → (expected lexical | None, expected datatype suffix | None)
CASES = [
    # strings
    ("string", {}, "foo", "foo", None),
    # booleans (reference: metadata.rb:1802-1821)
    ("boolean", {}, "true", "true", "boolean"),
    ("boolean", {}, "1", "true", "boolean"),
    ("boolean", {}, "false", "false", "boolean"),
    ("boolean", {}, "0", "false", "boolean"),
    ("boolean", {"format": "Y|N"}, "Y", "true", "boolean"),
    ("boolean", {"format": "Y|N"}, "N", "false", "boolean"),
    ("boolean", {"format": "YES|NO"}, "YES", "true", "boolean"),
    ("boolean", {"format": "YES|NO"}, "NO", "false", "boolean"),
    # integers
    ("integer", {}, "1234", "1234", "integer"),
    ("integer", {}, "-12", "-12", "integer"),
    ("byte", {}, "127", "127", "byte"),
    ("unsignedByte", {}, "255", "255", "unsignedByte"),
    ("nonNegativeInteger", {}, "0", "0", "nonNegativeInteger"),
    # numeric normalization (reference: metadata.rb:1766-1801)
    ("decimal", {"groupChar": ","}, "1,234,456.789", "1234456.789", "decimal"),
    ("decimal", {"groupChar": ".", "decimalChar": ","}, "1.234.456,789", "1234456.789", "decimal"),
    ("double", {}, "1234.456E7", "1234.456E7", "double"),
    ("double", {}, "NaN", "NaN", "double"),
    ("double", {}, "INF", "INF", "double"),
    ("double", {}, "-INF", "-INF", "double"),
    # dates (reference: metadata.rb:1822-1893)
    ("date", {"format": "M/d/yyyy"}, "10/18/2010", "2010-10-18", "date"),
    ("date", {"format": "M/d/yyyy"}, "6/2/2010", "2010-06-02", "date"),
    ("date", {"format": "yyyy-MM-dd"}, "2015-03-22", "2015-03-22", "date"),
    ("date", {"format": "dd.MM.yyyy"}, "22.03.2015", "2015-03-22", "date"),
    ("date", {"format": "yyyy-MM-ddX"}, "2015-03-22Z", "2015-03-22Z", "date"),
    ("time", {"format": "HH:mm:ss"}, "15:02:37", "15:02:37", "time"),
    ("time", {"format": "HHmm"}, "1502", "15:02:00", "time"),
    ("dateTime", {"format": "yyyy-MM-dd HH:mm:ss"}, "2015-03-15 15:02:37", "2015-03-15T15:02:37", "dateTime"),
    ("dateTime", {"format": "M/d/yyyy HHmm"}, "3/15/2015 1502", "2015-03-15T15:02:00", "dateTime"),
    ("dateTime", {"format": "yyyy-MM-ddTHH:mm:ss"}, "2015-03-15T15:02:37", "2015-03-15T15:02:37", "dateTime"),
    ("dateTime", {"format": "yyyy-MM-dd HH:mm:ss X"}, "2015-03-15 15:02:37 Z", "2015-03-15T15:02:37Z", "dateTime"),
    ("date", {}, "2015-03-22", "2015-03-22", "date"),
    # durations (reference: metadata.rb:1894-1896)
    ("duration", {}, "P1Y2M3DT4H5M6S", "P1Y2M3DT4H5M6S", "duration"),
    ("dayTimeDuration", {}, "P1DT2H", "P1DT2H", "dayTimeDuration"),
    ("yearMonthDuration", {}, "P1Y2M", "P1Y2M", "yearMonthDuration"),
]


@pytest.mark.parametrize("base,facets,lexical,expected,dt_suffix", CASES)
def test_matrix(base, facets, lexical, expected, dt_suffix):
    cv, errors = run(lexical, {"base": base, **facets})
    assert cv is not None, f"unexpected errors: {errors}"
    assert cv.lexical == expected
    if dt_suffix is None:
        assert cv.datatype is None
    else:
        assert cv.datatype == XSD + dt_suffix


INVALID = [
    ("integer", {}, "1234.456"),
    ("integer", {}, "123xyz"),
    ("byte", {}, "1234"),
    ("unsignedByte", {}, "-1"),
    ("nonNegativeInteger", {}, "-1"),
    ("positiveInteger", {}, "0"),
    ("negativeInteger", {}, "1"),
    ("boolean", {}, "yes"),
    ("date", {"format": "M/d/yyyy"}, "foo"),
    ("date", {}, "2015-13-40"),
    ("duration", {}, "foo"),
    ("decimal", {"groupChar": ","}, "1,,234"),
    ("anyType", {}, "foo"),
    ("ID", {}, "foo"),
    # trailing characters after the picture are a format mismatch, never
    # a silent truncation (no declared tz/fraction to absorb them)
    ("time", {"format": "HH:mm:ss"}, "12:00:00XYZ"),
    ("date", {"format": "yyyy-MM-dd"}, "2024-01-0999"),
    ("time", {"format": "HH:mm:ss.SSS"}, "12:00:00.123XYZ"),
    ("dateTime", {"format": "yyyy-MM-dd HH:mm:ss"}, "2015-03-15 15:02:37junk"),
]


@pytest.mark.parametrize("base,facets,lexical", INVALID)
def test_invalid(base, facets, lexical):
    cv, errors = run(lexical, {"base": base, **facets})
    assert cv is None
    assert errors


def test_percent():
    cv, _ = run("50%", {"base": "double"})
    assert cv.lexical == "0.5"
    assert cv.datatype == XSD + "double"


def test_permille_decimal():
    cv, _ = run("500‰", {"base": "decimal"})
    assert float(cv.lexical) == 0.5


def test_length_facets():
    cv, errors = run("ab", {"base": "string", "minLength": 3})
    assert cv is None and errors


def test_format_regex_on_string():
    cv, errors = run("abc", {"base": "string", "format": "^a.*c$"})
    assert cv is not None
    cv, errors = run("xbc", {"base": "string", "format": "^a.*c$"})
    assert cv is None


def test_lang_string():
    cv, _ = run("hello", {"base": "string"}, lang="en")
    assert cv.lang == "en" and cv.datatype is None


def test_xml_html_json_aliases():
    cv, _ = run("<p/>", {"base": "xml"})
    assert cv.datatype == RDF + "XMLLiteral"
    cv, _ = run("<p/>", {"base": "html"})
    assert cv.datatype == RDF + "HTML"
    cv, _ = run('{"a":1}', {"base": "json"})
    assert cv.datatype == CSVW + "JSON"


def test_gyear():
    cv, _ = run("1960", {"base": "gYear"})
    assert cv.lexical == "1960" and cv.datatype == XSD + "gYear"


# Exact-error-string tranche ported from the reference matrix
# (reference: spec/metadata_spec.rb:755-1004). ``None`` expected result means
# no datatype match — the kernel falls back to a plain literal, matching the
# reference's keep-lexical-with-errors semantics.
REF_CASES = [
    ({"base": "string", "length": 3}, "foo", "foo", []),
    ({"base": "string", "length": 4}, "foo", None, ["foo does not have length 4"]),
    ({"base": "string", "maxLength": 2}, "foo", None, ["foo does not have length <= 2"]),
    ({"base": "string", "minLength": 4}, "foo", None, ["foo does not have length >= 4"]),
    ({"base": "decimal"}, "4", "4", []),
    ({"base": "decimal", "pattern": r"\d{3}"}, "123", "123", []),
    ({"base": "decimal"}, "123,456.789", "123456.789", []),
    ({"base": "decimal", "groupChar": ";"}, "123;456.789", "123456.789", []),
    ({"base": "decimal", "decimalChar": ";"}, "123456;789", "123456.789", []),
    ({"base": "decimal"}, "123456.789e10", None, ["123456.789e10 is not a valid decimal"]),
    ({"base": "integer"}, "1234", "1234", []),
    ({"base": "integer"}, "1234.56", None, ["1234.56 is not a valid integer"]),
    ({"base": "long"}, "1234", "1234", []),
    ({"base": "long"}, "1234.56", None, ["1234.56 is not a valid long"]),
    ({"base": "short"}, "1234", "1234", []),
    ({"base": "short"}, "1234.56", None, ["1234.56 is not a valid short"]),
    ({"base": "byte"}, "123", "123", []),
    ({"base": "byte"}, "1234", None, ["1234 is not a valid byte"]),
    ({"base": "unsignedLong"}, "1234", "1234", []),
    ({"base": "unsignedLong"}, "-1234", None, ["-1234 is not a valid unsignedLong"]),
    ({"base": "unsignedShort"}, "1234", "1234", []),
    ({"base": "unsignedShort"}, "-1234", None, ["-1234 is not a valid unsignedShort"]),
    ({"base": "unsignedByte"}, "123", "123", []),
    ({"base": "unsignedByte"}, "-123", None, ["-123 is not a valid unsignedByte"]),
    ({"base": "positiveInteger"}, "123", "123", []),
    ({"base": "positiveInteger"}, "-123", None, ["-123 is not a valid positiveInteger"]),
    ({"base": "negativeInteger"}, "-123", "-123", []),
    ({"base": "negativeInteger"}, "123", None, ["123 is not a valid negativeInteger"]),
    ({"base": "nonPositiveInteger"}, "0", "0", []),
    ({"base": "nonPositiveInteger"}, "1", None, ["1 is not a valid nonPositiveInteger"]),
    ({"base": "nonNegativeInteger"}, "0", "0", []),
    ({"base": "nonNegativeInteger"}, "-1", None, ["-1 is not a valid nonNegativeInteger"]),
    ({"base": "double"}, "1234.456E789", "1234.456E789", []),
    ({"base": "double"}, "1z", None, ["1z is not a valid double"]),
    ({"base": "float"}, "1234.456E789", "1234.456E789", []),
    ({"base": "float"}, "1z", None, ["1z is not a valid float"]),
    ({"base": "float"}, "NaN", "NaN", []),
    ({"base": "float"}, "-INF", "-INF", []),
    ({"base": "date", "format": "yyyyMMdd"}, "20150322", "2015-03-22", []),
    ({"base": "date", "format": "dd-MM-yyyy"}, "22-03-2015", "2015-03-22", []),
    ({"base": "date", "format": "d-M-yyyy"}, "22-3-2015", "2015-03-22", []),
    ({"base": "date", "format": "MM-dd-yyyy"}, "03-22-2015", "2015-03-22", []),
    ({"base": "date", "format": "M-d-yyyy"}, "3-22-2015", "2015-03-22", []),
    ({"base": "date", "format": "MM/dd/yyyy"}, "03/22/2015", "2015-03-22", []),
]


@pytest.mark.parametrize("dt,value,expected,errors", REF_CASES)
def test_reference_matrix(dt, value, expected, errors):
    cv, errs = run(value, dt)
    if expected is None:
        assert cv is None
        assert errs == errors
    else:
        assert cv is not None, f"unexpected errors: {errs}"
        assert cv.lexical == expected
        assert errs == []


def test_repeating_group_char_keeps_lexical_with_error():
    """Reference: value kept (plain literal fallback) + repeating-group error."""
    cv, errs = run("123;;456.789", {"base": "decimal", "groupChar": ";"})
    assert cv is None
    assert any("has repeating" in e for e in errs)


def test_pattern_mismatch_error():
    cv, errs = run("123", {"base": "decimal", "pattern": r"\d{4}"})
    assert cv is None
    assert any("does not match pattern" in e for e in errs)


def test_ordered_list_rdf_chain():
    """C1 ordered separator lists → rdf:List chains with deterministic bnode
    links (reference: reader.rb:170-176)."""
    from rdf_tabular_spark.csvw.model import load_metadata
    from rdf_tabular_spark.operators.triples import TripleKernel, compile_mapping

    meta = {
        "url": "http://example.org/t.csv",
        "tableSchema": {
            "columns": [{"name": "xs", "separator": ";", "ordered": True,
                         "datatype": "integer"}],
            "aboutUrl": "#r{_row}",
        },
    }
    tk = TripleKernel(compile_mapping(load_metadata(meta, base=meta["url"]),
                                      minimal=True))
    triples = tk.row_triples(["1;2;3"], 1, 2)
    by_pred = {}
    for s, p, o, is_iri, dt, lang in triples:
        by_pred.setdefault(p.rsplit("#", 1)[-1], []).append((s, o, is_iri, dt))
    firsts = by_pred["first"]
    rests = by_pred["rest"]
    assert [o for _, o, _, _ in firsts] == ["1", "2", "3"]
    assert all(dt and dt.endswith("integer") for _, _, _, dt in firsts)
    # chain: head node linked from subject; last rest is rdf:nil
    assert rests[-1][1].endswith("#nil")
    assert rests[0][1] == firsts[1][0]  # rest(n0) == n1
    subj_triples = by_pred["xs"]
    assert subj_triples[0][0].endswith("#r1")
    assert subj_triples[0][1] == firsts[0][0]  # subject points at head node


def test_unordered_list_one_triple_per_element():
    from rdf_tabular_spark.csvw.model import load_metadata
    from rdf_tabular_spark.operators.triples import TripleKernel, compile_mapping
    meta = {
        "url": "http://example.org/t.csv",
        "tableSchema": {
            "columns": [{"name": "xs", "separator": ";"}],
            "aboutUrl": "#r{_row}",
        },
    }
    tk = TripleKernel(compile_mapping(load_metadata(meta, base=meta["url"]),
                                      minimal=True))
    triples = tk.row_triples(["a;b;c"], 1, 2)
    objs = [t[2] for t in triples if t[1].endswith("#xs")]
    assert objs == ["a", "b", "c"]


def test_cell_coercion_memo_identical_across_rows():
    """r5 perf memo: repeated (column, raw) pairs return the cached result;
    values, bindings, and error accumulation stay identical per row, and
    the cap clears rather than grows."""
    from rdf_tabular_spark.csvw.model import load_metadata
    from rdf_tabular_spark.operators.triples import compile_mapping, TripleKernel

    table = load_metadata({
        "@context": "http://www.w3.org/ns/csvw", "url": "t.csv",
        "tableSchema": {"columns": [
            {"name": "n", "titles": "n", "datatype": "integer"}],
            "aboutUrl": "#r{_row}"}},
        base="http://x/t.csv", resolver=lambda u: u)
    k = TripleKernel(compile_mapping(table, minimal=True))
    t1 = k.row_triples(["42"], 1, 2)
    t2 = k.row_triples(["42"], 2, 3)          # cache hit
    assert [t[2] for t in t1] == [t[2] for t in t2] == ["42"]
    assert (k.cols[0].plan.number, "42") in k._cell_cache
    # invalid value: errors recomputed identically from the cache
    _, _, e1 = k._coerce_cell("xx", k.cols[0].plan)
    _, _, e2 = k._coerce_cell("xx", k.cols[0].plan)
    assert e1 == e2 and e1 and "valid integer" in e1[0]
    # cap: filling past the max clears instead of growing unboundedly
    k._CELL_CACHE_MAX = 8
    for i in range(20):
        k._coerce_cell(str(i), k.cols[0].plan)
    assert len(k._cell_cache) <= 8


def test_template_expansion_cache_matches_uncached_on_web_path():
    """Row-invariant propertyUrls expand once per column and base, a shared
    column-free aboutUrl once per row. On the web path (``url=`` rebinding
    the base per page) the kernel must emit exactly the triples of the
    uncached expansion, including a row-dependent propertyUrl."""
    from rdf_tabular_spark.csvw.model import load_metadata
    from rdf_tabular_spark.operators.triples import compile_mapping, TripleKernel

    table = load_metadata({
        "@context": "http://www.w3.org/ns/csvw", "url": "t.csv",
        "tableSchema": {"columns": [
            {"name": "id", "titles": "id"},
            {"name": "v", "titles": "v", "propertyUrl": "#p-{_row}"},
            {"name": "w", "titles": "w", "propertyUrl": "{#_name}-{_column}"},
            {"name": "x", "titles": "x", "aboutUrl": "#{_name}-{id}"}],
            "aboutUrl": "#r{id}"}},
        base="http://x/t.csv", resolver=lambda u: u)
    mapping = compile_mapping(table)
    uncached = TripleKernel(mapping)
    for cc in uncached.cols:
        cc.prop_per_column = cc.about_per_row = False
    cached = TripleKernel(mapping)
    assert [(cc.prop_per_column, cc.about_per_row) for cc in cached.cols] == [
        (True, True), (False, True), (True, True), (True, False)]
    calls = [(["1", "a", "b", "c"], 1, 2, "http://e.org/p1"),
             (["2", "d", "e", "f"], 2, 3, "http://e.org/p1"),
             (["1", "a", "b", "c"], 1, 2, "http://e.org/p2"),
             (["3", "g", "h", "i"], 3, 4, "http://e.org/p1")]
    for values, row_num, source_num, url in calls:
        got = cached.row_triples(values, row_num, source_num, url=url)
        assert got == uncached.row_triples(values, row_num, source_num, url=url)
        preds = {t[1] for t in got}
        assert f"{url}#p-{row_num}" in preds and f"{url}#w-3" in preds
        assert all(p.startswith(url) for p in preds if "#p-" in p or "#w" in p)
    # bounded: one entry per row-invariant column, for the current base only
    assert len(cached._pred_cache) == 3
