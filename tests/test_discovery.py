"""HTTP-tier discovery: Link rel=describedby metadata precedence
(reference metadata.rb:139-194) and MIME/content-sniff format detection
(reference format.rb:26-44) — all offline via an injected header source."""

import json

import pytest

from rdf_tabular_spark.discovery import (content_type_kind, describedby_links,
                                         detect_format, parse_link_header,
                                         sniff_sample)
from rdf_tabular_spark.pipeline import csvw_to_triples, discover_metadata


# --- unit: Link header parsing ---------------------------------------------

def test_parse_link_header_multiple():
    links = parse_link_header(
        '<meta.json>; rel="describedby"; type="application/csvw+json", '
        '<other.json>; rel=alternate')
    assert links == [
        {"href": "meta.json", "rel": "describedby",
         "type": "application/csvw+json"},
        {"href": "other.json", "rel": "alternate"},
    ]


def test_describedby_links_resolves_and_filters():
    headers = {"link": '<m1.json>; rel="describedby", '
                       '<http://x.org/m2.json>; rel="stylesheet describedby"'}
    assert describedby_links(headers, "http://a.org/d/data.csv") == [
        "http://a.org/d/m1.json", "http://x.org/m2.json"]


def test_describedby_links_absent():
    assert describedby_links({}, "http://a.org/x.csv") == []


# --- unit: format detection -------------------------------------------------

@pytest.mark.parametrize("ct,kind", [
    ("text/csv; charset=utf-8", "csv"),
    ("text/tab-separated-values", "tsv"),
    ("application/csvw+json", "json"),
    ("text/html", "html"),
    ("application/octet-stream", None),
])
def test_content_type_kind(ct, kind):
    assert content_type_kind({"Content-Type": ct}) == kind


@pytest.mark.parametrize("sample,kind", [
    ('{"@context": "http://www.w3.org/ns/csvw"}', "json"),
    ("[1, 2]", "json"),
    ("<!DOCTYPE html><html><body>x</body></html>", "html"),
    ("<table><tr><td>1</td></tr></table>", "html"),
    ("a\tb\tc\n1\t2\t3", "tsv"),
    ("a,b,c\n1,2,3", "csv"),
    ("GID,On Street\n1,ADDISON AV", "csv"),
])
def test_sniff_sample(sample, kind):
    assert sniff_sample(sample) == kind


def test_detect_format_precedence():
    # MIME beats extension beats sniff
    assert detect_format(url="x.csv", sample="{}",
                         headers={"Content-Type": "application/json"}) == "json"
    assert detect_format(url="x.tsv", sample="a,b\n1,2") == "tsv"
    assert detect_format(url="http://e.org/data", sample="a\tb\n1\t2") == "tsv"
    assert detect_format(url="http://e.org/data?fmt=x",
                         sample="a,b\n1,2") == "csv"


# --- integration: pipeline wiring -------------------------------------------

def _write(p, content):
    p.write_text(content, encoding="utf-8")
    return str(p)


def _meta_doc(csv_name, prop_base):
    return {"@context": "http://www.w3.org/ns/csvw", "url": csv_name,
            "tableSchema": {
                "columns": [{"name": "a", "titles": "a",
                             "propertyUrl": prop_base + "{_name}"}],
                "aboutUrl": prop_base + "row/{_row}"}}


def test_link_metadata_precedes_file_discovery(spark, tmp_path):
    csv = _write(tmp_path / "data.csv", "a\nv1\n")
    linked = _write(tmp_path / "linked.json",
                    json.dumps(_meta_doc("data.csv", "http://linked.org/")))
    _write(tmp_path / "data.csv-metadata.json",
           json.dumps(_meta_doc("data.csv", "http://filebased.org/")))

    headers = lambda url: {"Link": f'<{linked}>; rel="describedby"'}
    found = discover_metadata(csv, lambda u: u, headers=headers)
    assert [u for _, u in found] == [linked, csv + "-metadata.json"]

    df = csvw_to_triples(spark, csv, minimal=True, headers=headers)
    preds = {r["pred"] for r in df.collect()}
    assert preds == {"http://linked.org/a"}  # linked doc won the merge


@pytest.mark.parametrize("spelling", ["./sub/data.csv", "sub//data.csv",
                                      "{d}/sub/../sub/./data.csv"])
def test_discovery_matches_unnormalized_local_url(monkeypatch, tmp_path,
                                                  spelling):
    """Discovered metadata whose table url names the requested file is
    used however the caller spells the local path: both sides of the
    comparison are normalized (W3C tabular-data-model §5.2)."""
    monkeypatch.chdir(tmp_path)
    sub = tmp_path / "sub"
    sub.mkdir()
    _write(sub / "data.csv", "a\nv1\n")
    _write(sub / "data.csv-metadata.json",
           json.dumps(_meta_doc("data.csv", "http://filebased.org/")))
    _write(sub / "metadata.json",
           json.dumps(_meta_doc("data.csv", "http://sibling.org/")))
    found = discover_metadata(spelling.format(d=tmp_path), lambda u: u)
    props = [doc["tableSchema"]["columns"][0]["propertyUrl"]
             for doc, _ in found]
    assert props == ["http://filebased.org/{_name}",
                     "http://sibling.org/{_name}"]


def test_extensionless_tsv_routed_by_sniff(spark, tmp_path):
    tsv = _write(tmp_path / "data", "a\tb\nv1\tv2\n")
    df = csvw_to_triples(spark, tsv, minimal=True)
    rows = df.collect()
    objs = {r["obj"] for r in rows}
    assert {"v1", "v2"} <= objs
    assert all("\t" not in r["obj"] for r in rows)  # actually split on tabs


def test_extensionless_metadata_routed_by_sniff(spark, tmp_path):
    _write(tmp_path / "data.csv", "a\nv1\n")
    meta = _write(tmp_path / "meta",
                  json.dumps(_meta_doc("data.csv", "http://sniffed.org/")))
    df = csvw_to_triples(spark, meta, minimal=True)
    assert {r["pred"] for r in df.collect()} == {"http://sniffed.org/a"}


def test_html_input_bridges_to_web_extractor(spark, tmp_path):
    html = _write(tmp_path / "page",
                  "<html><body><table><tr><th>a</th></tr>"
                  "<tr><td>v1</td></tr></table></body></html>")
    df = csvw_to_triples(spark, html, minimal=True)
    rows = df.collect()
    assert rows and any(r["obj"] == "v1" for r in rows)


def test_http_resolver_end_to_end(spark, monkeypatch, tmp_path):
    """Live-HTTP shape, offline: a monkeypatched urlopen serves a CSV with a
    Link rel=describedby header plus the linked metadata; csvw_to_triples
    over the http url discovers and applies it via HttpResolver."""
    import io
    import urllib.request
    from rdf_tabular_spark.discovery import HttpResolver

    SITE = {
        "http://data.example.org/d.csv": (
            b"a\nv1\n",
            {"Content-Type": "text/csv",
             "Link": '</meta/d.json>; rel="describedby"'}),
        "http://data.example.org/meta/d.json": (
            json.dumps(_meta_doc("http://data.example.org/d.csv",
                                 "http://linked.org/")).encode(),
            {"Content-Type": "application/csvw+json"}),
    }

    class FakeResponse(io.BytesIO):
        def __init__(self, body, headers):
            super().__init__(body)
            import email.message
            m = email.message.Message()
            for k, v in headers.items():
                m[k] = v
            self.headers = m
        def __enter__(self):
            return self
        def __exit__(self, *a):
            return False

    def fake_urlopen(url, timeout=None):
        if url not in SITE:
            raise urllib.error.URLError(f"404 {url}")
        body, headers = SITE[url]
        return FakeResponse(body, headers)

    import urllib.error
    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)

    hr = HttpResolver(cache_dir=str(tmp_path))
    df = csvw_to_triples(spark, "http://data.example.org/d.csv",
                         resolver=hr, headers=hr.headers, minimal=True)
    rows = df.collect()
    assert {r["pred"] for r in rows} == {"http://linked.org/a"}
    assert {r["obj"] for r in rows} == {"v1"}


def test_header_absent_content_type_param(spark, tmp_path):
    """reader.rb:60-63: a `text/csv;header=absent` response means row 1 is
    DATA — embedded-header consumption suppressed, columns derived as
    _col.N from the record width."""
    from rdf_tabular_spark.discovery import header_absent
    assert header_absent({"Content-Type": "text/csv;header=absent"})
    assert header_absent({"content-type": "text/csv; charset=utf-8; HEADER=ABSENT"})
    assert not header_absent({"Content-Type": "text/csv"})
    assert not header_absent({"Content-Type": "text/csv;header=present"})
    assert not header_absent({})

    p = tmp_path / "d.csv"
    p.write_text("aaa,bbb\nccc,ddd\n")
    src = lambda u: {"Content-Type": "text/csv;header=absent"}
    df = csvw_to_triples(spark, str(p), headers=src, minimal=True)
    cells = {(r.pred.split("#")[-1], r.obj) for r in df.collect()}
    assert cells == {("_col.1", "aaa"), ("_col.2", "bbb"),
                     ("_col.1", "ccc"), ("_col.2", "ddd")}

    # without the parameter the first row is consumed as column titles
    df2 = csvw_to_triples(spark, str(p), minimal=True)
    objs = {r.obj for r in df2.collect()}
    assert objs == {"ccc", "ddd"}

    # explicit user metadata wins over the parameter (reference ||=)
    df3 = csvw_to_triples(
        spark, str(p), headers=src, minimal=True,
        user_metadata={"url": str(p), "tableSchema": {
            "columns": [{"name": "x"}, {"name": "y"}]}})
    preds3 = {r.pred.split("#")[-1] for r in df3.collect()}
    assert preds3 == {"x", "y"}
