"""JSON serialization goldens (reference: spec/reader_spec.rb:82-122).

NB: the reference repo's tree-ops-ext-standard.json is a stale duplicate of
the virtual fixture's output (its content lacks the ext columns dbh/comments/
protected/kml), so the ext JSON golden is skipped; the 5 self-consistent
goldens are asserted deep-equal.
"""

import json
import os
import re

import pytest

from rdf_tabular_spark.sinks.json_rows import csvw_to_json
from rdf_tabular_spark.sinks.ntriples import to_ntriples_lines

DATA = "/root/reference/spec/data"
BASE = "http://example.org/"


def resolver(url: str) -> str:
    if url.startswith(BASE):
        return os.path.join(DATA, url[len(BASE):])
    return url


def run_json(spark, source, expected_json, base):
    got = csvw_to_json(spark, os.path.join(DATA, source), base=BASE + base, resolver=resolver)
    with open(os.path.join(DATA, expected_json)) as f:
        expected = json.load(f)
    assert got == expected


def test_tree_ops_json(spark):
    run_json(spark, "tree-ops.csv-metadata.json", "tree-ops-standard.json", "tree-ops.csv-metadata.json")


def test_tree_ops_virtual_json(spark):
    run_json(spark, "tree-ops-virtual.json", "tree-ops-virtual-standard.json", "tree-ops-virtual.json")


def test_countries_json(spark):
    run_json(spark, "countries.json", "countries-standard.json", "countries.json")


def test_roles_json(spark):
    run_json(spark, "roles.json", "roles-standard.json", "roles.json")


def test_country_codes_json(spark):
    run_json(spark, "country-codes-and-names.csv", "country-codes-and-names-standard.json",
             "country-codes-and-names.csv")


def test_tree_ops_ext_golden_is_stale_upstream(spark):
    """Evidence for the documented skip: the upstream tree-ops-ext-standard
    .json is byte-identical to tree-ops-virtual-standard.json (it lacks every
    ext-only column — dbh, comments, protected, kml — that tree-ops-ext.json's
    own tableSchema declares), so it cannot be the ext fixture's output.
    Our ext output is asserted to carry the declared columns instead."""
    with open(os.path.join(DATA, "tree-ops-ext-standard.json")) as f:
        ext_golden = json.load(f)
    with open(os.path.join(DATA, "tree-ops-virtual-standard.json")) as f:
        virt_golden = json.load(f)
    assert ext_golden == virt_golden  # the staleness itself
    declared = {c["name"] for c in json.load(
        open(os.path.join(DATA, "tree-ops-ext.json")))["tableSchema"]["columns"]}
    assert "dbh" in declared and not any(
        "dbh" in r for r in ext_golden["row"])  # golden misses declared cols

    got = csvw_to_json(spark, os.path.join(DATA, "tree-ops-ext.json"),
                       base=BASE + "tree-ops-ext.json", resolver=resolver)
    row1 = got["row"][0]
    assert {"dbh", "protected", "kml"} <= set(row1.keys())
    # and the plain data columns shared with the virtual golden agree
    # (url-bearing fields legitimately differ: the ext table url is
    # tree-ops-ext, the virtual fixture's is tree-ops.csv)
    for k in ("on_street", "species", "trim_cycle", "rownum"):
        assert row1[k] == virt_golden["row"][0][k]


def test_json_prov_keys(spark):
    """reader.rb:371-379: distribution.downloadURL + describedBy unless
    noProv — opt-in via prov=True (goldens compare without them)."""
    got = csvw_to_json(spark, os.path.join(DATA, "tree-ops.csv-metadata.json"),
                       base=BASE + "tree-ops.csv-metadata.json",
                       resolver=resolver, prov=True)
    assert got["distribution"] == {"downloadURL": BASE + "tree-ops.csv"}
    assert got["describedBy"] == BASE + "tree-ops.csv-metadata.json"


def test_json_discovers_sibling_metadata(spark, tmp_path):
    """CSV-source JSON now runs the same metadata discovery as the triples
    entry (for_input parity): {url}-metadata.json is found and applied."""
    (tmp_path / "d.csv").write_text("a\nv1\n")
    (tmp_path / "d.csv-metadata.json").write_text(json.dumps(
        {"@context": "http://www.w3.org/ns/csvw", "url": "d.csv",
         "tableSchema": {"columns": [{"name": "renamed", "titles": "a"}]}}))
    got = csvw_to_json(spark, str(tmp_path / "d.csv"), resolver=lambda u: u,
                       prov=True)
    assert got["row"][0]["renamed"] == "v1"
    assert got["describedBy"] == str(tmp_path / "d.csv-metadata.json")


def test_ntriples_roundtrip(spark):
    """Triples DF → N-Triples lines → parse back → same canonical set."""
    from rdf_tabular_spark.pipeline import csvw_to_triples
    from rdf_tabular_spark.rdfio.compare import df_to_terms, triple_pr
    from rdf_tabular_spark.rdfio.turtle import parse_turtle

    df = csvw_to_triples(spark, os.path.join(DATA, "tree-ops.csv-metadata.json"),
                         base=BASE + "tree-ops.csv-metadata.json", resolver=resolver)
    lines = [r["line"] for r in to_ntriples_lines(df).collect()]
    assert all(l.endswith(" .") for l in lines)
    reparsed = parse_turtle("\n".join(lines))
    pr = triple_pr(reparsed, df_to_terms(df.collect()))
    assert pr.precision == 1.0 and pr.recall == 1.0


def test_atd_sink_structure(spark):
    """S8 ATD serialization (reference: reader.rb:387-448; the repo's
    tree-ops-atd.json golden is an empty placeholder, so the shape is
    asserted structurally against the to_atd contracts)."""
    from rdf_tabular_spark.sinks.atd import csvw_to_atd
    atd = csvw_to_atd(spark, os.path.join(DATA, "tree-ops.csv-metadata.json"),
                      base=BASE + "tree-ops.csv-metadata.json", resolver=resolver)
    assert atd["@type"] == "AnnotatedTable"
    assert atd["url"].endswith("tree-ops.csv")
    assert [c["name"] for c in atd["columns"]] == \
        ["GID", "on_street", "species", "trim_cycle", "inventory_date"]
    assert len(atd["rows"]) == 3
    row1 = atd["rows"][0]
    assert row1["number"] == 1 and row1["sourceNumber"] == 2
    assert row1["cells"][0]["stringValue"] == "1"
    # each column's cell registry references every row's cell ids
    assert len(atd["columns"][0]["cells"]) == 3
    assert row1["cells"][0]["@id"] in atd["columns"][0]["cells"]


def test_atd_cell_errors_threaded(spark, tmp_path):
    """Cell-level ``errors`` reach the ATD output (reference Cell struct,
    metadata.rb:1576-1607) — an invalid integer and a missing required
    value both surface; valid cells stay error-free."""
    import json
    from rdf_tabular_spark.sinks.atd import csvw_to_atd
    (tmp_path / "t.csv").write_text("a,b\n1,x\nabc,\n")
    meta = tmp_path / "t.csv-metadata.json"
    meta.write_text(json.dumps({
        "@context": "http://www.w3.org/ns/csvw", "url": "t.csv",
        "tableSchema": {"columns": [
            {"name": "a", "titles": "a", "datatype": "integer"},
            {"name": "b", "titles": "b", "required": True}]}}))
    atd = csvw_to_atd(spark, str(meta), base=str(meta), resolver=lambda u: u)
    rows = atd["rows"]
    assert rows[0]["cells"][0]["errors"] == []
    assert rows[1]["cells"][0]["errors"] == ["abc is not a valid integer"]
    assert rows[1]["cells"][1]["errors"] == ["b is required"]


def test_write_json_rows_distributed_matches_document(spark, tmp_path):
    """The JSONL escape hatch writes the SAME row objects as the driver
    document's `row` array, one per line, fully executor-side."""
    from rdf_tabular_spark.csvw.model import load_metadata
    from rdf_tabular_spark.operators.triples import compile_mapping
    from rdf_tabular_spark.pipeline import merge_embedded_titles
    from rdf_tabular_spark.sinks.json_rows import (rows_to_json,
                                                   table_to_json_dict,
                                                   write_json_rows)
    from rdf_tabular_spark.sources.csv_source import read_header, read_rows

    src = os.path.join(DATA, "tree-ops.csv-metadata.json")
    table = load_metadata(src, base=BASE + "tree-ops.csv-metadata.json",
                          resolver=resolver)
    doc = table_to_json_dict(spark, table, resolver)

    # rebuild the mapping fresh (table was mutated by the doc call)
    table2 = load_metadata(src, base=BASE + "tree-ops.csv-metadata.json",
                           resolver=resolver)
    path = resolver(table2.url)
    titles, _ = read_header(path, table2.dialect)
    if titles:
        merge_embedded_titles(table2, titles)
    mapping = compile_mapping(table2)
    jdf = rows_to_json(read_rows(spark, path, table2.dialect), mapping)

    # plan: one Arrow stage whose only Exchange spreads the numbered lines
    # over the task slots, and the write path never gathers rows on the
    # driver (write.text is executor-side)
    plan = jdf._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"Exchange (\w+)\((\w+)", plan) in (
        [], [("hashpartitioning", "source_num")])

    out = str(tmp_path / "rows.jsonl")
    write_json_rows(jdf, out)
    lines = []
    for fn in os.listdir(out):
        if fn.startswith("part-"):
            with open(os.path.join(out, fn)) as f:
                lines += [json.loads(line) for line in f if line.strip()]
    assert sorted(lines, key=lambda r: r["rownum"]) == doc["row"]


def test_document_sink_row_guard(spark):
    """The single-document builders refuse tables beyond max_rows instead
    of OOMing the driver, and the guard is plan-pushed (limit), not a
    count pass."""
    from rdf_tabular_spark.csvw.model import load_metadata
    from rdf_tabular_spark.sinks.json_rows import table_to_json_dict
    src = os.path.join(DATA, "tree-ops.csv-metadata.json")
    table = load_metadata(src, base=BASE + "tree-ops.csv-metadata.json",
                          resolver=resolver)
    with pytest.raises(ValueError, match="write_json_rows"):
        table_to_json_dict(spark, table, resolver, max_rows=1)
