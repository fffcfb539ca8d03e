"""CSV source: multiline quoted fields (whole-file fallback) and logical
row numbering across skipped blank rows (CSVW `_row` semantics)."""

import contextlib
import json

import pytest

from rdf_tabular_spark.csvw.model import Dialect
from rdf_tabular_spark.pipeline import csvw_to_triples
from rdf_tabular_spark.sources.csv_source import (_has_quoted_newline,
                                                  read_rows)


def _rows(spark, path, dialect):
    return sorted(
        ((list(r["values"]), r["row_num"], r["source_num"])
         for r in read_rows(spark, str(path), dialect).collect()),
        key=lambda t: t[2])


def test_multiline_quoted_field(spark, tmp_path):
    p = tmp_path / "m.csv"
    p.write_text('a,b\n"line1\nline2",x\n"q ""quoted"" v",y\n')
    assert _has_quoted_newline(str(p), Dialect())
    got = _rows(spark, p, Dialect())  # header consumed via skipped_rows
    assert got == [
        (["line1\nline2", "x"], 1, 2),
        (['q "quoted" v', "y"], 2, 4),
    ]


def test_no_false_fallback_on_plain_csv(spark, tmp_path):
    p = tmp_path / "p.csv"
    p.write_text('a,b\n"v1",x\n')
    assert not _has_quoted_newline(str(p), Dialect())


def test_skip_blank_rows_row_numbers_consecutive(spark, tmp_path):
    p = tmp_path / "b.csv"
    p.write_text("a,b\n1,x\n,\n2,y\n\n3,z\n")
    d = Dialect(skipBlankRows=True)
    got = _rows(spark, p, d)
    # header consumed via skipped_rows; blank lines 3 and 5 are dropped and
    # the survivors are numbered 1..3 consecutively (no gaps)
    assert [(rn, sn) for _, rn, sn in got] == [(1, 2), (2, 4), (3, 6)]


def test_skip_blank_rows_row_template(spark, tmp_path):
    """End-to-end: {_row} in aboutUrl must not show gaps at blank rows."""
    csv = tmp_path / "t.csv"
    csv.write_text("a\nv1\n\nv2\n")
    (tmp_path / "t.csv-metadata.json").write_text(json.dumps({
        "@context": "http://www.w3.org/ns/csvw", "url": "t.csv",
        "dialect": {"skipBlankRows": True},
        "tableSchema": {
            "columns": [{"name": "a", "titles": "a"}],
            "aboutUrl": "http://e.org/r/{_row}"}}))
    df = csvw_to_triples(spark, str(csv), minimal=True)
    subj_obj = sorted((r["subj"], r["obj"]) for r in df.collect())
    assert subj_obj == [("http://e.org/r/1", "v1"), ("http://e.org/r/2", "v2")]


def test_quoted_newline_beyond_sniff_auto_fallback(spark, tmp_path, monkeypatch):
    """A quoted newline past the sniff bound must auto-route to the
    whole-file path (one distributed parity probe), not raise mid-job."""
    from rdf_tabular_spark.sources import csv_source
    monkeypatch.setattr(csv_source, "_SNIFF_BYTES", 8)  # truncate the sniff
    p = tmp_path / "big.csv"
    p.write_text('a,b\n1,x\n2,y\n"li\nne",z\n')
    has, complete = csv_source._quote_sniff(str(p), Dialect())
    assert not has and not complete  # sniff saw nothing, was truncated
    got = _rows(spark, p, Dialect())
    assert got == [(["1", "x"], 1, 2), (["2", "y"], 2, 3),
                   (["li\nne", "z"], 3, 4)]


def test_stray_quote_parses_leniently(spark, tmp_path):
    """A stray unescaped quote in an unquoted field parses (csv.reader
    non-strict), never errors — it routes through the whole-file path via
    the conservative sniff."""
    p = tmp_path / "s.csv"
    p.write_text('a,b\nv"1,x\n2,y\n')
    got = _rows(spark, p, Dialect())
    assert [v for v, _, _ in got] == [['v"1', "x"], ["2", "y"]]


def test_multiline_with_header_and_skip(spark, tmp_path):
    p = tmp_path / "h.csv"
    p.write_text('# note\na,b\n"x\ny",1\n')
    d = Dialect(skipRows=1)  # comment + header both consumed (skipped_rows=2)
    got = _rows(spark, p, d)
    assert got == [(["x\ny", "1"], 1, 3)]


def test_whole_file_path_tests_raw_line_for_comment(spark, tmp_path):
    """commentPrefix keys on the raw source line on the whole-file path too:
    a quoted first cell beginning with the prefix is data."""
    p = tmp_path / "c.csv"
    p.write_text('a,b\n"#x",y\n#c,z\n"m\nn",w\n')
    d = Dialect(commentPrefix="#")
    assert _has_quoted_newline(str(p), d)  # forces the whole-file path
    assert _rows(spark, p, d) == [(["#x", "y"], 1, 2), (["m\nn", "w"], 2, 4)]


@contextlib.contextmanager
def _small_splits(spark, nbytes):
    """Split every file read inside the block into ``nbytes``-sized scan
    splits; the session's settings are restored afterwards."""
    keys = ("spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, str(nbytes))
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _numbered_file(kind):
    """(text, dialect) of a ~60-line file exercising one numbering rule."""
    data = [f"{i},v{i}" for i in range(1, 61)]
    if kind == "plain":
        return "a,b\n" + "\n".join(data) + "\n", Dialect()
    if kind == "skip_rows_header":
        return ("note 1\nnote 2\na,b\n" + "\n".join(data) + "\n",
                Dialect(skipRows=2))
    if kind == "skip_blank_rows":
        lines = [x if i % 7 else ",," for i, x in enumerate(data)]
        lines[20:20] = ["", " , ", ""]
        return "a,b\n" + "\n".join(lines) + "\n", Dialect(skipBlankRows=True)
    if kind == "comment_prefix":
        lines = [x if i % 5 else f"# c{i}" for i, x in enumerate(data)]
        return ("# head\na,b\n" + "\n".join(lines) + "\n",
                Dialect(skipRows=1, commentPrefix="#"))
    assert kind == "headerless_bom"
    return ("\ufeff" + "\n".join(data) + "\n",
            Dialect(header=False, headerRowCount=0))


@pytest.mark.parametrize("kind", ["plain", "skip_rows_header",
                                  "skip_blank_rows", "comment_prefix",
                                  "headerless_bom"])
def test_numbering_across_splits_matches_one_split(spark, tmp_path, kind):
    """row_num/source_num are assigned in the JVM per scan split plus the
    earlier splits' line counts: a file cut into many splits must number
    exactly like the same file read as one split."""
    text, dialect = _numbered_file(kind)
    p = tmp_path / "n.csv"
    p.write_text(text, encoding="utf-8")
    one = _rows(spark, p, dialect)
    assert spark.read.text(str(p)).rdd.getNumPartitions() == 1
    with _small_splits(spark, 64):
        assert spark.read.text(str(p)).rdd.getNumPartitions() >= 3
        many = _rows(spark, p, dialect)
    assert many == one
    assert [rn for _, rn, _ in one] == list(range(1, len(one) + 1))
    if kind == "headerless_bom":
        assert one[0] == (["1", "v1"], 1, 1)
