"""Output checks: an order-independent digest computed the same way on the
program's output (in Spark) and on the expectation the benchmark derives
from its own generated inputs (in Python).

The digest of a multiset of lines is (count, sum of the first 60 bits of
each line's MD5). Blank-node labels are arbitrary, so every ``_:label``
term is replaced by ``_:`` before hashing on both sides.
"""

from __future__ import annotations

import hashlib
import random
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
CSVW = "http://www.w3.org/ns/csvw#"
KG_MENTIONS = "https://kg.example.org/ontology#mentions"

def _bnode_free(c: Column) -> Column:
    return F.when(c.startswith("_:"), F.lit("_:")).otherwise(c)


def triple_line(df: DataFrame) -> Column:
    """Tab-joined RDF term columns of a triples DataFrame (lineage columns
    table_url/source_num are not part of the graph and are left out)."""
    return F.concat_ws(
        "\t", _bnode_free(F.col("subj")), F.col("pred"), _bnode_free(F.col("obj")),
        F.when(F.col("obj_is_iri"), F.lit("1")).otherwise(F.lit("0")),
        F.coalesce(F.col("obj_datatype"), F.lit("")),
        F.coalesce(F.col("obj_lang"), F.lit("")))


def spark_digest(lines: Column, df: DataFrame) -> tuple[int, int]:
    """→ (count, digest) of the ``lines`` column over ``df``, one JVM-only
    aggregation (no Python on the data path)."""
    h = F.conv(F.substring(F.md5(lines), 1, 15), 16, 10).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("d")).first()
    return int(row["n"]), int(row["d"] or 0)


def ntriples_digest(df_text: DataFrame) -> tuple[int, int]:
    """Digest of N-Triples files read back with ``spark.read.text``."""
    line = F.regexp_replace(F.col("value"), r"_:\S+", "_:")
    return spark_digest(line, df_text)


def py_digest(lines) -> tuple[int, int]:
    n, d = 0, 0
    for line in lines:
        n += 1
        d += int(hashlib.md5(line.encode("utf-8")).hexdigest()[:15], 16)
    return n, d


def spark_set_digest(lines: Column, df: DataFrame) -> tuple[int, int]:
    """(count, digest) of the distinct values of ``lines`` over ``df``."""
    return spark_digest(F.col("line"), df.select(lines.alias("line")).distinct())


def _tline(s, p, o, iri=False, dt="", lang=""):
    s = "_:" if s.startswith("_:") else s
    o = "_:" if o.startswith("_:") else o
    return f"{s}\t{p}\t{o}\t{'1' if iri else '0'}\t{dt}\t{lang}"


# ---------------------------------------------------------------- crawl ---

_ROW = re.compile(r"<tr>((?:<td>.*?</td>)+)</tr>")
_CELL = re.compile(r"<td>(.*?)</td>")
_MICRO = re.compile(r'<div itemscope itemtype="([^"]+)">'
                    r'<span itemprop="name">(.*?)</span>'
                    r'<span itemprop="containsPlace">(.*?)</span></div>')
_COLS = ("GID", "on_street", "species", "trim_cycle", "inventory_date", "dbh")


def crawl_expected_lines(pages, ents: dict[str, str]) -> list[str]:
    """Expected triples of extract + link over generated pages, read off the
    HTML the generator wrote: each ``<td>`` row of the data table is one
    record of the six declared columns (subject ``<url>#gid-{GID}``), each
    microdata block is one schema.org item, and every literal that equals
    a dictionary surface form adds one ``kg:mentions`` triple.

    ``pages``: iterable of (url, html str)."""
    out: list[str] = []

    def mention(s, value):
        if value in ents:
            out.append(_tline(s, KG_MENTIONS, ents[value], iri=True))

    for url, html in pages:
        for row in _ROW.findall(html):
            cells = _CELL.findall(row)
            gid, street, species, cycle, date, dbh = cells
            s = f"{url}#gid-{gid}"
            m, d, y = (int(x) for x in date.split("/"))
            for col, value, dt in (
                    ("GID", gid, ""), ("on_street", street, ""),
                    ("species", species, ""), ("trim_cycle", cycle, ""),
                    ("inventory_date", f"{y:04d}-{m:02d}-{d:02d}", XSD + "date"),
                    ("dbh", str(int(dbh)), XSD + "integer")):
                out.append(_tline(s, f"{url}#{col}", value, dt=dt))
            for value in (street, species, cycle):
                mention(s, value)
        for itemtype, name, place in _MICRO.findall(html):
            vocab = itemtype.rsplit("/", 1)[0] + "/"
            out.append(_tline("_:", RDF_TYPE, itemtype, iri=True))
            out.append(_tline("_:", vocab + "name", name))
            out.append(_tline("_:", vocab + "containsPlace", place))
            mention("_:", name)
            mention("_:", place)
    return out


def committed_set_digest(lines: list[str], mapping: dict[str, str]):
    """Set digest of the triples a store should hold after extract + link
    lines (from :func:`crawl_expected_lines`) had ``mapping`` (id →
    canonical id) applied to their subjects and IRI objects and were
    deduplicated. Blank nodes only ever map to blank nodes (the canonical
    id is the lexical minimum, and ``_:`` sorts before ``http``), so the
    erased ``_:`` labels stay correct."""
    out = set()
    for line in lines:
        s, p, o, iri, dt, lang = line.split("\t")
        s = mapping.get(s, s)
        if iri == "1":
            o = mapping.get(o, o)
        out.add(_tline(s, p, o, iri == "1", dt, lang))
    return py_digest(out)


# ----------------------------------------------------------------- csvw ---

CSVW_BASE = "http://example.org/data/"
CSVW_TABLE = CSVW_BASE + "items.csv"
_NAMES = ["Oak chair", "Lamp, tall", "Desk", "Shelf unit", "Stool",
          "Reading lamp", "Bench, long", "Cabinet", "Mirror", "Rug"]
_CATS = ["furniture", "light", "decor", "storage", "outdoor"]

CSVW_METADATA = {
    "@context": ["http://www.w3.org/ns/csvw", {"@language": "en"}],
    "url": "items.csv",
    "tableSchema": {
        "columns": [
            {"name": "id", "titles": "id", "datatype": "integer",
             "required": True},
            {"name": "name", "titles": "name", "lang": "en"},
            {"name": "price", "titles": "price", "datatype": "decimal"},
            {"name": "qty", "titles": "qty",
             "datatype": {"base": "integer", "minimum": 0}},
            {"name": "sold", "titles": "sold",
             "datatype": {"base": "date", "format": "dd.MM.yyyy"}},
            {"name": "cat", "titles": "cat",
             "propertyUrl": "http://example.org/ns#category",
             "valueUrl": "http://example.org/cat/{cat}"},
            {"name": "flag", "titles": "flag",
             "datatype": {"base": "boolean", "format": "yes|no"}},
        ],
        "primaryKey": "id",
        "aboutUrl": "http://example.org/item/{id}",
    },
}


def csvw_rows(seed: int, n_rows: int) -> list[tuple]:
    """Seeded rows (id, name, price, qty, day, month, year, cat, flag)."""
    rng = random.Random(seed)
    first = rng.randrange(1, 10_000)
    rows = []
    for i in range(n_rows):
        rows.append((first + i, rng.choice(_NAMES),
                     f"{rng.randrange(100, 100_000) / 100:.2f}",
                     rng.randrange(0, 500), rng.randrange(1, 29),
                     rng.randrange(1, 13), rng.randrange(1990, 2030),
                     rng.choice(_CATS), rng.random() < 0.5))
    return rows


def csvw_csv_text(rows) -> str:
    lines = ["id,name,price,qty,sold,cat,flag"]
    for i, name, price, qty, d, m, y, cat, flag in rows:
        cell = f'"{name}"' if "," in name else name
        lines.append(f"{i},{cell},{price},{qty},{d:02d}.{m:02d}.{y:04d},"
                     f"{cat},{'yes' if flag else 'no'}")
    return "\n".join(lines) + "\n"


def _lit(v, dt=None, lang=None):
    q = f'"{v}"'
    return q + (f"@{lang}" if lang else f"^^<{dt}>" if dt else "")


def csvw_expected_lines(rows) -> list[str]:
    """Expected N-Triples (standard mode) of the generated table: per row
    the csvw:row/rownum/url/describes block plus one triple per cell;
    per table its rdf:type and csvw:url."""
    t = f"<{CSVW_TABLE}#"
    out = [f"_: <{RDF_TYPE}> <{CSVW}Table> .",
           f"_: <{CSVW}url> <{CSVW_TABLE}> ."]
    for rownum, (i, name, price, qty, d, m, y, cat, flag) in enumerate(rows, 1):
        s = f"<http://example.org/item/{i}>"
        out += [
            f"_: <{CSVW}row> _: .",
            f"_: <{CSVW}rownum> {_lit(rownum, XSD + 'integer')} .",
            f"_: <{CSVW}url> <{CSVW_TABLE}#row={rownum + 1}> .",
            f"_: <{CSVW}describes> {s} .",
            f"{s} {t}id> {_lit(i, XSD + 'integer')} .",
            f"{s} {t}name> {_lit(name, lang='en')} .",
            f"{s} {t}price> {_lit(price, XSD + 'decimal')} .",
            f"{s} {t}qty> {_lit(qty, XSD + 'integer')} .",
            f"{s} {t}sold> {_lit(f'{y:04d}-{m:02d}-{d:02d}', XSD + 'date')} .",
            f"{s} <http://example.org/ns#category> "
            f"<http://example.org/cat/{cat}> .",
            f"{s} {t}flag> {_lit('true' if flag else 'false', XSD + 'boolean')} .",
        ]
    return out
