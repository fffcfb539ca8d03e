"""Mirror of the driver's DuckDB cross-check: every oracle-backed query in
``__spark_entry__.queries()`` must match its ``oracle_sql()`` on row count,
column names, and order-insensitive values at sf0.001."""

from __future__ import annotations

import datetime
import decimal
import math

import duckdb
import pytest

from rdf_tabular_spark import queries as Q

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _norm(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def _assert_scalar_schema(qdf, name):
    # The driver canonicalizes via pandas sort_values, which raises
    # "unhashable type: 'list'" on array/map/struct cells — every
    # registered query must project scalar columns only.
    from pyspark.sql import types as ST
    complex_cols = [f.name for f in qdf.schema.fields
                    if isinstance(f.dataType,
                                  (ST.ArrayType, ST.MapType, ST.StructType))]
    assert not complex_cols, \
        f"{name}: complex-typed output columns {complex_cols} break the " \
        "driver's pandas canonicalizer — project scalars (concat_ws)"


@pytest.mark.parametrize("name", sorted(Q.oracle_sql()))
def test_query_matches_oracle(spark, ddb, name):
    qdf = Q.queries()[name](spark, SF_DIR)
    _assert_scalar_schema(qdf, name)
    spark_cols = qdf.columns
    spark_rows = [tuple(r) for r in qdf.collect()]

    res = ddb.execute(Q.oracle_sql()[name])
    ddb_cols = [d[0] for d in res.description]
    ddb_rows = res.fetchall()

    assert sorted(c.lower() for c in spark_cols) == \
        sorted(c.lower() for c in ddb_cols), f"{name}: column mismatch"
    assert len(spark_rows) == len(ddb_rows), f"{name}: row count mismatch"
    a = _canon(spark_rows, [c.lower() for c in spark_cols])
    b = _canon(ddb_rows, [c.lower() for c in ddb_cols])
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs {diff}")


@pytest.mark.parametrize("name", sorted(set(Q.queries()) - set(Q.oracle_sql())))
def test_rows_only_queries_run(spark, name):
    df = Q.queries()[name](spark, SF_DIR)
    _assert_scalar_schema(df, name)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as E
    df = E.entry(spark)
    assert df.count() > 0


# The driver's correctness artifact sweeps exactly the FIRST 50 registry
# entries in order. queries.py composes _QUERIES from the explicit
# _DRIVER_WINDOW list — the pipeline's stages first, in stage order, then
# entries outside the pipeline. This pin asserts that composition:
# re-composing means editing queries._DRIVER_WINDOW and this list
# together, consciously.
_SWEEP_WINDOW = [
    # extract + map: flagships, CSVW operator families, page facets
    "csvw_triples_nation", "kg_pages_triples",
    "csvw_coerce_numeric", "csvw_date_format", "csvw_null_default_trim",
    "csvw_json_rows", "csvw_list_split", "csvw_boolean_format",
    "csvw_uri_template",
    "kg_microdata_triples", "kg_jsonld_triples", "kg_og_triples",
    "kg_page_meta", "kg_rdfa_triples",
    # link
    "kg_entity_mentions",
    # canonicalize
    "kg_canonicalized_triples", "kg_canonical_dupes",
    "graph_component_sizes", "kg_sameas_mapping", "kg_sameas_canonical",
    # read back: inference and SPARQL
    "kg_rdfs_derived", "kg_owl_derived", "kg_construct_derived",
    "kg_sparql_select", "kg_sparql_agg", "kg_sparql_funcs",
    "kg_bgp_star", "kg_bgp_path", "kg_bgp_optional", "kg_bgp_filter",
    "kg_bgp_union",
    # validate
    "kg_shacl_report", "kg_shacl_summary",
    # outside the pipeline
    "agg_pricing_summary", "fk_orders_customer",
    "webtables_type_profile", "webtables_typed_triples",
    "webtables_header_triples", "webtables_subject_column",
    "webtables_entity_triples", "webtables_schema_freq",
    "webtables_pred_induction",
    "kg_fused_triples", "kg_reified_triples", "kg_hearst_pairs",
    "crawl_frontier", "crawl_recrawl_schedule", "crawl_sitemap_frontier",
    "events_sessionize", "kg_void_description",
]


def test_driver_sweep_window_pinned():
    assert list(Q._QUERIES)[:50] == _SWEEP_WINDOW
    # the window is the explicit rotation list, every entry oracle-backed
    assert Q._DRIVER_WINDOW == _SWEEP_WINDOW
    oracles = Q.oracle_sql()
    assert all(name in oracles for name in _SWEEP_WINDOW)
    # rotation must never DROP a query: the reordered view and the
    # registry hold exactly the same entries
    assert set(Q._QUERIES) == set(Q._REGISTRY)
    assert len(Q._QUERIES) == len(Q._REGISTRY)
