"""Query registry for the driver contract (``__spark_entry__.py``).

Each entry couples a Spark DataFrame program with an ANSI-SQL oracle that
DuckDB runs over the same parquet tables; the driver hash-compares values, so
every computed column is built from operations whose results are
**bit-identical** across both engines (md5, IEEE double arithmetic folded in
the same order, decimal-exact aggregation). Where an expression family is
delicate (MinHash permutations, SPARQL filters, property paths), the SQL is
*generated from the same Python loops* that build the Column expressions —
one source of truth, two engines.

Coverage map (SURVEY.md §2):
  csvw_*   — the reference's operator families re-expressed relationally:
             U1-U5 triple melt, C3-C6 coercion, C1 list split, C5 boolean,
             P5/P9/P10 trim/null/default, S7 JSON rows, U2 templates.
  kg_*     — the web pipeline end-to-end (HTML → page facets → triples →
             entity links → canonicalization) and the read tier over its
             triples: SPARQL/BGP, DESCRIBE, RDFS/OWL inference, SHACL;
             also link-graph, fusion, relation and VoID entries outside
             the pipeline's four stages.
  graph_*  — property paths and transitive closure (operators/paths.py,
             operators/graph.py) and stage 3's connected components.
  agg_/join_/window_/fk_/events_ — relational substrate (Catalyst-native;
             scan pushdown, broadcast joins, partial aggregation).
  crawl_/curate_/text_url_/dedup_/webtables_ — crawl, URL, dedup and
             WebTables operators outside the pipeline's four stages.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.void import void_sql as _void_sql

MENTIONS_PRED = "https://kg.example.org/ontology#mentions"
SOURCE_ENT_PREFIX = "https://kg.example.org/entity/source/"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# shared SQL fragments (one source of truth with the Column builders)
# ---------------------------------------------------------------------------

TOKS_SQL = r"string_split_regex(trim(text), '\s+')"


def _minhash_scale_sig_sql(sh: str, num_perm: int = 16, seed: int = 1) -> str:
    """SQL mirror of operators/minhash.minhash_signatures: per permutation i,
    min over token hashes x of ((a_i*x + b_i) mod 2^64) mod (2^61-1) — the
    numpy kernel's uint64 wraparound made explicit with hugeint arithmetic.
    Generated from the SAME _perm_params constants as the Arrow kernel."""
    from .operators.minhash import _MERSENNE, _perm_params
    a_p, b_p = _perm_params(num_perm, seed)
    mins = ", ".join(
        f"list_min(list_transform({sh}, x -> "
        f"((({int(a)}::hugeint * x::hugeint + {int(b)}) % {1 << 64}) "
        f"% {_MERSENNE})::bigint))"
        for a, b in zip(a_p, b_p))
    return f"[{mins}]"


# token hashing of the scale tier: first 8 bytes of md5, big-endian
_TOKHASH_SQL = "('0x' || substring(md5(t), 1, 16))::ubigint"


DOC_URL_SQL = "'http://pages.example.org/doc/' || doc_id"


# ---------------------------------------------------------------------------
# Spark query programs
# ---------------------------------------------------------------------------

def _csvw_triples_nation(spark, sf_dir):
    """U1-U5: URI-template expansion + cell-triple melt over a relational
    table (reference: reader.rb:154-183 re-expressed as explode of structs)."""
    nation = _t(spark, sf_dir, "nation")
    subj = F.concat(F.lit("http://example.org/nation/"),
                    F.col("n_nationkey").cast("string"))
    triples = F.array(
        F.struct(F.lit("http://example.org/def#name").alias("pred"),
                 F.col("n_name").alias("obj"), F.lit(False).alias("obj_is_iri")),
        F.struct(F.lit("http://example.org/def#region").alias("pred"),
                 F.concat(F.lit("http://example.org/region/"),
                          F.col("n_regionkey").cast("string")).alias("obj"),
                 F.lit(True).alias("obj_is_iri")),
        F.struct(F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type").alias("pred"),
                 F.lit("http://example.org/def#Nation").alias("obj"),
                 F.lit(True).alias("obj_is_iri")),
    )
    return (nation.select(subj.alias("subj"), F.explode(triples).alias("t"))
            .select("subj", F.col("t.pred").alias("pred"),
                    F.col("t.obj").alias("obj"),
                    F.col("t.obj_is_iri").alias("obj_is_iri")))


_CSVW_TRIPLES_NATION_SQL = """
select 'http://example.org/nation/' || n_nationkey as subj,
       'http://example.org/def#name' as pred, n_name as obj, false as obj_is_iri
from nation
union all
select 'http://example.org/nation/' || n_nationkey,
       'http://example.org/def#region',
       'http://example.org/region/' || n_regionkey, true
from nation
union all
select 'http://example.org/nation/' || n_nationkey,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
       'http://example.org/def#Nation', true
from nation
"""


def _csvw_coerce_numeric(spark, sf_dir):
    """C3/C4: groupChar-formatted lexical built by exact integer surgery, then
    normalized (strip ',') and cast — byte-identical with the oracle
    (reference: metadata.rb:1766-1801)."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    dollars = F.floor(cents / 100).cast("long")
    frac = (cents % 100).cast("long")
    thousands = F.floor(dollars / 1000).cast("long")
    rem = (dollars % 1000).cast("long")
    grouped = F.when(dollars >= 1000,
                     F.concat(thousands.cast("string"), F.lit(","),
                              F.lpad(rem.cast("string"), 3, "0"))) \
        .otherwise(dollars.cast("string"))
    lexical = F.concat(grouped, F.lit("."), F.lpad(frac.cast("string"), 2, "0"))
    parsed = F.regexp_replace(lexical, ",", "").cast("double")
    return li.select("l_orderkey", "l_linenumber", lexical.alias("lexical"),
                     parsed.alias("parsed"))


_CSVW_COERCE_NUMERIC_SQL = """
with c as (
  select l_orderkey, l_linenumber,
         cast(round(l_extendedprice * 100) as bigint) as cents
  from lineitem),
p as (
  select l_orderkey, l_linenumber, cents // 100 as dollars, cents % 100 as frac
  from c),
l as (
  select l_orderkey, l_linenumber,
         (case when dollars >= 1000
               then (dollars // 1000)::varchar || ',' ||
                    lpad((dollars % 1000)::varchar, 3, '0')
               else dollars::varchar end)
         || '.' || lpad(frac::varchar, 2, '0') as lexical
  from p)
select l_orderkey, l_linenumber, lexical,
       cast(replace(lexical, ',', '') as double) as parsed
from l
"""


def _csvw_date_format(spark, sf_dir):
    """C6: picture-string date round-trip (reference: metadata.rb:1822-1893,
    'd/M/yyyy' from the supported pattern set)."""
    li = _t(spark, sf_dir, "lineitem")
    lex = F.date_format("l_shipdate", "d/M/yyyy")
    iso = F.to_date(lex, "d/M/yyyy").cast("string")
    return li.select("l_orderkey", "l_linenumber", lex.alias("lex"),
                     iso.alias("iso"))


_CSVW_DATE_FORMAT_SQL = """
select l_orderkey, l_linenumber,
       strftime(l_shipdate, '%-d/%-m/%Y') as lex,
       strptime(strftime(l_shipdate, '%-d/%-m/%Y'), '%-d/%-m/%Y')::date::varchar as iso
from lineitem
"""


def _csvw_null_default_trim(spark, sf_dir):
    """P5/P9/P10: null-list match → NULL, empty→default, trim
    (reference: metadata.rb:1672-1695)."""
    docs = _t(spark, sf_dir, "documents")
    src_null = F.when(F.col("source") == "src0", F.lit(None)).otherwise(F.col("source"))
    return docs.select(
        "doc_id", src_null.alias("src_null"),
        F.coalesce(src_null, F.lit("unknown")).alias("src_default"),
        F.substring(F.trim(F.col("text")), 1, 20).alias("t20"))


_CSVW_NULL_DEFAULT_TRIM_SQL = """
select doc_id, nullif(source, 'src0') as src_null,
       coalesce(nullif(source, 'src0'), 'unknown') as src_default,
       substring(trim(text), 1, 20) as t20
from documents
"""


def _csvw_json_rows(spark, sf_dir):
    """S7: JSON row serialization (reference: reader.rb:276-382) via
    to_json(struct(...)) — pure codegen, no Python."""
    nation = _t(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        F.to_json(F.struct("n_nationkey", "n_name")).alias("json"))


_CSVW_JSON_ROWS_SQL = """
select n_nationkey,
       to_json(struct_pack(n_nationkey := n_nationkey, n_name := n_name)) as json
from nation
"""


def _csvw_list_split(spark, sf_dir):
    """C1: separator split → one row per element (reference:
    metadata.rb:1674,1711; rdf:List linearization is the ordered variant)."""
    part = _t(spark, sf_dir, "part")
    return part.select("p_partkey",
                       F.explode(F.split("p_name", " ")).alias("word"))


_CSVW_LIST_SPLIT_SQL = """
select p_partkey, unnest(string_split(p_name, ' ')) as word from part
"""


def _csvw_boolean_format(spark, sf_dir):
    """C5: custom boolean format 'Y|N' parse (reference: metadata.rb:1802-1821)."""
    ev = _t(spark, sf_dir, "events")
    lex = F.when(F.col("event_id") % 2 == 0, F.lit("Y")).otherwise(F.lit("N"))
    return ev.select("event_id", lex.alias("lex"),
                     (lex == "Y").alias("parsed"))


_CSVW_BOOLEAN_FORMAT_SQL = """
select event_id, case when event_id % 2 = 0 then 'Y' else 'N' end as lex,
       case when event_id % 2 = 0 then 'Y' else 'N' end = 'Y' as parsed
from events
"""


def _csvw_uri_template(spark, sf_dir):
    """U2: template expansion with percent-encoding of the bound value
    (simple-expansion subset; full RFC 6570 lives in csvw/uri_template.py)."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.concat(F.lit("http://example.org/part/"),
                 F.regexp_replace("p_name", " ", "%20")).alias("iri"))


_CSVW_URI_TEMPLATE_SQL = """
select p_partkey,
       'http://example.org/part/' || replace(p_name, ' ', '%20') as iri
from part
"""


# --- relational substrate ---------------------------------------------------

def _agg_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan → partial agg → final agg. Decimal-exact sums so
    the result is order-independent (double sums are not associative)."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(38,4)")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
                 F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
                 F.count("*").alias("count_order")))


_AGG_PRICING_SUMMARY_SQL = """
select l_returnflag, l_linestatus,
       cast(sum(cast(l_quantity as decimal(38,4))) as double) as sum_qty,
       cast(sum(cast(l_extendedprice as decimal(38,4))) as double) as sum_base_price,
       count(*) as count_order
from lineitem
group by l_returnflag, l_linestatus
"""


def _join_order_revenue(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter broadcast through a fact join;
    revenue summed decimal-exact; top-10 via TakeOrdered."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))) \
        .cast("decimal(38,4)")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("o_orderkey", "o_orderdate")
            .agg(F.sum(rev).cast("double").alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
            .limit(10))


def _join_supplier_profit(spark, sf_dir):
    """TPC-H Q9 shape: fact scan with TWO broadcast dim joins (supplier →
    nation chain + filtered part), profit summed decimal-exact per
    (nation, brand). The p_type filter pushes to the part scan; both dim
    sides broadcast — the only shuffle is the final low-cardinality
    groupBy."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_type").startswith("SMALL"))
    profit = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
              - F.col("l_quantity") * F.col("p_retailprice")) \
        .cast("decimal(38,4)")
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
            .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
            .groupBy("n_name", "p_brand")
            .agg(F.count("*").cast("long").alias("n_items"),
                 F.sum(profit).cast("double").alias("profit")))


_JOIN_SUPPLIER_PROFIT_SQL = """
select n_name, p_brand, cast(count(*) as bigint) as n_items,
       cast(sum(cast(l_extendedprice * (1.0 - l_discount)
                     - l_quantity * p_retailprice as decimal(38,4)))
            as double) as profit
from lineitem
join part on l_partkey = p_partkey
join supplier on l_suppkey = s_suppkey
join nation on s_nationkey = n_nationkey
where p_type like 'SMALL%'
group by n_name, p_brand
"""


_JOIN_ORDER_REVENUE_SQL = """
select o_orderkey, o_orderdate,
       cast(sum(cast(l_extendedprice * (1.0 - l_discount) as decimal(38,4)))
            as double) as revenue
from lineitem
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
where c_mktsegment = 'BUILDING'
group by o_orderkey, o_orderdate
order by revenue desc, o_orderkey
limit 10
"""


def _window_top_events(spark, sf_dir):
    """Window top-k per key (row numbering, SURVEY §2.7)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id"))
    return (ev.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 2)
            .select("user_id", "event_id", "rnk"))


_WINDOW_TOP_EVENTS_SQL = """
select user_id, event_id, rnk from (
  select user_id, event_id,
         row_number() over (partition by user_id order by ts desc, event_id) as rnk
  from events) where rnk <= 2
"""


def _events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity closes a session) — the
    clickstream primitive behind engagement/funnel tables. One per-user
    window (lag + running sum of session breaks), then a (user, session)
    groupBy that reuses the same hash partitioning. Microsecond epoch
    arithmetic (unix_micros / epoch_us) keeps the gap comparison and the
    start/end columns integer-exact across engines; the value sum goes
    through decimal(38,4) like agg_events_daily."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # events.ts is TIMESTAMP_NTZ; the cast interprets it in the session tz
    # (UTC here), matching DuckDB's epoch_us over the naive value — the
    # same convention dedup_url_latest's epoch column relies on
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    brk = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    run = (Window.partitionBy("user_id").orderBy("ts", "event_id")
           .rowsBetween(Window.unboundedPreceding, 0))
    sess = ev.withColumn("session_seq",
                         F.sum(brk).over(run).cast("long"))
    return (sess.groupBy("user_id", "session_seq")
            .agg(F.count("*").alias("n_events"),
                 F.min(us).alias("start_us"),
                 F.max(us).alias("end_us"),
                 F.sum(F.col("value").cast("decimal(38,4)"))
                 .cast("double").alias("sum_value")))


_EVENTS_SESSIONIZE_SQL = """
with g as (
  select user_id, event_id, value, epoch_us(ts) as us,
         case when epoch_us(ts) - lag(epoch_us(ts))
                over (partition by user_id order by ts, event_id)
              > 1800 * 1000000 then 1
              when lag(epoch_us(ts))
                over (partition by user_id order by ts, event_id) is null
              then 1 else 0 end as brk
  from events),
s as (
  select user_id, value, us,
         sum(brk) over (partition by user_id order by us, event_id
                        rows between unbounded preceding and current row)
           ::bigint as session_seq
  from g)
select user_id, session_seq, count(*) as n_events,
       min(us) as start_us, max(us) as end_us,
       cast(sum(cast(value as decimal(38,4))) as double) as sum_value
from s group by user_id, session_seq
"""


def _agg_events_daily(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.to_date("ts").alias("day"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("value").cast("decimal(38,4)"))
                 .cast("double").alias("sum_value")))


_AGG_EVENTS_DAILY_SQL = """
select ts::date as day, event_type, count(*) as n,
       cast(sum(cast(value as decimal(38,4))) as double) as sum_value
from events
group by ts::date, event_type
"""


def _agg_salted_count(spark, sf_dir):
    """Skew-proof two-stage count (operators/skew.py) vs the plain groupBy
    oracle — proves the salted partial/final split changes the plan, not
    the answer (north_rule: explicit skew handling)."""
    from .operators import skew as SK
    ev = _t(spark, sf_dir, "events")
    return SK.two_stage_count(ev, "event_type")


_AGG_SALTED_COUNT_SQL = """
select event_type, count(*) as n from events group by event_type
"""


def _fk_orders_customer(spark, sf_dir):
    """M6/§2.6: data-level FK integrity check the reference only declares
    (metadata.rb:517-541 FIXME) — left-anti join, broadcast parent."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    orphans = orders.join(F.broadcast(cust),
                          orders.o_custkey == cust.c_custkey, "left_anti")
    return orphans.agg(F.count("*").alias("n_orphans"))


_FK_ORDERS_CUSTOMER_SQL = """
select count(*) as n_orphans from orders o
where not exists (select 1 from customer c where c.c_custkey = o.o_custkey)
"""


def _fk_group_integrity(spark, sf_dir):
    """M6 data tier wired through DECLARED ``schema.foreignKeys``: build a
    CSVW TableGroup (nation as child, region truncated to r_regionkey < 3
    as parent) and run ``pipeline.validate_foreign_keys`` — violations are
    exactly the nations referencing the dropped regions. Exercises the
    whole declared-FK path (metadata parse → key-tuple extraction →
    distinct parent anti-join), the check the reference FIXMEs
    (metadata.rb:536-540). Fixture CSVs are derived from the sf tables
    (driver-side collect of 30 dimension rows — setup, not the data path)."""
    import json as _json
    import os
    from .csvw.model import load_metadata
    from .pipeline import validate_foreign_keys
    root = f"/tmp/spark_graft_fkgroup_{os.path.basename(sf_dir.rstrip('/'))}"
    os.makedirs(root, exist_ok=True)
    nation = sorted((r["n_nationkey"], r["n_name"], r["n_regionkey"])
                    for r in _t(spark, sf_dir, "nation").collect())
    region = sorted((r["r_regionkey"], r["r_name"])
                    for r in _t(spark, sf_dir, "region").collect()
                    if r["r_regionkey"] < 3)
    with open(os.path.join(root, "nation.csv"), "w") as f:
        f.write("n_nationkey,n_name,n_regionkey\n")
        f.writelines(f"{k},{n},{rk}\n" for k, n, rk in nation)
    with open(os.path.join(root, "region.csv"), "w") as f:
        f.write("r_regionkey,r_name\n")
        f.writelines(f"{k},{n}\n" for k, n in region)
    gpath = os.path.join(root, "group.json")
    with open(gpath, "w") as f:
        _json.dump({
            "@context": "http://www.w3.org/ns/csvw",
            "tables": [
                {"url": "region.csv", "tableSchema": {
                    "columns": [{"name": "r_regionkey"}, {"name": "r_name"}],
                    "primaryKey": "r_regionkey"}},
                {"url": "nation.csv", "tableSchema": {
                    "columns": [{"name": "n_nationkey"}, {"name": "n_name"},
                                {"name": "n_regionkey"}],
                    "foreignKeys": [{
                        "columns": "n_regionkey",
                        "reference": {"resource": "region.csv",
                                      "columns": "r_regionkey"}}]}},
            ]}, f)
    group = load_metadata(gpath, base=gpath, resolver=lambda u: u)
    viol = validate_foreign_keys(spark, group, resolver=lambda u: u)
    # Scalar output columns only: the driver canonicalizes via pandas
    # sort_values, which cannot hash raw array cells — flatten the key
    # tuple and the (sorted) source-row list to comma-joined strings.
    return viol.select(
        F.element_at(F.split("child_url", "/"), -1).alias("child_url"),
        "fk_index",
        F.concat_ws(",", "key").alias("key"),
        "n_rows",
        F.concat_ws(",", F.transform(F.sort_array("source_nums"),
                                     lambda x: x.cast("string")))
         .alias("source_nums")).orderBy("key")


# nation.csv is written sorted by n_nationkey with one header line, so a
# row's physical line = its n_nationkey rank + 1 (header) + 1 (1-based)
_FK_GROUP_INTEGRITY_SQL = """
with child as (
  select n_regionkey,
         row_number() over (order by n_nationkey) + 1 as source_num
  from nation
)
select 'nation.csv' as child_url, cast(0 as int) as fk_index,
       cast(n_regionkey as varchar) as key,
       count(*) as n_rows,
       string_agg(cast(source_num as varchar), ',' order by source_num)
         as source_nums
from child
where n_regionkey not in
      (select r_regionkey from region where r_regionkey < 3)
group by n_regionkey
order by key
"""


# --- URL normalization ------------------------------------------------------


def _text_url_normalize(spark, sf_dir):
    """Crawl primitive: RFC 3986-subset URL canonicalization as pure Column
    exprs (operators/urls.py) — messy variants synthesized deterministically
    from doc_id so both engines normalize the same inputs."""
    from .operators.urls import normalize_url, url_host
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    messy = F.concat(
        F.when(did % 2 == 0, F.lit("HTTP://")).otherwise(F.lit("https://")),
        F.lit("Pages.Example.ORG"),
        F.when(did % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        F.when(did % 3 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("/doc/"), did.cast("string"))),
        F.when(did % 5 == 0, F.lit("#frag")).otherwise(F.lit("")))
    return docs.select("doc_id", messy.alias("raw"),
                       normalize_url(messy).alias("norm"),
                       url_host(messy).alias("host"))


def _url_normalize_sql() -> str:
    from .operators.urls import url_normalize_sql
    messy = ("(case when doc_id % 2 = 0 then 'HTTP://' else 'https://' end)"
             " || 'Pages.Example.ORG'"
             " || (case when doc_id % 2 = 0 then ':80' else ':443' end)"
             " || (case when doc_id % 3 = 0 then '' else '/doc/' || doc_id end)"
             " || (case when doc_id % 5 = 0 then '#frag' else '' end)")
    return f"""
with m as (select doc_id, {messy} as raw from documents)
select doc_id, raw, {url_normalize_sql('raw')} as norm,
       lower(regexp_extract(raw, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))
       as host
from m
"""


_TEXT_URL_NORMALIZE_SQL = _url_normalize_sql()


# --- dedup ------------------------------------------------------------------


def _scale_sigs(spark, sf_dir, num_perm: int = 16):
    from .operators import minhash as MH
    from .session import ensure_package_on_executors
    ensure_package_on_executors(spark)
    return MH.minhash_signatures(_t(spark, sf_dir, "documents"), "doc_id",
                                 "text", num_perm=num_perm, token_sep=" ")


# CTE prefix shared by the scale-tier sig/pairs oracles: whitespace tokens →
# md5-u64 token hashes (empty → [0] sentinel, as in the kernel) → signature
_SCALE_SIG_CTE = f"""
with tk as (select doc_id::varchar as id,
            list_filter(string_split(text, ' '), t -> t <> '') as tk
            from documents),
sh as (select id, case when len(tk) = 0 then [0::ubigint]
       else list_distinct(list_transform(tk, t -> {_TOKHASH_SQL})) end as sh
       from tk),
sig as (select id, {_minhash_scale_sig_sql('sh')} as sig from sh)
"""


def _dedup_minhash_scale_sig(spark, sf_dir):
    """Scale-tier MinHash signatures (operators/minhash.py numpy kernel) —
    flattened to one comma-joined string for the hash compare."""
    sigs = _scale_sigs(spark, sf_dir)
    return sigs.select(
        "id", F.concat_ws(",", F.transform("sig", lambda x: x.cast("string")))
        .alias("sig"))


_DEDUP_MINHASH_SCALE_SIG_SQL = _SCALE_SIG_CTE + """
select id, array_to_string(list_transform(sig, x -> x::varchar), ',') as sig
from sig
"""


def _dedup_minhash_scale_pairs(spark, sf_dir):
    """Scale-tier LSH candidate pairs (xxhash64 band join). The oracle
    compares band *slices* directly — band equality in the engine is
    xxhash64(slice-string) equality, identical up to a 2^-64 hash collision,
    so the pair sets agree."""
    from .operators import minhash as MH
    return MH.lsh_candidate_pairs(_scale_sigs(spark, sf_dir), num_bands=4)


_DEDUP_MINHASH_SCALE_PAIRS_SQL = _SCALE_SIG_CTE + """,
bands as (
  select id, b.b as band,
         array_to_string(list_transform(list_slice(sig, 4*b.b + 1, 4*b.b + 4),
                                        x -> x::varchar), ',') as bk
  from sig cross join (values (0), (1), (2), (3)) as b(b))
select distinct l.id as a, r.id as b
from bands l join bands r on l.band = r.band and l.bk = r.bk and l.id < r.id
"""


# --- KG pipeline (web path) -------------------------------------------------

def _kg_pages(spark, sf_dir):
    from .sources.pages import pages_from_documents
    return pages_from_documents(_t(spark, sf_dir, "documents"))


def _kg_pages_triples(spark, sf_dir):
    """Flagship: HTML build → stage-1 extraction → stage-2 CSVW triple kernel,
    all inside Arrow batches; the oracle recomputes the expected triples
    relationally from the documents table."""
    from .sources.pages import DOC_PAGE_META
    from .web import pages_to_triples
    triples = pages_to_triples(_kg_pages(spark, sf_dir), minimal=True,
                               default_meta=DOC_PAGE_META)
    return triples.select("subj", "pred", "obj")


_KG_PAGES_TRIPLES_SQL = " union all ".join(
    f"select {DOC_URL_SQL} || '#doc-' || doc_id as subj, "
    f"{DOC_URL_SQL} || '#{col}' as pred, "
    f"cast({col} as varchar) as obj from documents"
    for col in ("doc_id", "lang", "source", "n_chars"))


def _kg_entity_mentions(spark, sf_dir):
    """Stage 2b: broadcast-dictionary mention detection (exact tier; the
    fuzzy Jaccard tier is gated off by min_score > 1 so the oracle is exact)."""
    from .sources.pages import DOC_PAGE_META
    from .web import link_entities, pages_to_triples
    docs = _t(spark, sf_dir, "documents")
    sources = [r["source"] for r in docs.select("source").distinct().collect()]
    ents = {s: SOURCE_ENT_PREFIX + s for s in sources}
    triples = pages_to_triples(_kg_pages(spark, sf_dir), minimal=True,
                               default_meta=DOC_PAGE_META)
    mentions = link_entities(triples, ents, min_score=1.1)
    return mentions.select("subj", "pred", "obj")


_KG_ENTITY_MENTIONS_SQL = f"""
select {DOC_URL_SQL} || '#doc-' || doc_id as subj,
       '{MENTIONS_PRED}' as pred,
       '{SOURCE_ENT_PREFIX}' || source as obj
from documents
"""


def _kg_entity_mentions_join(spark, sf_dir):
    """Stage 2b scale tier: dictionary as a DataFrame join (no driver
    broadcast dict) — same oracle as the broadcast tier."""
    from .sources.pages import DOC_PAGE_META
    from .web import link_entities_distributed, pages_to_triples
    docs = _t(spark, sf_dir, "documents")
    entities = (docs.select("source").distinct()
                .select(F.col("source").alias("surface"),
                        F.concat(F.lit(SOURCE_ENT_PREFIX), "source").alias("iri")))
    triples = pages_to_triples(_kg_pages(spark, sf_dir), minimal=True,
                               default_meta=DOC_PAGE_META)
    return link_entities_distributed(triples, entities) \
        .select("subj", "pred", "obj")


COMENTION_ENTS = ["spark", "customer", "vector", "stream"]


def _kg_comention_pmi(spark, sf_dir):
    """Stage 2c: co-mention relation mining — PMI over entity pairs
    co-occurring in one document (doc-keyed self-join, broadcast marginals)."""
    from .web import comention_pmi
    return comention_pmi(_t(spark, sf_dir, "documents"), COMENTION_ENTS,
                         min_pairs=2)


_ENTS_SQL = ", ".join(f"'{e}'" for e in COMENTION_ENTS)
_KG_COMENTION_PMI_SQL = f"""
with m as (
  select distinct doc_id as doc, t.tok as ent
  from documents, unnest({TOKS_SQL}) as t(tok)
  where t.tok in ({_ENTS_SQL})),
marg as (select ent, count(*) as n from m group by ent),
p as (
  select a.ent as ent_a, b.ent as ent_b, count(*) as n_ab
  from m a join m b on a.doc = b.doc and a.ent < b.ent
  group by 1, 2 having count(*) >= 2)
select ent_a, ent_b, n_ab,
       round(ln(cast(n_ab as double)
                * (select count(*) from documents)
                / (cast(ma.n as double) * cast(mb.n as double))), 4) as pmi
from p join marg ma on p.ent_a = ma.ent
       join marg mb on p.ent_b = mb.ent
"""


def _kg_microdata_triples(spark, sf_dir):
    """Stage 1b: schema.org microdata items (explicit itemid → deterministic
    subjects) → rdf:type + property triples; the oracle predicts all three
    triples per document relationally."""
    from .web import microdata_to_triples
    return microdata_to_triples(_kg_pages(spark, sf_dir)) \
        .select("subj", "pred", "obj")


_KG_MICRODATA_TRIPLES_SQL = f"""
select {DOC_URL_SQL} || '#item' as subj,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' as pred,
       'http://schema.org/CreativeWork' as obj from documents
union all
select {DOC_URL_SQL} || '#item', 'http://schema.org/name',
       'doc ' || doc_id from documents
union all
select {DOC_URL_SQL} || '#item', 'http://schema.org/inLanguage',
       lang from documents
"""


def _kg_jsonld_triples(spark, sf_dir):
    """Stage 1d: embedded schema.org JSON-LD blocks → triples
    (web.pages_to_jsonld_triples). The fixture block per document carries
    an @id'd Article node with a typed integer (wordCount), a
    language-tagged @value (inLanguage), and a nested @id'd author node —
    so the oracle pins @context vocab expansion, @id resolution, xsd
    typing, @language handling, and nested-node edges, all relationally."""
    from .web import pages_to_jsonld_triples
    t = pages_to_jsonld_triples(_kg_pages(spark, sf_dir))
    return t.select(
        "subj", "pred", "obj",
        F.coalesce("obj_datatype", F.lit("")).alias("dt"),
        F.coalesce("obj_lang", F.lit("")).alias("olang"))


_KG_JSONLD_TRIPLES_SQL = f"""
with d as (select {DOC_URL_SQL} as u, doc_id, lang, source, n_chars
           from documents)
select u || '#jld' as subj,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' as pred,
       'http://schema.org/Article' as obj, '' as dt, '' as olang from d
union all
select u || '#jld', 'http://schema.org/headline', 'doc ' || doc_id, '', ''
from d
union all
select u || '#jld', 'http://schema.org/wordCount',
       cast(n_chars as varchar),
       'http://www.w3.org/2001/XMLSchema#integer', '' from d
union all
select u || '#jld', 'http://schema.org/inLanguage', lang, '', lang from d
union all
select u || '#jld', 'http://schema.org/author', u || '#author', '', '' from d
union all
select u || '#author', 'http://schema.org/name', source, '', '' from d
"""


def _kg_page_meta(spark, sf_dir):
    """Stage 1e: head metadata — title, resolved canonical link, robots
    directives (web.pages_to_head_meta). The fixture declares canonical
    groups of 5 and noindex on every doc_id % 7 == 3 page, all
    SQL-predictable."""
    from .web import pages_to_head_meta
    return pages_to_head_meta(_kg_pages(spark, sf_dir))


_KG_PAGE_META_SQL = f"""
select {DOC_URL_SQL} as url,
       'Doc ' || doc_id as title,
       'http://pages.example.org/doc/' || (doc_id - doc_id % 5) as canonical,
       doc_id % 7 = 3 as noindex,
       doc_id % 7 = 3 as nofollow
from documents
"""


def _kg_og_triples(spark, sf_dir):
    """Stage 1f: OpenGraph (RDFa-lite ``<meta property="og:*">``) →
    page-subject triples. Fixture: og:title + og:locale per page."""
    from .web import pages_to_og_triples
    return pages_to_og_triples(_kg_pages(spark, sf_dir)) \
        .select("subj", "pred", "obj")


_KG_OG_TRIPLES_SQL = f"""
select {DOC_URL_SQL} as subj, 'https://ogp.me/ns#title' as pred,
       'Doc ' || doc_id as obj from documents
union all
select {DOC_URL_SQL}, 'https://ogp.me/ns#locale', lang from documents
"""


def _kg_page_links_nofollow(spark, sf_dir):
    """Crawl-compliance link graph: edges from robots-nofollow source
    pages dropped in-kernel (web.pages_to_links respect_nofollow).
    Fixture: every doc_id % 7 == 3 page is nofollow, so exactly its
    outgoing parent-link disappears."""
    from .web import pages_to_links
    return pages_to_links(_kg_pages(spark, sf_dir),
                          respect_nofollow=True).distinct()


_KG_PAGE_LINKS_NOFOLLOW_SQL = f"""
select {DOC_URL_SQL} as src,
       'http://pages.example.org/doc/' || (doc_id // 2) as dst
from documents
where doc_id > 0 and doc_id % 7 <> 3
"""


def _text_url_strip_tracking(spark, sf_dir):
    """Tracking-param stripping (operators/urls.strip_tracking_params):
    utm_*/gclid/fbclid query params synthesized deterministically around a
    real param — the canonical same-resource dedup rule of crawl
    pipelines."""
    from .operators.urls import strip_tracking_params
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    messy = F.concat(
        F.lit("https://pages.example.org/doc/"), did.cast("string"),
        F.when(did % 4 == 0, F.lit("?utm_source=feed&id=")) \
         .when(did % 4 == 1, F.lit("?id=")) \
         .when(did % 4 == 2, F.lit("?gclid=abc123&utm_medium=x&id=")) \
         .otherwise(F.lit("?utm_campaign=")),
        did.cast("string"),
        F.when(did % 4 == 2, F.lit("&fbclid=z")).otherwise(F.lit("")))
    return docs.select("doc_id", messy.alias("raw"),
                       strip_tracking_params(messy).alias("clean"))


def _url_strip_tracking_sql() -> str:
    from .operators.urls import strip_tracking_sql
    messy = ("'https://pages.example.org/doc/' || doc_id"
             " || (case when doc_id % 4 = 0 then '?utm_source=feed&id='"
             " when doc_id % 4 = 1 then '?id='"
             " when doc_id % 4 = 2 then '?gclid=abc123&utm_medium=x&id='"
             " else '?utm_campaign=' end)"
             " || doc_id"
             " || (case when doc_id % 4 = 2 then '&fbclid=z' else '' end)")
    return f"""
with m as (select doc_id, {messy} as raw from documents)
select doc_id, raw, {strip_tracking_sql('raw')} as clean from m
"""


def _crawl_frontier(spark, sf_dir):
    """Crawl-frontier discovery (operators/crawl.frontier_urls): crawled
    set = pages with doc_id >= 10; their parent links point at doc_ids
    did // 2, so the frontier is exactly the uncrawled parents 5..9."""
    from .operators.crawl import frontier_urls
    from .sources.pages import pages_from_documents
    from .web import pages_to_links
    docs = _t(spark, sf_dir, "documents")
    pages = pages_from_documents(docs.where("doc_id >= 10"))
    return frontier_urls(pages_to_links(pages), pages.select("url"))


_CRAWL_FRONTIER_SQL = """
select distinct 'http://pages.example.org/doc/' || (doc_id // 2) as url
from documents
where doc_id >= 10 and doc_id // 2 < 10
"""


ROBOTS_FIXTURE = """# synthetic robots for the docs host
User-agent: other-bot
Disallow: /private

User-agent: *
Disallow: /doc/1
Disallow:   # empty = allow all, ignored
"""


def _curate_robots_filter(spark, sf_dir):
    """robots.txt compliance gate (operators/crawl): parse the fixture
    robots body through the Arrow kernel, then host-keyed prefix filter —
    every /doc/1* page (doc 1, 10-19, 100-199, ...) is dropped."""
    from .operators.crawl import filter_disallowed, robots_rules
    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        F.concat(F.lit("http://pages.example.org/doc/"),
                 F.col("doc_id").cast("string")).alias("url"))
    robots = spark.createDataFrame(
        [("pages.example.org", ROBOTS_FIXTURE)],
        "host string, robots_txt string")
    return filter_disallowed(urls, robots_rules(robots))


_CURATE_ROBOTS_FILTER_SQL = """
select 'http://pages.example.org/doc/' || doc_id as url
from documents
where cast(doc_id as varchar) not like '1%'
"""


def _dedup_url_canonical(spark, sf_dir):
    """First-tier crawl dedup as a COMPOSITION: normalize_url ∘
    strip_tracking_params collapses scheme/host case, default ports and
    utm params, then latest_snapshot keeps one row per canonical URL —
    two snapshots per doc (a messy old capture and a clean one-day-later
    recrawl) collapse to the recrawl. Pure Column exprs + ONE keyed
    shuffle."""
    from .operators.crawl import latest_snapshot
    from .operators.urls import normalize_url, strip_tracking_params
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    base_ts = F.to_timestamp(F.lit("2024-01-01"))
    messy = docs.select(
        F.concat(F.lit("HTTP://Pages.Example.ORG:80/doc/"),
                 did.cast("string"),
                 F.lit("?utm_source=feed")).alias("url"),
        base_ts.alias("warc_ts"), did.alias("k"))
    clean = docs.select(
        F.concat(F.lit("http://pages.example.org/doc/"),
                 did.cast("string")).alias("url"),
        (base_ts + F.expr("INTERVAL 1 DAY")).alias("warc_ts"),
        did.alias("k"))
    snaps = messy.unionByName(clean).withColumn(
        "url", strip_tracking_params(normalize_url(F.col("url"))))
    kept = latest_snapshot(snaps, tiebreak_col=None)  # no html column here
    return kept.select("url", F.unix_timestamp("warc_ts").alias("ts_epoch"),
                       "k")


_DEDUP_URL_CANONICAL_SQL = """
select 'http://pages.example.org/doc/' || doc_id as url,
       epoch(timestamp '2024-01-02')::bigint as ts_epoch,
       doc_id as k
from documents
"""


def _crawl_recrawl_schedule(spark, sf_dir):
    """Change-rate re-crawl tiers (operators/crawl.recrawl_schedule) over 4
    simulated snapshots per URL: every-6th doc changes at every re-crawl
    (rate 1.0 → fast), every-3rd-not-6th changes once (rate 1/3 → slow),
    the rest never change (static). Content is md5-digested map-side —
    the text column never shuffles."""
    from .operators.crawl import recrawl_schedule
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(F.lit("http://pages.example.org/doc/"),
                   did.cast("string"))
    snaps = []
    for k in range(4):
        text_k = (F.when(did % 6 == 0,
                         F.concat(F.col("text"), F.lit(f":v{k}")))
                  .when((did % 3 == 0) & F.lit(k >= 1),
                        F.concat(F.col("text"), F.lit(":v1")))
                  .otherwise(F.col("text")))
        snaps.append(docs.select(
            url.alias("url"),
            (F.to_timestamp(F.lit("2024-01-01"))
             + F.expr(f"INTERVAL {k} DAY")).alias("warc_ts"),
            text_k.alias("text")))
    all_snaps = snaps[0]
    for s in snaps[1:]:
        all_snaps = all_snaps.unionByName(s)
    out = recrawl_schedule(all_snaps)
    return out.select("url", "n_snapshots", "n_versions", "change_rate",
                      "tier", F.unix_timestamp("last_ts").alias("last_ts_epoch"))


_CRAWL_RECRAWL_SCHEDULE_SQL = """
select 'http://pages.example.org/doc/' || doc_id as url,
       cast(4 as bigint) as n_snapshots,
       cast(case when doc_id % 6 = 0 then 4
                 when doc_id % 3 = 0 then 2 else 1 end as bigint)
         as n_versions,
       case when doc_id % 6 = 0 then 1.0
            when doc_id % 3 = 0 then round(1.0 / 3, 4)
            else 0.0 end as change_rate,
       case when doc_id % 6 = 0 then 'fast'
            when doc_id % 3 = 0 then 'slow' else 'static' end as tier,
       epoch(timestamp '2024-01-04')::bigint as last_ts_epoch
from documents
"""


def _crawl_sitemap_frontier(spark, sf_dir):
    """Sitemap-driven frontier: sitemap XML files are ASSEMBLED
    distributed (one <urlset> per 100-doc group, built with pure Column
    exprs), parsed back through the Arrow kernel
    (operators/crawl.sitemap_urls — the round trip pins the parser), and
    anti-joined against the crawled set (every doc_id % 10 != 7) — the
    output is exactly the %10==7 URLs with their declared lastmod."""
    from .operators.crawl import sitemap_urls
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(F.lit("http://pages.example.org/doc/"),
                   did.cast("string"))
    lastmod = F.date_add(F.lit("2024-01-01").cast("date"),
                         (did % 5).cast("int")).cast("string")
    frag = F.concat(F.lit("<url><loc>"), url, F.lit("</loc><lastmod>"),
                    lastmod, F.lit("</lastmod></url>"))
    sitemaps = (docs.groupBy((did / 100).cast("long").alias("g"))
                .agg(F.concat(
                    F.lit('<urlset xmlns="http://www.sitemaps.org/'
                          'schemas/sitemap/0.9">'),
                    F.concat_ws("", F.sort_array(F.collect_list(frag))),
                    F.lit("</urlset>")).alias("sitemap_xml"))
                .select(F.lit("pages.example.org").alias("host"),
                        "sitemap_xml"))
    declared = sitemap_urls(sitemaps)
    crawled = docs.where(did % 10 != 7).select(url.alias("loc"))
    return (declared.join(crawled, "loc", "left_anti")
            .select("loc", "lastmod"))


_CRAWL_SITEMAP_FRONTIER_SQL = """
select 'http://pages.example.org/doc/' || doc_id as loc,
       cast(date '2024-01-01'
            + (doc_id % 5)::int * interval 1 day as date)::varchar as lastmod
from documents
where doc_id % 10 = 7
"""


def _kg_void_description(spark, sf_dir):
    """VoID dataset self-description (operators/void.void_description,
    exact mode) over the microdata triple set — summary counts + one
    propertyPartition node per predicate; the oracle is the generic SQL
    mirror (operators/void.void_sql) over the same triples CTE."""
    from .operators.void import void_description
    from .web import microdata_to_triples
    triples = microdata_to_triples(_kg_pages(spark, sf_dir))
    return void_description(triples, "https://kg.example.org/dataset/docs") \
        .select("subj", "pred", "obj")


def _dedup_canonical_groups(spark, sf_dir):
    """Publisher-declared dedup: group pages by effective canonical URL
    (web.canonical_groups) — the zero-compute first dedup tier of a real
    crawl. One keyed shuffle, map-side partial aggs."""
    from .web import canonical_groups, pages_to_head_meta
    return canonical_groups(pages_to_head_meta(_kg_pages(spark, sf_dir)))


_DEDUP_CANONICAL_GROUPS_SQL = """
select 'http://pages.example.org/doc/' || (doc_id - doc_id % 5) as canonical,
       cast(count(*) as bigint) as n_pages,
       'http://pages.example.org/doc/' || (doc_id - doc_id % 5)
         as representative
from documents
group by doc_id - doc_id % 5
"""


_LOCAL_NAME_SQL = "regexp_extract({c}, '([^#/]*)$', 1)"


def _canonicalized_oracle_sql(triples_sql: str) -> str:
    """Relational mirror of stage 3's exact tier: subjects with identical
    literal profiles (sorted localname(pred)=obj tokens) collapse to the
    lexical-min subject. The LSH near-dup tier adds nothing on the synthetic
    corpus (every profile carries a unique doc_id token, so estimated
    Jaccard between distinct profiles stays far below the 0.9 threshold)."""
    ln = _LOCAL_NAME_SQL.format(c="pred")
    return f"""
with t as ({triples_sql}),
prof as (
  select subj, string_agg({ln} || '=' || obj, '|' order by {ln} || '=' || obj)
         as profile
  from t group by subj),
canon as (select subj, min(subj) over (partition by profile) as csubj
          from prof)
select c.csubj as subj, t.pred, t.obj
from t join canon c on t.subj = c.subj
"""


def _kg_canonicalized_triples(spark, sf_dir):
    """Stage 3 end-to-end over the single-host corpus (profiles are all
    distinct → canonicalization is the identity; the oracle proves it by
    running the exact-tier semantics relationally)."""
    from .sources.pages import DOC_PAGE_META
    from .web import canonicalize_subjects, pages_to_triples
    triples = pages_to_triples(_kg_pages(spark, sf_dir), minimal=True,
                               default_meta=DOC_PAGE_META)
    rewritten, _mapping = canonicalize_subjects(triples)
    return rewritten.select("subj", "pred", "obj")


_KG_CANONICALIZED_TRIPLES_SQL = _canonicalized_oracle_sql(_KG_PAGES_TRIPLES_SQL)


def _kg_canonical_dupes(spark, sf_dir):
    """Stage 3 with real merging: every document appears on TWO hosts
    (pages.example.org + a mirrored url), so each subject pair has an
    identical profile and the exact-first cascade must collapse it to the
    lexical-min (mirror) subject while predicates keep their host."""
    from .sources.pages import DOC_PAGE_META
    from .web import canonicalize_subjects, pages_to_triples
    pages = _kg_pages(spark, sf_dir)
    mirror = pages.withColumn(
        "url", F.regexp_replace("url", "^http://pages\\.", "http://mirror."))
    triples = pages_to_triples(pages.unionByName(mirror), minimal=True,
                               default_meta=DOC_PAGE_META)
    rewritten, _mapping = canonicalize_subjects(triples)
    return rewritten.select("subj", "pred", "obj")


_KG_CANONICAL_DUPES_SQL = " union all ".join(
    f"select 'http://mirror.example.org/doc/' || doc_id || '#doc-' || doc_id"
    f" as subj, '{h}' || doc_id || '#{col}' as pred,"
    f" cast({col} as varchar) as obj from documents"
    for h in ("http://mirror.example.org/doc/", "http://pages.example.org/doc/")
    for col in ("doc_id", "lang", "source", "n_chars"))


# ---------------------------------------------------------------------------
# corpus telemetry
# ---------------------------------------------------------------------------

def _corpus_length_quantiles(spark, sf_dir):
    """Per-language document-length quantiles (exact continuous
    interpolation — Spark `percentile`, not approx_percentile, mirrors
    DuckDB quantile_cont bit-for-bit). Ingestion telemetry for mixture
    monitoring; at corpus scale swap in approx_percentile and drop the
    oracle row, the aggregation shape is identical."""
    docs = _t(spark, sf_dir, "documents")
    pcts = [0.5, 0.9, 0.99]
    return (docs.groupBy("lang")
            .agg(*[F.round(F.expr(f"percentile(n_chars, {p})"), 4)
                   .alias(f"p{int(p * 100)}") for p in pcts]))


_CORPUS_LENGTH_QUANTILES_SQL = """
select lang,
       round(quantile_cont(n_chars, 0.5), 4) as p50,
       round(quantile_cont(n_chars, 0.9), 4) as p90,
       round(quantile_cont(n_chars, 0.99), 4) as p99
from documents group by lang
"""


# ---------------------------------------------------------------------------
# graph query tier: SPARQL-style BGP matching, property paths + inference
# (operators/bgp.py, operators/graph.py) — the consumption side of the KG.
# ---------------------------------------------------------------------------

_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_LABEL_PRED = "http://schema.org/name"

_BGP_STAR_PATTERNS = [
    ("?item", _RDF_TYPE, "http://schema.org/CreativeWork"),
    ("?item", _LABEL_PRED, "?name"),
    ("?item", "http://schema.org/inLanguage", "?lang"),
]


def _kg_bgp_star(spark, sf_dir):
    """SPARQL star BGP (type + two property patterns sharing ?item) over
    the microdata graph, compiled to self-joins (operators/bgp.bgp_match).
    The oracle SQL is emitted from the SAME join plan (bgp_sql) — one
    source of truth, two engines."""
    from .operators.bgp import bgp_match
    return bgp_match(_kg_microdata_triples(spark, sf_dir).persist(),
                     _BGP_STAR_PATTERNS)


_BGP_PATH_PATTERNS = [
    ("?doc", MENTIONS_PRED, "?ent"),
    ("?ent", _LABEL_PRED, "?name"),
]


def _kg_bgp_path(spark, sf_dir):
    """2-hop path BGP: ?doc –mentions→ ?ent –name→ ?name over the mention
    graph unioned with entity-label triples; the label pattern binds a
    vocabulary-sized set so it carries a broadcast hint."""
    from .operators.bgp import bgp_match
    from .sources.pages import DOC_PAGE_META
    from .web import link_entities_distributed, pages_to_triples
    docs = _t(spark, sf_dir, "documents")
    entities = (docs.select("source").distinct()
                .select(F.col("source").alias("surface"),
                        F.concat(F.lit(SOURCE_ENT_PREFIX),
                                 "source").alias("iri")))
    triples = pages_to_triples(_kg_pages(spark, sf_dir), minimal=True,
                               default_meta=DOC_PAGE_META)
    mentions = link_entities_distributed(triples, entities) \
        .select("subj", "pred", "obj")
    labels = entities.select(F.col("iri").alias("subj"),
                             F.lit(_LABEL_PRED).alias("pred"),
                             F.col("surface").alias("obj"))
    return bgp_match(mentions.unionByName(labels), _BGP_PATH_PATTERNS,
                     broadcast_patterns=[1])


_KG_BGP_PATH_GRAPH_SQL = f"""
{_KG_ENTITY_MENTIONS_SQL}
union all
select distinct '{SOURCE_ENT_PREFIX}' || source as subj,
       '{_LABEL_PRED}' as pred, source as obj
from documents
"""

# doc hierarchy for the closure and path entries: child → parent binary
# tree derived from doc ids (in-degree ≤ 2, out-degree 1).
_TREE_EDGES_SQL = (
    f"select {DOC_URL_SQL} as src, "
    "'http://pages.example.org/doc/' || (doc_id // 2) as dst "
    "from documents where doc_id > 0")


def _doc_tree_edges(spark, sf_dir):
    prefix = "http://pages.example.org/doc/"
    return (_t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") > 0)
            .select(F.concat(F.lit(prefix), F.col("doc_id")).alias("src"),
                    F.concat(F.lit(prefix),
                             F.expr("doc_id div 2")).alias("dst")))


def _graph_closure_ancestors(spark, sf_dir):
    """Transitive closure (all ancestor pairs) via semi-naive iteration;
    oracle = recursive CTE (operators/graph.closure_sql) — the rdfs
    subClassOf/subPropertyOf closure primitive. The doc tree is
    depth-dominated, so the BENCH headline runs the path-doubling tier
    (graph_closure_doubling, 2.3× faster at sf0.1 — log2(depth) rounds
    vs depth-many delta rounds, each paying a fixed checkpoint cost);
    this semi-naive entry stays registered as the breadth-dominated
    tier where closure×closure intermediates blow up."""
    from .operators.graph import transitive_closure
    return transitive_closure(_doc_tree_edges(spark, sf_dir))


def _kg_page_links(spark, sf_dir):
    """Stage 1c: hyperlink graph extraction — each doc page carries one
    relative parent link, so the extracted+resolved edge set must equal the
    doc tree the oracle predicts (web.pages_to_links, urljoin resolution)."""
    from .web import pages_to_links
    return pages_to_links(_kg_pages(spark, sf_dir)).distinct()


def _kg_anchor_texts(spark, sf_dir):
    """Stage 1c + naming signal: anchor-text aggregation per link target —
    how OTHER pages refer to an entity (web.pages_to_anchors). Each doc
    page's parent link carries the parent's name as anchor text, so the
    expected (dst, anchor, n_refs) set is the doc tree's child counts,
    SQL-computable from the documents table."""
    from .web import pages_to_anchors
    return (pages_to_anchors(_kg_pages(spark, sf_dir))
            .groupBy("dst", "anchor")
            .agg(F.count("*").cast("long").alias("n_refs")))


_KG_ANCHOR_TEXTS_SQL = """
select 'http://pages.example.org/doc/' || (doc_id // 2) as dst,
       'doc ' || (doc_id // 2) as anchor,
       count(*)::bigint as n_refs
from documents where doc_id > 0
group by 1, 2
"""


def _kg_anchor_labels(spark, sf_dir):
    """Stage 2d: majority anchor text per target promoted to rdfs:label
    triples (web.anchor_labels) — every parent doc gets labeled by how its
    children link to it; oracle = the distinct parent set in SQL."""
    from .web import anchor_labels, pages_to_anchors
    return anchor_labels(pages_to_anchors(_kg_pages(spark, sf_dir)))


_KG_ANCHOR_LABELS_SQL = """
select distinct 'http://pages.example.org/doc/' || (doc_id // 2) as subj,
       'http://www.w3.org/2000/01/rdf-schema#label' as pred,
       'doc ' || (doc_id // 2) as obj
from documents where doc_id > 0
"""


def _dedup_url_latest(spark, sf_dir):
    """Recrawl dedup: the pages table unioned with a simulated one-day-later
    re-crawl of every third page collapses to one row per url — the LATEST
    capture wins (operators/crawl.latest_snapshot, groupBy + max_by, one
    keyed shuffle with map-side combine). Oracle: the expected winning
    timestamp is computable per doc_id in plain SQL."""
    from .operators.crawl import latest_snapshot
    pages = _kg_pages(spark, sf_dir)
    did = F.regexp_extract("url", r"doc/(\d+)$", 1).cast("long")
    recrawl = (pages.where(did % 3 == 0)
               .withColumn("warc_ts",
                           F.col("warc_ts") + F.expr("INTERVAL 1 DAY")))
    kept = latest_snapshot(pages.unionByName(recrawl))
    return kept.select("url", F.unix_timestamp("warc_ts").alias("ts_epoch"),
                       "lang")


_DEDUP_URL_LATEST_SQL = f"""
select {DOC_URL_SQL} as url,
       epoch(timestamp '2024-01-01' + to_seconds(doc_id % 86400)
             + case when doc_id % 3 = 0 then interval 1 day
                    else interval 0 day end)::bigint as ts_epoch,
       lang
from documents
"""


# SPARQL algebra extensions over the microdata graph + a deliberately
# sparse wordCount predicate (only docs with n_chars > threshold carry it)
# so OPTIONAL produces real unbound (NULL) rows, not a disguised inner join.
_WORDCOUNT_PRED = "http://schema.org/wordCount"
_WC_THRESHOLD = 300

_KG_SPARSE_GRAPH_SQL = f"""
{_KG_MICRODATA_TRIPLES_SQL}
union all
select {DOC_URL_SQL} || '#item', '{_WORDCOUNT_PRED}',
       cast(n_chars as varchar) from documents where n_chars > {_WC_THRESHOLD}
"""

_BGP_OPTIONAL_REQUIRED = [
    ("?item", _RDF_TYPE, "http://schema.org/CreativeWork"),
    ("?item", _LABEL_PRED, "?name"),
]
_BGP_OPTIONAL_GROUPS = [[("?item", _WORDCOUNT_PRED, "?wc")]]

# FILTER strings are the shared source of truth: the identical expression
# executes in Spark (F.expr) and DuckDB (outer WHERE).
_BGP_FILTER_EXPRS = ["lang = 'en'", "length(name) > 5"]
_BGP_FILTER_PATTERNS = _BGP_STAR_PATTERNS

_BGP_UNION_BRANCHES = [
    [("?item", _LABEL_PRED, "?v")],
    [("?item", "http://schema.org/inLanguage", "?v"),
     ("?item", _WORDCOUNT_PRED, "?wc")],
]


def _kg_sparse_graph(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    wc = docs.filter(F.col("n_chars") > _WC_THRESHOLD).select(
        F.concat(F.lit("http://pages.example.org/doc/"), F.col("doc_id"),
                 F.lit("#item")).alias("subj"),
        F.lit(_WORDCOUNT_PRED).alias("pred"),
        F.col("n_chars").cast("string").alias("obj"))
    # persist: every BGP pattern leg scans this relation — without it each
    # leg re-runs the Arrow extraction kernel (materialized stores don't
    # have this problem; unmaterialized extraction DAGs do)
    return _kg_microdata_triples(spark, sf_dir).unionByName(wc).persist()


def _kg_bgp_optional(spark, sf_dir):
    """SPARQL OPTIONAL: type+name star with an OPTIONAL wordCount — docs at
    or below the length threshold have no wordCount triple, so the left
    join emits real NULL bindings (operators/bgp.bgp_match optionals=)."""
    from .operators.bgp import bgp_match
    return bgp_match(_kg_sparse_graph(spark, sf_dir),
                     _BGP_OPTIONAL_REQUIRED,
                     optionals=_BGP_OPTIONAL_GROUPS)


def _kg_bgp_filter(spark, sf_dir):
    """SPARQL FILTER: the star BGP constrained by expression strings that
    BOTH engines execute verbatim ('lang = en', length(name) > 5) — the
    filter lands post-join but Catalyst pushes it into the pattern scans
    (audited in test_plans)."""
    from .operators.bgp import bgp_match
    return bgp_match(_kg_microdata_triples(spark, sf_dir).persist(),
                     _BGP_FILTER_PATTERNS, filters=_BGP_FILTER_EXPRS)


def _kg_bgp_minus(spark, sf_dir):
    """SPARQL MINUS (negation-as-anti-join): CreativeWorks WITHOUT a
    wordCount triple — the complement of the OPTIONAL query's bound rows
    (operators/bgp.bgp_match minus=)."""
    from .operators.bgp import bgp_match
    return bgp_match(_kg_sparse_graph(spark, sf_dir),
                     _BGP_OPTIONAL_REQUIRED,
                     minus=_BGP_OPTIONAL_GROUPS)


def _kg_bgp_union(spark, sf_dir):
    """SPARQL UNION: name-or-(language+wordCount) branches with different
    variable sets — branch-missing vars NULL-pad (SPARQL unbound), bag
    semantics (operators/bgp.bgp_union_match)."""
    from .operators.bgp import bgp_union_match
    return bgp_union_match(_kg_sparse_graph(spark, sf_dir),
                           _BGP_UNION_BRANCHES)


# DESCRIBE (CBD): two-level blank-node stats graph — doc → _:stats →
# _:detail — so the bounded description genuinely iterates (depth 2),
# exactly the shape CSVW row/list bnodes produce.
_DESCRIBE_GRAPH_SQL = f"""
select {DOC_URL_SQL} as subj, 'http://example.org/voc#hasStats' as pred,
       '_:s' || doc_id as obj from documents
union all
select '_:s' || doc_id, 'http://example.org/voc#nChars',
       cast(n_chars as varchar) from documents
union all
select '_:s' || doc_id, 'http://example.org/voc#detail',
       '_:t' || doc_id from documents
union all
select '_:t' || doc_id, 'http://example.org/voc#source',
       source from documents
"""
_DESCRIBE_SEEDS_SQL = (f"select {DOC_URL_SQL} as node from documents "
                       "where lang = 'en'")


def _kg_describe_docs(spark, sf_dir):
    """SPARQL DESCRIBE as Concise Bounded Description
    (operators/graph.describe): English docs' triples plus their
    transitive blank-node subtrees (2 bnode hops); oracle = recursive
    bnode-reachability CTE + semijoin."""
    from .operators.graph import describe
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("http://pages.example.org/doc/"), F.col("doc_id"))
    V = "http://example.org/voc#"
    triples = (
        docs.select(url.alias("subj"), F.lit(V + "hasStats").alias("pred"),
                    F.concat(F.lit("_:s"), F.col("doc_id")).alias("obj"))
        .unionByName(docs.select(
            F.concat(F.lit("_:s"), F.col("doc_id")).alias("subj"),
            F.lit(V + "nChars").alias("pred"),
            F.col("n_chars").cast("string").alias("obj")))
        .unionByName(docs.select(
            F.concat(F.lit("_:s"), F.col("doc_id")).alias("subj"),
            F.lit(V + "detail").alias("pred"),
            F.concat(F.lit("_:t"), F.col("doc_id")).alias("obj")))
        .unionByName(docs.select(
            F.concat(F.lit("_:t"), F.col("doc_id")).alias("subj"),
            F.lit(V + "source").alias("pred"),
            F.col("source").alias("obj")))).persist()
    seeds = docs.filter(F.col("lang") == "en").select(url.alias("node"))
    return describe(triples, seeds)


# CONSTRUCT: re-map the microdata vocabulary to a target ontology — each
# WHERE binding instantiates the template; the OPTIONAL wordCount leg means
# short docs drop the ex:length pattern (SPARQL §16.2 unbound-drop).
_CONSTRUCT_TEMPLATE = [
    ("?item", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
     "http://example.org/voc#Document"),
    ("?item", "http://example.org/voc#label", "?name"),
    ("?item", "http://example.org/voc#length", "?wc"),
]


def _kg_bgp_agg(spark, sf_dir):
    """SPARQL SELECT + GROUP BY over BGP bindings (aggregation pushes into
    the binding relation — map-side partial counts, vocabulary-sized
    output): docs per language with the lexical-min name."""
    from .operators.bgp import bgp_match
    b = bgp_match(_kg_microdata_triples(spark, sf_dir).persist(),
                  _BGP_STAR_PATTERNS)
    return b.groupBy("lang").agg(F.count("*").alias("n_docs"),
                                 F.min("name").alias("first_name"))


def _kg_construct_derived(spark, sf_dir):
    """SPARQL CONSTRUCT (operators/bgp.construct): vocabulary re-mapping
    rule over the sparse graph; unbound OPTIONAL vars drop their template
    pattern, output is a deduplicated triple set."""
    from .operators.bgp import construct
    return construct(_kg_sparse_graph(spark, sf_dir),
                     _BGP_OPTIONAL_REQUIRED,
                     _CONSTRUCT_TEMPLATE,
                     optionals=_BGP_OPTIONAL_GROUPS)


# property-path showcase: sibling-or-self (down one, up one) OR any
# ancestor — exercises sequence, inverse, alternation, and closure in a
# single expression compiled once for both engines.
_PATH_EXPR = "parent/^parent | parent+"
_TREE_TRIPLES_SQL = (f"select src as subj, 'parent' as pred, dst as obj "
                     f"from ({_TREE_EDGES_SQL})")


def _graph_closure_doubling(spark, sf_dir):
    """Deep-graph closure scale tier: path doubling (2^k path lengths per
    round, log2(depth) rounds — operators/graph.transitive_closure_doubling)
    over the same doc hierarchy; same oracle as the semi-naive tier."""
    from .operators.graph import transitive_closure_doubling
    return transitive_closure_doubling(_doc_tree_edges(spark, sf_dir))


def _graph_path_expr(spark, sf_dir):
    """SPARQL 1.1 property path over the doc hierarchy
    (operators/paths.path_match): '{path}' — the same parsed AST emits the
    DuckDB oracle SQL (paths.path_sql), recursive CTE for the closure
    leg.""".format(path=_PATH_EXPR)
    from .operators.paths import path_match
    edges = _doc_tree_edges(spark, sf_dir)
    triples = edges.select(F.col("src").alias("subj"),
                           F.lit("parent").alias("pred"),
                           F.col("dst").alias("obj"))
    return path_match(triples, _PATH_EXPR)


# path-in-BGP: tree 'parent' triples + per-doc language triples on the
# same subjects, so a path predicate and a plain pattern share variables.
_TREE_LANG_GRAPH_SQL = f"""
{_TREE_TRIPLES_SQL}
union all
select {DOC_URL_SQL} as subj, 'hasLang' as pred, lang as obj from documents
"""


def _tree_lang_graph(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    prefix = "http://pages.example.org/doc/"
    edges = _doc_tree_edges(spark, sf_dir)
    tree = edges.select(F.col("src").alias("subj"),
                        F.lit("parent").alias("pred"),
                        F.col("dst").alias("obj"))
    langs = docs.select(
        F.concat(F.lit(prefix), F.col("doc_id")).alias("subj"),
        F.lit("hasLang").alias("pred"), F.col("lang").alias("obj"))
    return tree.unionByName(langs).persist()


def _path_bgp_patterns():
    from .operators.paths import parse_path
    return [("?d", parse_path("parent+"), "?anc"),
            ("?anc", "hasLang", "?l")]


def _kg_bgp_path_expr(spark, sf_dir):
    """Property path INSIDE a BGP (SPARQL path-in-predicate-position):
    ancestors via 'parent+' joined with each ancestor's language — the
    path AST is the pattern term, so IRIs containing '/' are never
    misparsed (operators/bgp._is_path)."""
    from .operators.bgp import bgp_match
    return bgp_match(_tree_lang_graph(spark, sf_dir), _path_bgp_patterns())


# SPARQL SELECT aggregation with HAVING (operators/bgp.bgp_agg): group
# the star BGP's bindings by language, aggregate, and post-filter on the
# aggregate aliases — the group_by/aggs/having specs are the shared
# source of truth for both engines.
_BGP_AGG_GROUP = ["lang"]
_BGP_AGG_AGGS = [("n_docs", "count(*)"),
                 ("max_name_len", "max(length(name))")]
_BGP_AGG_HAVING = ["n_docs >= 80"]


def _kg_bgp_having(spark, sf_dir):
    """GROUP BY + HAVING over BGP bindings: one map-side-combined shuffle
    on the group keys; HAVING sees aggregate aliases (post-aggregation
    filter, SPARQL semantics)."""
    from .operators.bgp import bgp_agg
    return bgp_agg(_kg_microdata_triples(spark, sf_dir).persist(),
                   _BGP_STAR_PATTERNS, _BGP_AGG_GROUP, _BGP_AGG_AGGS,
                   having=_BGP_AGG_HAVING)


# SPARQL GROUP_CONCAT / COUNT(DISTINCT) / SAMPLE: the aggregate forms
# beyond plain count/sum — GROUP_CONCAT is the one whose SQL spelling
# diverges per engine (bgp._norm_aggs pins order by sorting in both);
# SAMPLE is min() (deterministic choice where SPARQL allows any element).
_BGP_GC_AGGS = [("n_names", "count(distinct name)"),
                ("sample_name", "min(name)"),
                ("names_cat", "group_concat", "name", ";")]


def _kg_bgp_group_concat(spark, sf_dir):
    """GROUP_CONCAT + COUNT(DISTINCT) + SAMPLE per language over the
    microdata BGP (operators/bgp.bgp_agg structured aggregates)."""
    from .operators.bgp import bgp_agg
    return bgp_agg(_kg_microdata_triples(spark, sf_dir).persist(),
                   _BGP_STAR_PATTERNS, _BGP_AGG_GROUP, _BGP_GC_AGGS)


# SPARQL 1.1 §12 subquery: per-group statistics decorating row-level
# bindings — every doc joined to its language's doc count.
_BGP_SUB_PATTERNS = [("?d", "http://schema.org/inLanguage", "?lang")]
_BGP_SUB_AGGS = [("n_docs", "count(*)")]


def _kg_bgp_subselect(spark, sf_dir):
    """Subquery (operators/bgp.bgp_subselect): inner SELECT aggregates
    docs per language; its one-row-per-group result broadcast-joins the
    outer star bindings on ?lang."""
    from .operators.bgp import bgp_subselect
    return bgp_subselect(_kg_microdata_triples(spark, sf_dir).persist(),
                         _BGP_STAR_PATTERNS, _BGP_SUB_PATTERNS,
                         _BGP_AGG_GROUP, _BGP_SUB_AGGS)


# SPARQL text front-end (rdf_tabular_spark/sparql.py): the SAME query
# string parses once and compiles to both engines — the oracle checks the
# full text→algebra→plan chain, not a hand-built mirror.
_SPARQL_SELECT_QUERY = """
PREFIX schema: <http://schema.org/>
SELECT ?item ?name ?lang WHERE {
  ?item a schema:CreativeWork ; schema:name ?name .
  OPTIONAL { ?item schema:inLanguage ?lang }
  FILTER(STRLEN(?name) > 5)
}
"""

_SPARQL_AGG_QUERY = """
PREFIX schema: <http://schema.org/>
SELECT ?lang (COUNT(*) AS ?n_docs)
       (GROUP_CONCAT(?name; SEPARATOR=";") AS ?names)
WHERE { ?item schema:inLanguage ?lang ; schema:name ?name }
GROUP BY ?lang
HAVING(?n_docs >= 2)
"""


_SPARQL_FUNCS_QUERY = """
PREFIX schema: <http://schema.org/>
SELECT ?item ?tail ?digest ?nlen ?numname ?isiri ?namelike WHERE {
  ?item schema:name ?name ; schema:inLanguage ?lang .
  BIND(STRAFTER(?name, "doc ") AS ?tail)
  BIND(MD5(?lang) AS ?digest)
  BIND(STRLEN(?name) AS ?nlen)
  BIND(ISNUMERIC(?tail) AS ?numname)
  BIND(ISIRI(?item) AS ?isiri)
  BIND(REGEX(?name, "^DOC [0-9]+", "i") AS ?namelike)
  FILTER(CONTAINS(?name, "doc") && !ISBLANK(?item) && ISLITERAL(?name)
         && REGEX(?lang, "^[a-z]{2}"))
}
"""


def _kg_sparql_funcs(spark, sf_dir):
    """r4 SPARQL builtins through the text front-end: STRAFTER/MD5/STRLEN/
    ISNUMERIC/ISIRI in BIND projections plus CONTAINS/ISBLANK/ISLITERAL in
    a FILTER — every function compiles to the one shared Spark∩DuckDB SQL
    string, so the oracle is the same query through the SQL compiler."""
    from .sparql import query_df
    return query_df(_kg_microdata_triples(spark, sf_dir).persist(),
                    _SPARQL_FUNCS_QUERY)


def _kg_sparql_select(spark, sf_dir):
    """SPARQL string → bgp_match via the text front-end (prefixes, 'a',
    ';' blocks, OPTIONAL, FILTER with STRLEN translation)."""
    from .sparql import query_df
    return query_df(_kg_microdata_triples(spark, sf_dir).persist(),
                    _SPARQL_SELECT_QUERY)


def _kg_sparql_agg(spark, sf_dir):
    """SPARQL aggregate string → bgp_agg via the text front-end
    (GROUP_CONCAT with separator, COUNT(*), HAVING over aliases)."""
    from .sparql import query_df
    return query_df(_kg_microdata_triples(spark, sf_dir).persist(),
                    _SPARQL_AGG_QUERY)


# ---- rendered-term graph tier (rdfio/terms.py): the documents table as
# a graph whose objects keep full RDF term identity — name literals are
# language-tagged with the document's language, wordCount is
# xsd:integer-typed, rdf:type points at an IRI. This is the tier that
# unlocks LANG/DATATYPE/LANGMATCHES/STRLANG/STRDT/exact-sameTerm (the
# reference keeps RDF::Literal language/datatype end-to-end,
# reader.rb to_rdf; the lexical 3-col graph cannot answer these).

_XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"

# term-column relation (TRIPLE_SCHEMA shape) — the oracle builds the
# identical relation in SQL and both sides render through the ONE
# RENDER_OBJ_SQL projection (rdfio/terms.py, single source of truth)
_KG_TERM_COLS_SQL = f"""
select {DOC_URL_SQL} || '#item' as subj,
       '{_LABEL_PRED}' as pred, 'doc ' || doc_id as obj,
       false as obj_is_iri, cast(null as varchar) as obj_datatype,
       lang as obj_lang from documents
union all
select {DOC_URL_SQL} || '#item', '{_WORDCOUNT_PRED}',
       cast(n_chars as varchar), false, '{_XSD_INT}',
       cast(null as varchar) from documents
union all
select {DOC_URL_SQL} || '#item',
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
       'http://schema.org/CreativeWork', true, cast(null as varchar),
       cast(null as varchar) from documents
"""


def _kg_term_graph(spark, sf_dir):
    from .rdfio.terms import render_object_terms
    docs = _t(spark, sf_dir, "documents")
    subj = F.concat(F.lit("http://pages.example.org/doc/"),
                    F.col("doc_id"), F.lit("#item")).alias("subj")
    null_s = F.lit(None).cast("string")
    name = docs.select(
        subj, F.lit(_LABEL_PRED).alias("pred"),
        F.concat(F.lit("doc "), F.col("doc_id")).alias("obj"),
        F.lit(False).alias("obj_is_iri"),
        null_s.alias("obj_datatype"), F.col("lang").alias("obj_lang"))
    wc = docs.select(
        subj, F.lit(_WORDCOUNT_PRED).alias("pred"),
        F.col("n_chars").cast("string").alias("obj"),
        F.lit(False).alias("obj_is_iri"),
        F.lit(_XSD_INT).alias("obj_datatype"), null_s.alias("obj_lang"))
    typ = docs.select(
        subj, F.lit(_RDF_TYPE).alias("pred"),
        F.lit("http://schema.org/CreativeWork").alias("obj"),
        F.lit(True).alias("obj_is_iri"),
        null_s.alias("obj_datatype"), null_s.alias("obj_lang"))
    return render_object_terms(
        name.unionByName(wc).unionByName(typ)).persist()


_SPARQL_TERM_LANG_QUERY = """
SELECT ?item (STR(?n) AS ?name) (LANG(?n) AS ?lg)
WHERE { ?item <http://schema.org/name> ?n .
        FILTER LANGMATCHES(LANG(?n), "en") }
"""

_SPARQL_TERM_DT_QUERY = """
SELECT ?item (DATATYPE(?v) AS ?dt) (STR(?v) AS ?lex)
WHERE { ?item <http://schema.org/wordCount> ?v . FILTER ISNUMERIC(?v) }
"""

# STRDT(STR(?v), xsd:integer) rebuilds the typed term; sameTerm keeps
# exactly the objects that already WERE xsd:integer literals — the
# name/type triples drop even when their lexical forms collide
_SPARQL_TERM_SAMETERM_QUERY = """
SELECT ?item ?v
WHERE { ?item ?p ?v . FILTER sameTerm(?v,
        STRDT(STR(?v), <http://www.w3.org/2001/XMLSchema#integer>)) }
"""


def _parse_term(q):
    from .sparql import parse_sparql
    return parse_sparql(q, term_graph=True)


def _term_triples_sql() -> str:
    from .rdfio.terms import render_object_terms_sql
    return render_object_terms_sql(_KG_TERM_COLS_SQL)


def _kg_term_lang(spark, sf_dir):
    """SPARQL LANG/LANGMATCHES/STR over a rendered-term graph — exact
    language-tag introspection the lexical 3-col graph cannot express
    (sparql.parse_sparql term_graph=True, rdfio/terms.py)."""
    from .sparql import query_df
    return query_df(_kg_term_graph(spark, sf_dir),
                    _parse_term(_SPARQL_TERM_LANG_QUERY))


def _kg_term_datatype(spark, sf_dir):
    """SPARQL DATATYPE/ISNUMERIC/STR over typed literals."""
    from .sparql import query_df
    return query_df(_kg_term_graph(spark, sf_dir),
                    _parse_term(_SPARQL_TERM_DT_QUERY))


def _kg_term_sameterm(spark, sf_dir):
    """SPARQL exact sameTerm + STRDT term construction."""
    from .sparql import query_df
    return query_df(_kg_term_graph(spark, sf_dir),
                    _parse_term(_SPARQL_TERM_SAMETERM_QUERY))


# SPARQL GRAPH (quads): 4-term patterns over (graph, subj, pred, obj),
# graph = the source document (table_url — per-triple provenance the
# kernel already carries). Both patterns share ?g AND ?item, so the join
# requires the type and name to come from the SAME document.
_BGP_GRAPH_PATTERNS = [
    ("?g", "?item", _RDF_TYPE, "http://schema.org/CreativeWork"),
    ("?g", "?item", _LABEL_PRED, "?name"),
]

_KG_MICRODATA_QUADS_SQL = f"""
select {DOC_URL_SQL} as graph, {DOC_URL_SQL} || '#item' as subj,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' as pred,
       'http://schema.org/CreativeWork' as obj from documents
union all
select {DOC_URL_SQL}, {DOC_URL_SQL} || '#item', 'http://schema.org/name',
       'doc ' || doc_id from documents
union all
select {DOC_URL_SQL}, {DOC_URL_SQL} || '#item',
       'http://schema.org/inLanguage', lang from documents
"""


def _kg_bgp_graph(spark, sf_dir):
    """SPARQL GRAPH: quad patterns (operators/bgp 4-term support) over
    microdata quads whose graph is the extracting page — binds ?g and
    joins within-document."""
    from .operators.bgp import bgp_match
    from .web import microdata_to_triples
    quads = (microdata_to_triples(_kg_pages(spark, sf_dir))
             .select(F.col("table_url").alias("graph"),
                     "subj", "pred", "obj").persist())
    return bgp_match(quads, _BGP_GRAPH_PATTERNS)


# SPARQL VALUES / BIND / EXISTS over the same graphs. The inline table,
# bind expressions, and filter strings are the shared source of truth —
# bgp_match consumes them as DataFrame ops, bgp_sql renders the identical
# strings for DuckDB.
_BGP_VALUES = (["lang", "lang_label"],
               [("en", "English"), ("fr", "French")])
_BGP_BINDS = [("name_len", "length(name)"),
              ("name_band",
               "case when name_len > 12 then 'long' else 'short' end")]
_BGP_BIND_FILTERS = ["name_len > 3"]


def _kg_bgp_values(spark, sf_dir):
    """SPARQL VALUES (operators/bgp.bgp_match values=): the star BGP
    joined with a broadcast inline table that both restricts ?lang to two
    languages and extends each row with a display label."""
    from .operators.bgp import bgp_match
    return bgp_match(_kg_microdata_triples(spark, sf_dir).persist(),
                     _BGP_STAR_PATTERNS, values=_BGP_VALUES)


def _kg_bgp_bind(spark, sf_dir):
    """SPARQL BIND (operators/bgp.bgp_match binds=): two computed
    variables — the second referencing the first, the FILTER referencing
    both engines' identical expression strings."""
    from .operators.bgp import bgp_match
    return bgp_match(_kg_microdata_triples(spark, sf_dir).persist(),
                     _BGP_STAR_PATTERNS, binds=_BGP_BINDS,
                     filters=_BGP_BIND_FILTERS)


def _kg_bgp_exists(spark, sf_dir):
    """SPARQL FILTER EXISTS (operators/bgp.bgp_match exists=): items
    that DO carry the sparse wordCount predicate — one LeftSemi join,
    the dual of kg_bgp_minus over the identical groups."""
    from .operators.bgp import bgp_match
    return bgp_match(_kg_sparse_graph(spark, sf_dir),
                     _BGP_OPTIONAL_REQUIRED,
                     exists=_BGP_OPTIONAL_GROUPS)


# RDFS inference (operators/inference.py): the microdata graph plus a
# small CSVW-ish vocabulary — name is a subproperty of rdfs:label,
# CreativeWork a subclass of Thing, inLanguage domain'd — and the ρdf
# rules materialize the entailed triples. The schema triples are the
# shared source of truth (one python list renders both engines' input).
_RDFS_SCHEMA_TRIPLES = [
    ("http://schema.org/name", "http://www.w3.org/2000/01/rdf-schema#subPropertyOf",
     "http://www.w3.org/2000/01/rdf-schema#label"),
    ("http://schema.org/CreativeWork", "http://www.w3.org/2000/01/rdf-schema#subClassOf",
     "http://schema.org/Thing"),
    ("http://schema.org/Thing", "http://www.w3.org/2000/01/rdf-schema#subClassOf",
     "http://www.w3.org/2000/01/rdf-schema#Resource"),
    ("http://schema.org/inLanguage", "http://www.w3.org/2000/01/rdf-schema#domain",
     "http://schema.org/CreativeWork"),
    ("http://schema.org/inLanguage", "http://www.w3.org/2000/01/rdf-schema#range",
     "http://schema.org/Language"),
]

_RDFS_GRAPH_SQL = (
    _KG_MICRODATA_TRIPLES_SQL
    + " union all select * from (values "
    + ", ".join("('%s', '%s', '%s')" % t for t in _RDFS_SCHEMA_TRIPLES)
    + ") rdfs_schema(subj, pred, obj)")


def _kg_rdfs_derived(spark, sf_dir):
    """RDFS ρdf materialization (operators/inference.rdfs_materialize):
    schema collected driver-side (vocabulary-sized), instance entailment
    as broadcast joins only — derived triples, deduplicated, minus the
    asserted input. Oracle: inference.rdfs_sql recursive CTEs."""
    from .operators.inference import rdfs_materialize
    schema_df = spark.createDataFrame(
        _RDFS_SCHEMA_TRIPLES, ["subj", "pred", "obj"])
    g = (_kg_microdata_triples(spark, sf_dir).select("subj", "pred", "obj")
         .unionByName(schema_df).persist())
    return rdfs_materialize(g)


# zero-or-more / zero-or-one showcases (SPARQL 1.1 ZeroOrMorePath /
# ZeroOrOnePath): 'parent*/hasLang' = the language of self-OR-any-ancestor
# (the zero-length leg pairs every graph term with itself, so docs with no
# parent still reach their own hasLang edge); 'parent?/hasLang' = self or
# one hop up only.
_PATH_STAR_EXPR = "parent*/hasLang"
_PATH_OPT_EXPR = "parent?/hasLang"


def _graph_path_star(spark, sf_dir):
    """Zero-or-more property path (operators/paths Star): identity over
    all graph terms ∪ 'parent+' closure, then one hop over hasLang —
    same AST emits the recursive-CTE DuckDB oracle."""
    from .operators.paths import path_match
    return path_match(_tree_lang_graph(spark, sf_dir), _PATH_STAR_EXPR)


def _graph_path_opt(spark, sf_dir):
    """Zero-or-one property path (operators/paths Opt): duplicate-free
    identity ∪ single 'parent' hop, then hasLang."""
    from .operators.paths import path_match
    return path_match(_tree_lang_graph(spark, sf_dir), _PATH_OPT_EXPR)


# owl:sameAs tier (operators/owl.py): every document item gets a
# stable-ID alias, and every third doc an additional mirror alias — the
# chains a–b and b–c assert no a–c edge, so canonicalization exercises
# transitivity through the connected-components mapping (never a
# materialized quadratic closure). Canon = lexical min of the class
# ('http://id…' < 'http://m…' < 'http://pages…').
_OWL_ITEM_IRI_SQL = DOC_URL_SQL + " || '#item'"
_OWL_ID_IRI_SQL = "'http://id.example.org/doc/' || doc_id"
_OWL_MIRROR_IRI_SQL = "'http://m.example.org/doc/' || doc_id"
_OWL_SAMEAS_GRAPH_SQL = f"""
{_KG_MICRODATA_TRIPLES_SQL}
union all
select {_OWL_ITEM_IRI_SQL} as subj,
       'http://www.w3.org/2002/07/owl#sameAs' as pred,
       {_OWL_ID_IRI_SQL} as obj from documents
union all
select {_OWL_ID_IRI_SQL} as subj,
       'http://www.w3.org/2002/07/owl#sameAs' as pred,
       {_OWL_MIRROR_IRI_SQL} as obj from documents where doc_id % 3 = 0
"""


def _owl_sameas_graph(spark, sf_dir):
    from .operators.owl import OWL_SAMEAS
    docs = _t(spark, sf_dir, "documents")
    prefix = "http://pages.example.org/doc/"
    item = F.concat(F.lit(prefix), F.col("doc_id"), F.lit("#item"))
    idi = F.concat(F.lit("http://id.example.org/doc/"), F.col("doc_id"))
    mir = F.concat(F.lit("http://m.example.org/doc/"), F.col("doc_id"))
    links1 = docs.select(item.alias("subj"),
                         F.lit(OWL_SAMEAS).alias("pred"), idi.alias("obj"))
    links2 = (docs.filter(F.col("doc_id") % 3 == 0)
              .select(idi.alias("subj"), F.lit(OWL_SAMEAS).alias("pred"),
                      mir.alias("obj")))
    return (_kg_microdata_triples(spark, sf_dir)
            .unionByName(links1).unionByName(links2).persist())


def _kg_sameas_mapping(spark, sf_dir):
    """owl:sameAs equivalence classes as a (term, canon) mapping —
    connected components over the symmetric edge set (operators/owl
    .sameas_mapping), the WebPIE canonical-representative design; oracle
    = recursive-CTE reachability + min(reachable)."""
    from .operators.owl import sameas_mapping
    return sameas_mapping(_owl_sameas_graph(spark, sf_dir))


def _kg_sameas_canonical(spark, sf_dir):
    """Graph canonicalized under owl:sameAs: subj/obj rewritten to class
    representatives via two broadcast joins, sameAs statements absorbed,
    duplicates collapsed (operators/owl.sameas_rewrite)."""
    from .operators.owl import sameas_rewrite
    return sameas_rewrite(_owl_sameas_graph(spark, sf_dir))


# pD* property-rule tier: the doc hierarchy plus a small property schema —
# 'parent' is transitive with inverse 'child', odd docs assert a one-way
# 'related' edge whose SymmetricProperty declaration derives the reverse.
_OWL_RULES_SCHEMA_TRIPLES = [
    ("parent", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
     "http://www.w3.org/2002/07/owl#TransitiveProperty"),
    ("parent", "http://www.w3.org/2002/07/owl#inverseOf", "child"),
    ("related", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
     "http://www.w3.org/2002/07/owl#SymmetricProperty"),
]

_OWL_RULES_GRAPH_SQL = (
    _TREE_TRIPLES_SQL
    + f" union all select {DOC_URL_SQL} as subj, 'related' as pred, "
    "'http://pages.example.org/doc/' || (doc_id - 1) as obj "
    "from documents where doc_id % 2 = 1"
    + " union all select * from (values "
    + ", ".join("('%s', '%s', '%s')" % t for t in _OWL_RULES_SCHEMA_TRIPLES)
    + ") owl_schema(subj, pred, obj)")


def _owl_rules_graph(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    prefix = "http://pages.example.org/doc/"
    edges = _doc_tree_edges(spark, sf_dir)
    tree = edges.select(F.col("src").alias("subj"),
                        F.lit("parent").alias("pred"),
                        F.col("dst").alias("obj"))
    related = (docs.filter(F.col("doc_id") % 2 == 1)
               .select(F.concat(F.lit(prefix), F.col("doc_id")).alias("subj"),
                       F.lit("related").alias("pred"),
                       F.concat(F.lit(prefix),
                                F.col("doc_id") - 1).alias("obj")))
    schema_df = spark.createDataFrame(_OWL_RULES_SCHEMA_TRIPLES,
                                      ["subj", "pred", "obj"])
    return tree.unionByName(related).unionByName(schema_df).persist()


def _kg_owl_derived(spark, sf_dir):
    """pD* one-pass property rules (operators/owl.owl_horst_materialize):
    inverseOf and SymmetricProperty as broadcast joins, TransitiveProperty
    as a per-predicate semi-naive closure — derived triples minus the
    asserted input; oracle = owl.owl_horst_sql (recursive CTE keyed by
    predicate over the same rule-extended edge set)."""
    from .operators.owl import owl_horst_materialize
    return owl_horst_materialize(_owl_rules_graph(spark, sf_dir))


def _graph_sql():
    from .operators.bgp import (bgp_agg_sql, bgp_sql, bgp_subselect_sql,
                                bgp_union_sql, construct_sql)
    from .operators.graph import closure_sql, describe_sql
    from .operators.inference import rdfs_sql
    from .operators.owl import (owl_horst_sql, sameas_mapping_sql,
                                sameas_rewrite_sql)
    from .operators.paths import path_sql
    from .sparql import query_sql as sparql_query_sql
    return {
        "kg_sameas_mapping": sameas_mapping_sql(_OWL_SAMEAS_GRAPH_SQL),
        "kg_sameas_canonical": sameas_rewrite_sql(_OWL_SAMEAS_GRAPH_SQL),
        "kg_owl_derived": owl_horst_sql(_OWL_RULES_GRAPH_SQL),
        "kg_bgp_group_concat": bgp_agg_sql(_KG_MICRODATA_TRIPLES_SQL,
                                           _BGP_STAR_PATTERNS,
                                           _BGP_AGG_GROUP, _BGP_GC_AGGS),
        "kg_bgp_subselect": bgp_subselect_sql(_KG_MICRODATA_TRIPLES_SQL,
                                              _BGP_STAR_PATTERNS,
                                              _BGP_SUB_PATTERNS,
                                              _BGP_AGG_GROUP,
                                              _BGP_SUB_AGGS),
        "kg_sparql_select": sparql_query_sql(_KG_MICRODATA_TRIPLES_SQL,
                                             _SPARQL_SELECT_QUERY),
        "kg_sparql_funcs": sparql_query_sql(_KG_MICRODATA_TRIPLES_SQL,
                                            _SPARQL_FUNCS_QUERY),
        "kg_sparql_agg": sparql_query_sql(_KG_MICRODATA_TRIPLES_SQL,
                                          _SPARQL_AGG_QUERY),
        "kg_term_lang": sparql_query_sql(
            _term_triples_sql(), _parse_term(_SPARQL_TERM_LANG_QUERY)),
        "kg_term_datatype": sparql_query_sql(
            _term_triples_sql(), _parse_term(_SPARQL_TERM_DT_QUERY)),
        "kg_term_sameterm": sparql_query_sql(
            _term_triples_sql(), _parse_term(_SPARQL_TERM_SAMETERM_QUERY)),
        "kg_bgp_star": bgp_sql(_KG_MICRODATA_TRIPLES_SQL,
                               _BGP_STAR_PATTERNS),
        "kg_bgp_path": bgp_sql(_KG_BGP_PATH_GRAPH_SQL, _BGP_PATH_PATTERNS),
        "kg_bgp_optional": bgp_sql(_KG_SPARSE_GRAPH_SQL,
                                   _BGP_OPTIONAL_REQUIRED,
                                   optionals=_BGP_OPTIONAL_GROUPS),
        "kg_bgp_filter": bgp_sql(_KG_MICRODATA_TRIPLES_SQL,
                                 _BGP_FILTER_PATTERNS,
                                 filters=_BGP_FILTER_EXPRS),
        "kg_bgp_union": bgp_union_sql(_KG_SPARSE_GRAPH_SQL,
                                      _BGP_UNION_BRANCHES),
        "kg_bgp_minus": bgp_sql(_KG_SPARSE_GRAPH_SQL,
                                _BGP_OPTIONAL_REQUIRED,
                                minus=_BGP_OPTIONAL_GROUPS),
        "kg_bgp_graph": bgp_sql(_KG_MICRODATA_QUADS_SQL,
                                _BGP_GRAPH_PATTERNS),
        "kg_bgp_having": bgp_agg_sql(_KG_MICRODATA_TRIPLES_SQL,
                                     _BGP_STAR_PATTERNS, _BGP_AGG_GROUP,
                                     _BGP_AGG_AGGS,
                                     having=_BGP_AGG_HAVING),
        "kg_bgp_values": bgp_sql(_KG_MICRODATA_TRIPLES_SQL,
                                 _BGP_STAR_PATTERNS, values=_BGP_VALUES),
        "kg_bgp_bind": bgp_sql(_KG_MICRODATA_TRIPLES_SQL,
                               _BGP_STAR_PATTERNS, binds=_BGP_BINDS,
                               filters=_BGP_BIND_FILTERS),
        "kg_bgp_exists": bgp_sql(_KG_SPARSE_GRAPH_SQL,
                                 _BGP_OPTIONAL_REQUIRED,
                                 exists=_BGP_OPTIONAL_GROUPS),
        "graph_closure_ancestors": closure_sql(_TREE_EDGES_SQL),
        "graph_closure_doubling": closure_sql(_TREE_EDGES_SQL),
        "kg_bgp_path_expr": bgp_sql(_TREE_LANG_GRAPH_SQL,
                                    _path_bgp_patterns()),
        "graph_path_expr": path_sql(_TREE_TRIPLES_SQL, _PATH_EXPR),
        "graph_path_star": path_sql(_TREE_LANG_GRAPH_SQL, _PATH_STAR_EXPR),
        "graph_path_opt": path_sql(_TREE_LANG_GRAPH_SQL, _PATH_OPT_EXPR),
        "kg_construct_derived": construct_sql(
            _KG_SPARSE_GRAPH_SQL, _BGP_OPTIONAL_REQUIRED,
            _CONSTRUCT_TEMPLATE, optionals=_BGP_OPTIONAL_GROUPS),
        "kg_rdfs_derived": rdfs_sql(_RDFS_GRAPH_SQL),
        "kg_describe_docs": describe_sql(_DESCRIBE_GRAPH_SQL,
                                         _DESCRIBE_SEEDS_SQL),
        "kg_bgp_agg": (
            "select lang, count(*) as n_docs, min(name) as first_name "
            f"from ({bgp_sql(_KG_MICRODATA_TRIPLES_SQL, _BGP_STAR_PATTERNS)})"
            " group by lang"),
    }


# --- domain-blocklist stage --------------------------------------------------

_BLOCKED_DOMAINS = ("src1.example.org", "src3.example.org", "src7.example.org")


def _curate_blocklist(spark, sf_dir):
    """UT1-style domain-blocklist filtering (operators/urls
    .filter_blocked_domains): docs get deterministic pseudo-hosts (every
    third doc a www. subdomain, so the suffix-chain expansion is really
    exercised), three sources are blocked, kept rows pass through. The
    suffix explode + broadcast equi-join + anti-join shape is the one that
    scales — subdomain containment as exact equality, never a LIKE join."""
    from .operators.urls import filter_blocked_domains
    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id", "source",
        F.concat(F.lit("http://"),
                 F.when(F.col("doc_id") % 3 == 0, F.lit("www."))
                 .otherwise(F.lit("")),
                 F.col("source"), F.lit(".example.org/doc/"),
                 F.col("doc_id")).alias("url"))
    blocklist = spark.createDataFrame([(d,) for d in _BLOCKED_DOMAINS],
                                      "domain string")
    return filter_blocked_domains(pages, blocklist, key="doc_id")


_CURATE_BLOCKLIST_SQL = f"""
with pages as (
  select doc_id, source,
         'http://' || (case when doc_id % 3 = 0 then 'www.' else '' end)
         || source || '.example.org/doc/' || doc_id as url,
         (case when doc_id % 3 = 0 then 'www.' else '' end)
         || source || '.example.org' as host
  from documents),
b as (select unnest({list(_BLOCKED_DOMAINS)!r}) as domain)
select doc_id, source, url from pages p
where not exists (
  select 1 from b
  where p.host = b.domain or p.host like '%.' || b.domain)
"""


def _webtables_type_profile(spark, sf_dir):
    """WebTables-style distributed datatype intuition over extracted HTML
    table columns (operators/webtables): every cell votes for the lexical
    types it satisfies, one map-side-combined groupBy aggregates the votes
    per column, and the most specific type covering ALL non-blank cells
    wins.  Generalizes the reference's metadata.rb type intuition (which
    only classifies metadata JSON keys) to data-driven column typing —
    the fixture's 4 columns profile as integer/string/string/integer.
    The oracle recomputes the votes relationally with the same anchored
    regexes (Java regex == RE2 on these patterns)."""
    from .operators.webtables import explode_cells, intuit_column_types
    from .sources.html_extract import pages_to_virtual_rows
    cells = explode_cells(pages_to_virtual_rows(_kg_pages(spark, sf_dir)))
    return (intuit_column_types(cells)
            .withColumn("col_idx", F.col("col_idx").cast("int"))
            .orderBy("col_idx"))


# the same vote → lattice pick, relationally: one cell row per
# (document, column), votes as filtered counts, most-specific covering
# type by CASE precedence.  Blank cells are typeless (vote for nothing).
_WEBTABLES_CELLS_SQL = f"""
cells as (
  select {DOC_URL_SQL} as url, cast(0 as integer) as col_idx,
         cast(doc_id as varchar) as cell from documents
  union all
  select {DOC_URL_SQL}, cast(1 as integer), lang from documents
  union all
  select {DOC_URL_SQL}, cast(2 as integer), source from documents
  union all
  select {DOC_URL_SQL}, cast(3 as integer),
         cast(n_chars as varchar) from documents
),
votes as (
  select col_idx,
         cast(count(*) as bigint) as n_cells,
         cast(sum(case when cell is null or trim(cell) = ''
                       then 1 else 0 end) as bigint) as n_blank,
         cast(sum(case when lower(trim(cell)) in ('true', 'false')
                       then 1 else 0 end) as bigint) as n_bool,
         cast(sum(case when regexp_matches(trim(cell), '^[+-]?[0-9]+$')
                       then 1 else 0 end) as bigint) as n_int,
         cast(sum(case when regexp_matches(trim(cell),
                           '^[+-]?[0-9]+$')
                         or regexp_matches(trim(cell),
                           '^[+-]?([0-9]+\\.[0-9]*|\\.[0-9]+)$')
                       then 1 else 0 end) as bigint) as n_dec,
         cast(sum(case when regexp_matches(trim(cell), '^[+-]?[0-9]+$')
                         or regexp_matches(trim(cell),
                           '^[+-]?([0-9]+\\.[0-9]*|\\.[0-9]+)$')
                         or regexp_matches(trim(cell),
                           '^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)[eE][+-]?[0-9]+$')
                       then 1 else 0 end) as bigint) as n_dbl,
         cast(sum(case when regexp_matches(trim(cell),
                           '^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}$')
                       then 1 else 0 end) as bigint) as n_date,
         cast(sum(case when regexp_matches(trim(cell),
                           '^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}[T ][0-9]{{2}}:[0-9]{{2}}:[0-9]{{2}}(\\.[0-9]+)?$')
                       then 1 else 0 end) as bigint) as n_datetime
  from cells
  group by col_idx
),
profile as (
  select col_idx, n_cells, n_blank,
         case when n_cells - n_blank > 0 and n_bool >= n_cells - n_blank
                then 'boolean'
              when n_cells - n_blank > 0 and n_int >= n_cells - n_blank
                then 'integer'
              when n_cells - n_blank > 0 and n_dec >= n_cells - n_blank
                then 'decimal'
              when n_cells - n_blank > 0 and n_dbl >= n_cells - n_blank
                then 'double'
              when n_cells - n_blank > 0 and n_date >= n_cells - n_blank
                then 'date'
              when n_cells - n_blank > 0 and n_datetime >= n_cells - n_blank
                then 'dateTime'
              else 'string' end as datatype
  from votes
)"""

_WEBTABLES_TYPE_PROFILE_SQL = f"""
with {_WEBTABLES_CELLS_SQL}
select col_idx, n_cells, n_blank, datatype,
       'http://www.w3.org/2001/XMLSchema#' || datatype as datatype_iri
from profile
"""


def _webtables_typed_triples(spark, sf_dir):
    """End-to-end typed triple emission from untyped web tables: intuit the
    per-column profile (tiny), broadcast it back onto the cell stream, and
    emit (url#row-N, url#col-I, value, xsd-type) triples — the payload never
    shuffles; the only exchange is the profile aggregation.  This is the
    no-metadata fallback of the CSVW kernel (reference always has metadata;
    the open web mostly doesn't)."""
    from .operators.webtables import (apply_column_types, explode_cells,
                                      intuit_column_types, typed_cell_triples)
    from .sources.html_extract import pages_to_virtual_rows
    cells = explode_cells(
        pages_to_virtual_rows(_kg_pages(spark, sf_dir))).persist()
    profile = intuit_column_types(cells)
    typed = apply_column_types(cells, profile)
    return (typed_cell_triples(typed)
            .select("subj", "pred", "obj",
                    F.col("obj_datatype").alias("dt")))


_WEBTABLES_TYPED_TRIPLES_SQL = f"""
with {_WEBTABLES_CELLS_SQL}
select url || '#row-1' as subj,
       url || '#col-' || col_idx as pred,
       trim(cell) as obj,
       'http://www.w3.org/2001/XMLSchema#' || p.datatype as dt
from cells c join profile p using (col_idx)
where not (c.cell is null or trim(c.cell) = '')
"""


def _webtables_header_triples(spark, sf_dir):
    """Same pipeline with header-derived predicates: ONE extraction pass
    (header_rows=0), the header row (source_num=1) becomes the
    (table_index, col_idx) → name map, data rows join it broadcast — so
    predicates are url#col-doc_id / #col-lang / ... instead of ordinals."""
    from .operators.webtables import (apply_column_types, explode_cells,
                                      intuit_column_types, typed_cell_triples)
    from .sources.html_extract import pages_to_virtual_rows
    all_rows = pages_to_virtual_rows(_kg_pages(spark, sf_dir), header_rows=0)
    all_cells = explode_cells(all_rows).persist()
    headers = (all_cells.filter(F.col("source_num") == 1)
               .select("table_index", "col_idx",
                       F.trim("cell").alias("name")).distinct())
    data = (all_cells.filter(F.col("source_num") > 1)
            .withColumn("row_num", F.col("source_num") - 1))
    profile = intuit_column_types(data)
    typed = apply_column_types(data, profile)
    return (typed_cell_triples(typed, headers=headers)
            .select("subj", "pred", "obj",
                    F.col("obj_datatype").alias("dt")))


def _webtables_subject_column(spark, sf_dir):
    """WebTables subject-column detection (Cafarella et al.): among the
    string-typed columns, the entity key is the one with the highest value
    uniqueness, ties leftmost — the fixture's source column (20 distinct)
    beats lang (5 distinct).  Both the type profile and the distinct counts
    aggregate map-side; the pick is a row_number over a driver-small frame.
    The oracle re-derives the whole pick relationally."""
    from .operators.webtables import (column_stats, explode_cells,
                                      pick_subject_column)
    from .sources.html_extract import pages_to_virtual_rows
    cells = explode_cells(pages_to_virtual_rows(_kg_pages(spark, sf_dir)))
    return (pick_subject_column(column_stats(cells))
            .withColumn("subject_col_idx",
                        F.col("subject_col_idx").cast("int")))


_WEBTABLES_STATS_SQL = f"""
{_WEBTABLES_CELLS_SQL},
dist as (
  select col_idx, cast(count(distinct trim(cell)) as bigint) as n_distinct
  from cells
  where not (cell is null or trim(cell) = '')
  group by col_idx
),
stats as (
  select p.col_idx, p.datatype, d.n_distinct,
         case when p.n_cells - p.n_blank > 0
              then cast(d.n_distinct as double)
                   / cast(p.n_cells - p.n_blank as double)
              else 0.0 end as uniqueness
  from profile p join dist d using (col_idx)
),
pick as (
  select col_idx, n_distinct, uniqueness from stats
  where datatype = 'string'
  order by uniqueness desc, col_idx asc
  limit 1
)"""

_WEBTABLES_SUBJECT_COLUMN_SQL = f"""
with {_WEBTABLES_STATS_SQL}
select col_idx as subject_col_idx, n_distinct, uniqueness from pick
"""


def _webtables_entity_triples(spark, sf_dir):
    """Entity-centric triple emission: the subject-column VALUE keys the
    subject IRI (url#e-md5(value)) so re-crawls of the same entity converge
    on one node.  The pick broadcasts onto the UNEXPLODED virtual rows and
    the subject value is read with element_at before the cell explode —
    narrow generator stage, payload never shuffles."""
    from .operators.webtables import (column_stats, entity_triples,
                                      explode_cells, pick_subject_column)
    from .sources.html_extract import pages_to_virtual_rows
    vrows = pages_to_virtual_rows(_kg_pages(spark, sf_dir)).persist()
    pick = pick_subject_column(column_stats(explode_cells(vrows)))
    return entity_triples(vrows, pick) \
        .select("subj", "pred", "obj", "subject_value")


_WEBTABLES_ENTITY_TRIPLES_SQL = f"""
with {_WEBTABLES_STATS_SQL},
sv as (
  select url, trim(cell) as subject_value
  from cells join pick using (col_idx)
  where not (cell is null or trim(cell) = '')
)
select sv.url || '#e-' || md5(sv.subject_value) as subj,
       sv.url || '#col-' || c.col_idx as pred,
       trim(c.cell) as obj,
       sv.subject_value
from cells c
join sv on c.url = sv.url
join pick p on c.col_idx <> p.col_idx
where not (c.cell is null or trim(c.cell) = '')
"""


_WEBTABLES_HEADER_TRIPLES_SQL = f"""
with {_WEBTABLES_CELLS_SQL},
hdr as (
  select cast(0 as integer) as col_idx, 'doc_id' as name
  union all select 1, 'lang'
  union all select 2, 'source'
  union all select 3, 'n_chars'
)
select url || '#row-1' as subj,
       url || '#col-' || h.name as pred,
       trim(cell) as obj,
       'http://www.w3.org/2001/XMLSchema#' || p.datatype as dt
from cells c join profile p using (col_idx) join hdr h using (col_idx)
where not (c.cell is null or trim(c.cell) = '')
"""


def _webtables_schema_freq(spark, sf_dir):
    """WebTables schema frequency: fingerprint each extracted table's header
    row (md5 over unit-separated names) and count stitchable tables per
    fingerprint — ONE map-side-combined groupBy on a low-cardinality key.
    The fixture's pages share one template, so the corpus collapses to a
    single (fingerprint, n_docs) row the oracle predicts exactly."""
    from .operators.webtables import schema_frequency, table_schema_fingerprints
    from .sources.html_extract import pages_to_virtual_rows
    fps = table_schema_fingerprints(
        pages_to_virtual_rows(_kg_pages(spark, sf_dir), header_rows=0))
    return schema_frequency(fps)


_WEBTABLES_SCHEMA_FREQ_SQL = """
select md5('doc_id' || chr(31) || 'lang' || chr(31) || 'source'
           || chr(31) || 'n_chars') as schema_sig,
       'doc_id,lang,source,n_chars' as header_names,
       4 as n_cols,
       cast(count(*) as bigint) as n_tables,
       cast(count(distinct doc_id) as bigint) as n_pages
from documents
"""


def _webtables_pred_induction(spark, sf_dir):
    """KG schema induction over the header-named typed triples: per
    predicate FRAGMENT (col-doc_id / col-lang / ...) across all pages, the
    dominant object datatype and its share — the step that turns emitted
    instance triples back into a vocabulary.  Keyed on the fragment so the
    profile is corpus-wide (4 rows), not per-page."""
    from .operators.webtables import predicate_range_profile
    triples = _webtables_header_triples(spark, sf_dir) \
        .withColumnRenamed("dt", "obj_datatype")
    frag = F.substring_index(F.col("pred"), "#", -1)
    return predicate_range_profile(triples, pred_key=frag)


_WEBTABLES_PRED_INDUCTION_SQL = f"""
with {_WEBTABLES_CELLS_SQL},
hdr as (
  select cast(0 as integer) as col_idx, 'doc_id' as name
  union all select 1, 'lang'
  union all select 2, 'source'
  union all select 3, 'n_chars'
),
typed as (
  select 'col-' || h.name as pred_class,
         'http://www.w3.org/2001/XMLSchema#' || p.datatype as datatype
  from cells c join profile p using (col_idx) join hdr h using (col_idx)
  where not (c.cell is null or trim(c.cell) = '')
),
counts as (
  select pred_class, datatype, cast(count(*) as bigint) as n
  from typed group by pred_class, datatype
),
ranked as (
  select pred_class, datatype, n,
         row_number() over (partition by pred_class
                            order by n desc, datatype asc) as rn,
         cast(sum(n) over (partition by pred_class) as bigint) as n_triples
  from counts
)
select pred_class, n_triples, datatype as dominant_datatype,
       n as dominant_n,
       cast(n as double) / cast(n_triples as double) as dominant_frac
from ranked where rn = 1
"""


def _shacl_shapes():
    from .operators.shacl import NodeShape, PropertyShape
    return [NodeShape(
        shape_id="https://kg.example.org/shapes/CreativeWorkShape",
        target_class="http://schema.org/CreativeWork",
        properties=(
            # every work needs exactly one conforming name — the fixture
            # conforms, so this contributes no rows (negative evidence)
            PropertyShape(path="http://schema.org/name",
                          min_count=1, max_count=1,
                          pattern=r"^doc [0-9]+$"),
            # closed language list — docs in de/zh/es violate
            PropertyShape(path="http://schema.org/inLanguage",
                          in_values=("en", "fr")),
            # headline is absent from the microdata → one minCount
            # violation per focus node
            PropertyShape(path="http://schema.org/headline", min_count=1),
        ))]


def _kg_shacl_report(spark, sf_dir):
    """SHACL-lite validation report over the microdata graph
    (operators/shacl.validate_shapes): per-violation rows for a shapes
    graph exercising cardinality (a missing-path minCount fires per focus),
    closed value lists (langs outside en/fr), and a conforming
    pattern+cardinality property that must contribute NOTHING.  Each
    property shape touches one pred-filtered slice (pushdown-prunable) and
    aggregates on the focus key."""
    from .operators.shacl import validate_shapes
    triples = _kg_microdata_triples(spark, sf_dir).persist()
    return validate_shapes(triples, _shacl_shapes())


_SHACL_SHAPE_ID = "https://kg.example.org/shapes/CreativeWorkShape"

_KG_SHACL_REPORT_SQL = f"""
select {DOC_URL_SQL} || '#item' as focus,
       '{_SHACL_SHAPE_ID}' as shape_id,
       'http://schema.org/inLanguage' as path,
       'in' as constraint,
       lang as actual,
       'en,fr' as expected
from documents where lang not in ('en', 'fr')
union all
select {DOC_URL_SQL} || '#item', '{_SHACL_SHAPE_ID}',
       'http://schema.org/headline', 'minCount', '0', '1'
from documents
"""


def _kg_shacl_summary(spark, sf_dir):
    """Conformance dashboard: violations per (shape, path, constraint) —
    one more map-side groupBy over the report."""
    from .operators.shacl import conformance_summary
    return conformance_summary(_kg_shacl_report(spark, sf_dir))


_KG_SHACL_SUMMARY_SQL = f"""
with r as ({_KG_SHACL_REPORT_SQL})
select shape_id, path, "constraint",
       cast(count(*) as bigint) as n_violations,
       cast(count(distinct focus) as bigint) as n_focus
from r group by shape_id, path, "constraint"
"""


# ---------------------------------------------------------------------------
# fusion / relation-extraction tier
# (operators/fusion.py, operators/relations.py)
# ---------------------------------------------------------------------------

# Three extraction sources assert each document's language; sources 2 and 3
# inject deterministic disagreement (doc_id%7 → a '-alt' variant, doc_id%4 →
# uppercase), so the fixture exercises clean majorities, 2-1 conflicts, and
# the 1-1-1 tie broken by lexical-min (doc_id%28).
_FUSE_PRED = "http://pages.example.org/doc/lang"

_KG_FUSED_TRIPLES_SQL = f"""
with a as (
  select {DOC_URL_SQL} as subj, '{_FUSE_PRED}' as pred, lang as obj
  from documents
  union all
  select {DOC_URL_SQL}, '{_FUSE_PRED}',
         case when doc_id % 7 = 0 then lang || '-alt' else lang end
  from documents
  union all
  select {DOC_URL_SQL}, '{_FUSE_PRED}',
         case when doc_id % 4 = 0 then upper(lang) else lang end
  from documents)
select * from a
"""


def _fusion_assertions(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    subj = F.concat(F.lit("http://pages.example.org/doc/"), F.col("doc_id"))
    pred = F.lit(_FUSE_PRED)
    a1 = d.select(subj.alias("subj"), pred.alias("pred"),
                  F.col("lang").alias("obj"))
    a2 = d.select(subj.alias("subj"), pred.alias("pred"),
                  F.when(F.col("doc_id") % 7 == 0,
                         F.concat(F.col("lang"), F.lit("-alt")))
                  .otherwise(F.col("lang")).alias("obj"))
    a3 = d.select(subj.alias("subj"), pred.alias("pred"),
                  F.when(F.col("doc_id") % 4 == 0, F.upper("lang"))
                  .otherwise(F.col("lang")).alias("obj"))
    return a1.unionByName(a2).unionByName(a3)


def _kg_fused_triples(spark, sf_dir):
    """Truth-discovery fusion (operators/fusion.fuse_majority): majority
    vote per (subj, pred) over three deterministic conflicting extraction
    sources, lexical-min tie-break — the post-canonicalization stage that
    picks the value the graph publishes (Dong et al. VLDB'09).  Two keyed
    payload-free shuffles; conflict cardinality bounds the window fan-in."""
    from .operators.fusion import fuse_majority
    return fuse_majority(_fusion_assertions(spark, sf_dir))


def _kg_reified_triples(spark, sf_dir):
    """RDF reification of the stage-2 statement set
    (operators/fusion.reify_statements): content-addressed ``urn:stmt:``
    anchors + the 4 reification triples each, so provenance annotations
    (source url, confidence, crawl ts) attach as ordinary triples.  One
    distinct exchange, then a narrow 4× inline explode."""
    from .operators.fusion import reify_statements
    return reify_statements(_kg_pages_triples(spark, sf_dir))


# Deterministic Hearst corpus: each document contributes one synthetic
# sentence block built from its own leading tokens (both engines assemble
# the identical string), so the extractor sees real list syntax — comma
# lists, and/or tails, "and other", "including" — with corpus-scale word
# repetition.
def _hearst_text_sql() -> str:
    w = [f"coalesce({TOKS_SQL}[{i + 1}], 'data')" for i in range(5)]
    return (f"'Engines such as ' || {w[0]} || ', ' || {w[1]} || ' and ' || "
            f"{w[2]} || ' scale. ' || {w[3]} || ' and other operators help. '"
            f" || 'pipelines, including ' || {w[4]} || ', run'")


_KG_HEARST_DOCS_SQL = (f"select doc_id, {_hearst_text_sql()} as text "
                       "from documents")


def _hearst_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    w = [F.coalesce(F.get(toks, i), F.lit("data")) for i in range(5)]
    text = F.concat(
        F.lit("Engines such as "), w[0], F.lit(", "), w[1], F.lit(" and "),
        w[2], F.lit(" scale. "), w[3], F.lit(" and other operators help. "),
        F.lit("pipelines, including "), w[4], F.lit(", run"))
    return d.select("doc_id", text.alias("text"))


def _kg_hearst_pairs(spark, sf_dir):
    """Open-world relation extraction (operators/relations.hearst_pair_
    counts): Hearst-pattern hyponym/hypernym pairs with mention/document
    support over a deterministic per-doc sentence corpus — the
    taxonomy-induction bootstrap (Hearst '92, WebIsA over Common Crawl).
    Pure JVM regexp per row; the only shuffle keys on the extracted-pair
    vocabulary."""
    from .operators.relations import hearst_pair_counts
    return hearst_pair_counts(_hearst_docs(spark, sf_dir))


def _fusion_relations_sql() -> dict[str, str]:
    from .operators.fusion import fuse_majority_sql, reify_statements_sql
    from .operators.relations import hearst_pair_counts_sql
    return {
        "kg_fused_triples": fuse_majority_sql(_KG_FUSED_TRIPLES_SQL),
        "kg_reified_triples": reify_statements_sql(_KG_PAGES_TRIPLES_SQL),
        "kg_hearst_pairs": hearst_pair_counts_sql(_KG_HEARST_DOCS_SQL),
    }


# --- RDFa-lite facet --------------------------------------------------------

def _kg_rdfa_triples(spark, sf_dir):
    """Stage 1e: RDFa-lite scopes → triples (web.rdfa_to_triples over the
    sources/html_extract parser's vocab/prefix expansion) — the fourth
    structured-data facet after tables, microdata, and JSON-LD.  The
    fixture page per document exercises vocab term expansion (name,
    inLanguage, wordCount), a declared CURIE prefix (ex:rank), fragment
    subject resolution (#art-N against the url), text-content vs
    content/href-attribute values, and IRI-vs-literal object detection;
    the oracle predicts all five triples relationally."""
    from .web import rdfa_to_triples
    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><body><div vocab="http://schema.org/" '
              'prefix="ex: http://ex.org/ns#" typeof="Article" '
              'resource="#art-'), F.col("doc_id"),
        F.lit('"><span property="name">Doc '), F.col("doc_id"),
        F.lit('</span><link property="inLanguage" '
              'href="http://lang.example.org/'), F.col("lang"),
        F.lit('"><meta property="wordCount" content="'), F.col("n_chars"),
        F.lit('"><b property="ex:rank" content="'), F.col("doc_id") % 5,
        F.lit('"></b></div></body></html>'))
    pages = d.select(
        F.concat(F.lit("http://pages.example.org/doc/"),
                 F.col("doc_id")).alias("url"),
        html.alias("html"))
    return rdfa_to_triples(pages).select("subj", "pred", "obj", "obj_is_iri")


_KG_RDFA_TRIPLES_SQL = f"""
with s as (select {DOC_URL_SQL} || '#art-' || doc_id as subj, * from documents)
select subj, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' as pred,
       'http://schema.org/Article' as obj, true as obj_is_iri from s
union all
select subj, 'http://schema.org/name', 'Doc ' || doc_id, false from s
union all
select subj, 'http://schema.org/inLanguage',
       'http://lang.example.org/' || lang, true from s
union all
select subj, 'http://schema.org/wordCount', n_chars::varchar, false from s
union all
select subj, 'http://ex.org/ns#rank', (doc_id % 5)::varchar, false from s
"""


# --- entity disambiguation --------------------------------------------------

# Ambiguous surface → candidate entities with context bags; contexts are
# drawn from the corpus vocabulary so documents genuinely separate the
# senses. Both engines construct the identical table.
_DISAMB_CANDIDATES = [
    ("spark", "https://kg.example.org/entity/tool/spark-engine",
     "batch stream window executor"),
    ("spark", "https://kg.example.org/entity/fire/spark-ember",
     "flame ember ash heat"),
    ("merge", "https://kg.example.org/entity/op/merge-join",
     "join sort hash table"),
    ("merge", "https://kg.example.org/entity/vcs/merge-commit",
     "branch commit repo diff"),
]

_DISAMB_CANDIDATES_SQL = "select * from (values " + ", ".join(
    f"('{s}', '{e}', '{c}')" for s, e, c in _DISAMB_CANDIDATES
) + ") t(surface, entity, context)"


def _kg_entity_disambiguation(spark, sf_dir):
    """Stage 2c: context-scored entity disambiguation
    (web.disambiguate_mentions): ambiguous surfaces resolve to the
    candidate whose context bag best overlaps the document (wikify-style),
    lexical-min entity tie-break — broadcast candidate join, one
    array_intersect projection, one (doc, surface)-keyed window."""
    from .web import disambiguate_mentions
    cands = spark.createDataFrame(
        _DISAMB_CANDIDATES, "surface string, entity string, context string")
    return disambiguate_mentions(_t(spark, sf_dir, "documents"), cands)


def _kg_entity_disambiguation_sql() -> str:
    from .web import disambiguate_sql
    return disambiguate_sql("select doc_id, text from documents",
                            _DISAMB_CANDIDATES_SQL)


# --- connected components (stage 3) -----------------------------------------

def _graph_component_sizes(spark, sf_dir):
    """Component-size histogram over a many-component star fixture
    (decade stars: doc → its decade root): stage 3's distributed
    connected components (operators/components.connected_components)
    must recover exactly the decade partition, so the histogram has a
    direct closed-form relational oracle — a structural check on CC
    itself, complementing the canonicalization profile mirrors."""
    from .operators.components import connected_components
    prefix = "http://pages.example.org/doc/"
    edges = (_t(spark, sf_dir, "documents")
             .filter(F.col("doc_id") % 10 != 0)
             .select(F.concat(F.lit(prefix), F.col("doc_id")).alias("a"),
                     F.concat(F.lit(prefix),
                              F.expr("doc_id - doc_id % 10")).alias("b")))
    cc = connected_components(edges)
    sizes = cc.groupBy("component").agg(F.count("*").alias("sz"))
    return (sizes.groupBy("sz")
            .agg(F.count("*").cast("long").alias("n_components"))
            .select(F.col("sz").cast("long").alias("component_size"),
                    "n_components"))


# decade d holds docs [10d, 10d+9] ∩ corpus → the component is the whole
# decade; decades with a lone root have no edges and no CC row
_GRAPH_COMPONENT_SIZES_SQL = """
with dec as (select doc_id // 10 as d, count(*) as sz
             from documents group by doc_id // 10
             having count(*) >= 2)
select sz::bigint as component_size, count(*)::bigint as n_components
from dec group by sz
"""


_CRAWL_URLS_SQL = """
select 'http://' || source || '.example.org/doc/' || doc_id as url
from documents
union all
select 'http://' || source || '.example.org/lang/' || lang from documents
"""


def _crawl_url_templates(spark, sf_dir):
    """URL path-template mining (operators/urls.url_templates): numeric/
    hex id segments generalize to {id}, so a host's page TYPES surface
    from its page URLs — crawl-budget planning + infinite-space
    detection; one vocabulary-keyed count."""
    from .operators.urls import url_templates
    d = _t(spark, sf_dir, "documents")
    u = d.select(F.concat(F.lit("http://"), F.col("source"),
                          F.lit(".example.org/doc/"),
                          F.col("doc_id")).alias("url"))         .unionByName(d.select(
            F.concat(F.lit("http://"), F.col("source"),
                     F.lit(".example.org/lang/"),
                     F.col("lang")).alias("url")))
    return url_templates(u)


def _url_templates_oracle() -> str:
    from .operators.urls import url_templates_sql
    return url_templates_sql(_CRAWL_URLS_SQL)


# ---------------------------------------------------------------------------

# Every query the package serves, grouped by tier: the pipeline's stages
# first, in stage order, then the entries outside the pipeline. The
# registry order is irrelevant to the driver: _DRIVER_WINDOW below picks
# the 50 entries it sweeps first, and the pytest oracle mirror covers all
# of them.
_REGISTRY: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- the pipeline's stages, in stage order ---
    # extract + map, CSVW table path: the reference's operator families
    "csvw_triples_nation": _csvw_triples_nation,
    "csvw_coerce_numeric": _csvw_coerce_numeric,
    "csvw_date_format": _csvw_date_format,
    "csvw_null_default_trim": _csvw_null_default_trim,
    "csvw_json_rows": _csvw_json_rows,
    "csvw_list_split": _csvw_list_split,
    "csvw_boolean_format": _csvw_boolean_format,
    "csvw_uri_template": _csvw_uri_template,
    # extract + map, web-page path: the combined pass and each facet
    "kg_pages_triples": _kg_pages_triples,
    "kg_microdata_triples": _kg_microdata_triples,
    "kg_jsonld_triples": _kg_jsonld_triples,
    "kg_og_triples": _kg_og_triples,
    "kg_page_meta": _kg_page_meta,
    "kg_rdfa_triples": _kg_rdfa_triples,
    # link: entity mentions
    "kg_entity_mentions": _kg_entity_mentions,
    "kg_entity_mentions_join": _kg_entity_mentions_join,
    # canonicalize: the profile tier, stage 3's connected components,
    # owl:sameAs
    "kg_canonicalized_triples": _kg_canonicalized_triples,
    "kg_canonical_dupes": _kg_canonical_dupes,
    "graph_component_sizes": _graph_component_sizes,
    "kg_sameas_mapping": _kg_sameas_mapping,
    "kg_sameas_canonical": _kg_sameas_canonical,
    # read back: the SPARQL / BGP tier
    "kg_bgp_star": _kg_bgp_star,
    "kg_bgp_path": _kg_bgp_path,
    "kg_bgp_optional": _kg_bgp_optional,
    "kg_bgp_filter": _kg_bgp_filter,
    "kg_bgp_union": _kg_bgp_union,
    "kg_bgp_minus": _kg_bgp_minus,
    "kg_bgp_graph": _kg_bgp_graph,
    "kg_bgp_having": _kg_bgp_having,
    "kg_bgp_values": _kg_bgp_values,
    "kg_bgp_bind": _kg_bgp_bind,
    "kg_bgp_exists": _kg_bgp_exists,
    "kg_bgp_agg": _kg_bgp_agg,
    "kg_bgp_group_concat": _kg_bgp_group_concat,
    "kg_bgp_subselect": _kg_bgp_subselect,
    "kg_sparql_select": _kg_sparql_select,
    "kg_sparql_agg": _kg_sparql_agg,
    "kg_sparql_funcs": _kg_sparql_funcs,
    "kg_describe_docs": _kg_describe_docs,
    # read back: LANG/DATATYPE/STRDT/sameTerm over the term-rendered
    # documents graph
    "kg_term_lang": _kg_term_lang,
    "kg_term_datatype": _kg_term_datatype,
    "kg_term_sameterm": _kg_term_sameterm,
    # read back: property paths and transitive closure
    "graph_path_expr": _graph_path_expr,
    "graph_path_star": _graph_path_star,
    "graph_path_opt": _graph_path_opt,
    "graph_closure_doubling": _graph_closure_doubling,
    "graph_closure_ancestors": _graph_closure_ancestors,
    "kg_bgp_path_expr": _kg_bgp_path_expr,
    # read back: inference
    "kg_construct_derived": _kg_construct_derived,
    "kg_rdfs_derived": _kg_rdfs_derived,
    "kg_owl_derived": _kg_owl_derived,
    # validate: SHACL-lite shapes
    "kg_shacl_report": _kg_shacl_report,
    "kg_shacl_summary": _kg_shacl_summary,
    # --- outside the pipeline ---
    # relational substrate: TPC-H, events, foreign keys
    "agg_pricing_summary": _agg_pricing_summary,
    "join_order_revenue": _join_order_revenue,
    "join_supplier_profit": _join_supplier_profit,
    "window_top_events": _window_top_events,
    "agg_events_daily": _agg_events_daily,
    "agg_salted_count": _agg_salted_count,
    "fk_orders_customer": _fk_orders_customer,
    "fk_group_integrity": _fk_group_integrity,
    "events_sessionize": _events_sessionize,
    # crawl and URL handling
    "text_url_normalize": _text_url_normalize,
    "text_url_strip_tracking": _text_url_strip_tracking,
    "crawl_frontier": _crawl_frontier,
    "curate_robots_filter": _curate_robots_filter,
    "curate_blocklist": _curate_blocklist,
    "crawl_recrawl_schedule": _crawl_recrawl_schedule,
    "crawl_sitemap_frontier": _crawl_sitemap_frontier,
    "crawl_url_templates": _crawl_url_templates,
    # document and URL dedup
    "dedup_minhash_scale_sig": _dedup_minhash_scale_sig,
    "dedup_minhash_scale_pairs": _dedup_minhash_scale_pairs,
    "dedup_url_latest": _dedup_url_latest,
    "dedup_canonical_groups": _dedup_canonical_groups,
    "dedup_url_canonical": _dedup_url_canonical,
    # corpus telemetry
    "corpus_length_quantiles": _corpus_length_quantiles,
    # WebTables type intuition
    "webtables_type_profile": _webtables_type_profile,
    "webtables_typed_triples": _webtables_typed_triples,
    "webtables_header_triples": _webtables_header_triples,
    "webtables_subject_column": _webtables_subject_column,
    "webtables_entity_triples": _webtables_entity_triples,
    "webtables_schema_freq": _webtables_schema_freq,
    "webtables_pred_induction": _webtables_pred_induction,
    # links, anchors, fusion, relations, disambiguation, VoID
    "kg_comention_pmi": _kg_comention_pmi,
    "kg_page_links": _kg_page_links,
    "kg_page_links_nofollow": _kg_page_links_nofollow,
    "kg_anchor_texts": _kg_anchor_texts,
    "kg_anchor_labels": _kg_anchor_labels,
    "kg_fused_triples": _kg_fused_triples,
    "kg_reified_triples": _kg_reified_triples,
    "kg_hearst_pairs": _kg_hearst_pairs,
    "kg_entity_disambiguation": _kg_entity_disambiguation,
    "kg_void_description": _kg_void_description,
}

# --- driver sweep window ----------------------------------------------------
# The driver's hard correctness signal covers exactly the FIRST 50 entries
# of _QUERIES, so the window lists the pipeline's own stages first, in
# stage order (extract + map, link, canonicalize, read back, validate):
# a regression in any stage then fails the driver, not only the pytest
# mirror. The entries outside the pipeline fill the remaining slots. The
# registry dict order is irrelevant; tests/test_queries_oracle.py pins
# this list.
_DRIVER_WINDOW: list[str] = [
    # extract + map: the two flagships (the CSVW table path and the
    # web-page path), the CSVW operator families and the page facets
    "csvw_triples_nation", "kg_pages_triples",
    "csvw_coerce_numeric", "csvw_date_format", "csvw_null_default_trim",
    "csvw_json_rows", "csvw_list_split", "csvw_boolean_format",
    "csvw_uri_template",
    "kg_microdata_triples", "kg_jsonld_triples", "kg_og_triples",
    "kg_page_meta", "kg_rdfa_triples",
    # link
    "kg_entity_mentions",
    # canonicalize: the profile tier, connected components, owl:sameAs
    "kg_canonicalized_triples", "kg_canonical_dupes",
    "graph_component_sizes", "kg_sameas_mapping", "kg_sameas_canonical",
    # read back: inference and the SPARQL tier
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

assert len(_DRIVER_WINDOW) == 50, len(_DRIVER_WINDOW)
assert len(set(_DRIVER_WINDOW)) == 50

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    **{name: _REGISTRY[name] for name in _DRIVER_WINDOW},
    **{k: v for k, v in _REGISTRY.items() if k not in set(_DRIVER_WINDOW)},
}

_ORACLES: dict[str, str] = {
    "csvw_triples_nation": _CSVW_TRIPLES_NATION_SQL,
    "csvw_coerce_numeric": _CSVW_COERCE_NUMERIC_SQL,
    "csvw_date_format": _CSVW_DATE_FORMAT_SQL,
    "csvw_null_default_trim": _CSVW_NULL_DEFAULT_TRIM_SQL,
    "csvw_json_rows": _CSVW_JSON_ROWS_SQL,
    "csvw_list_split": _CSVW_LIST_SPLIT_SQL,
    "csvw_boolean_format": _CSVW_BOOLEAN_FORMAT_SQL,
    "csvw_uri_template": _CSVW_URI_TEMPLATE_SQL,
    "agg_pricing_summary": _AGG_PRICING_SUMMARY_SQL,
    "join_order_revenue": _JOIN_ORDER_REVENUE_SQL,
    "window_top_events": _WINDOW_TOP_EVENTS_SQL,
    "agg_events_daily": _AGG_EVENTS_DAILY_SQL,
    "agg_salted_count": _AGG_SALTED_COUNT_SQL,
    "fk_orders_customer": _FK_ORDERS_CUSTOMER_SQL,
    "fk_group_integrity": _FK_GROUP_INTEGRITY_SQL,
    "text_url_normalize": _TEXT_URL_NORMALIZE_SQL,
    "dedup_minhash_scale_sig": _DEDUP_MINHASH_SCALE_SIG_SQL,
    "dedup_minhash_scale_pairs": _DEDUP_MINHASH_SCALE_PAIRS_SQL,
    "kg_pages_triples": _KG_PAGES_TRIPLES_SQL,
    "kg_entity_mentions": _KG_ENTITY_MENTIONS_SQL,
    "kg_entity_mentions_join": _KG_ENTITY_MENTIONS_SQL,
    "kg_microdata_triples": _KG_MICRODATA_TRIPLES_SQL,
    "kg_jsonld_triples": _KG_JSONLD_TRIPLES_SQL,
    "kg_page_meta": _KG_PAGE_META_SQL,
    "dedup_canonical_groups": _DEDUP_CANONICAL_GROUPS_SQL,
    "kg_og_triples": _KG_OG_TRIPLES_SQL,
    "kg_page_links_nofollow": _KG_PAGE_LINKS_NOFOLLOW_SQL,
    "kg_void_description": _void_sql(_KG_MICRODATA_TRIPLES_SQL,
                                     "https://kg.example.org/dataset/docs"),
    "crawl_frontier": _CRAWL_FRONTIER_SQL,
    "curate_robots_filter": _CURATE_ROBOTS_FILTER_SQL,
    "text_url_strip_tracking": _url_strip_tracking_sql(),
    "crawl_recrawl_schedule": _CRAWL_RECRAWL_SCHEDULE_SQL,
    "crawl_sitemap_frontier": _CRAWL_SITEMAP_FRONTIER_SQL,
    "join_supplier_profit": _JOIN_SUPPLIER_PROFIT_SQL,
    "dedup_url_canonical": _DEDUP_URL_CANONICAL_SQL,
    "kg_canonicalized_triples": _KG_CANONICALIZED_TRIPLES_SQL,
    "kg_canonical_dupes": _KG_CANONICAL_DUPES_SQL,
    "corpus_length_quantiles": _CORPUS_LENGTH_QUANTILES_SQL,
    "kg_comention_pmi": _KG_COMENTION_PMI_SQL,
    "kg_page_links": _TREE_EDGES_SQL,
    "kg_anchor_texts": _KG_ANCHOR_TEXTS_SQL,
    "dedup_url_latest": _DEDUP_URL_LATEST_SQL,
    "kg_anchor_labels": _KG_ANCHOR_LABELS_SQL,
    "events_sessionize": _EVENTS_SESSIONIZE_SQL,
    "curate_blocklist": _CURATE_BLOCKLIST_SQL,
    "webtables_type_profile": _WEBTABLES_TYPE_PROFILE_SQL,
    "webtables_typed_triples": _WEBTABLES_TYPED_TRIPLES_SQL,
    "webtables_header_triples": _WEBTABLES_HEADER_TRIPLES_SQL,
    "webtables_subject_column": _WEBTABLES_SUBJECT_COLUMN_SQL,
    "webtables_entity_triples": _WEBTABLES_ENTITY_TRIPLES_SQL,
    "webtables_schema_freq": _WEBTABLES_SCHEMA_FREQ_SQL,
    "webtables_pred_induction": _WEBTABLES_PRED_INDUCTION_SQL,
    "kg_shacl_report": _KG_SHACL_REPORT_SQL,
    "kg_shacl_summary": _KG_SHACL_SUMMARY_SQL,
    **_graph_sql(),
    **_fusion_relations_sql(),
    "kg_rdfa_triples": _KG_RDFA_TRIPLES_SQL,
    "kg_entity_disambiguation": _kg_entity_disambiguation_sql(),
    "graph_component_sizes": _GRAPH_COMPONENT_SIZES_SQL,
    "crawl_url_templates": _url_templates_oracle(),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
