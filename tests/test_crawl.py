"""Crawl operations: robots.txt parsing/filtering and frontier discovery."""

from rdf_tabular_spark.operators.crawl import (filter_disallowed,
                                               frontier_urls, parse_robots,
                                               parse_sitemap, robots_rules)

ROBOTS = """# comment line
User-agent: google-bot
Disallow: /g-only

User-agent: a-bot
User-agent: b-bot
Disallow: /ab
Disallow: /ab2

User-agent: *
Disallow: /all
Disallow:
"""


def test_parse_robots_groups():
    assert parse_robots(ROBOTS, "google-bot") == ["/g-only"]
    # consecutive User-agent lines share one rule group
    assert parse_robots(ROBOTS, "a-bot") == ["/ab", "/ab2"]
    assert parse_robots(ROBOTS, "B-Bot") == ["/ab", "/ab2"]   # case-insensitive
    # unknown agent falls back to *; empty Disallow ignored
    assert parse_robots(ROBOTS, "nobody") == ["/all"]
    assert parse_robots("", "x") == []
    assert parse_robots("Disallow: /orphan", "x") == []   # rule before any UA


def test_robots_rules_kernel(spark):
    robots = spark.createDataFrame(
        [("h1", ROBOTS), ("h2", "User-agent: *\nDisallow: /x"),
         ("h3", "# nothing\n")],
        "host string, robots_txt string")
    got = {(r.host, r.disallow) for r in robots_rules(robots).collect()}
    assert got == {("h1", "/all"), ("h2", "/x")}
    agent = {(r.host, r.disallow)
             for r in robots_rules(robots, agent="a-bot").collect()}
    assert agent == {("h1", "/ab"), ("h1", "/ab2"), ("h2", "/x")}


def test_filter_disallowed(spark):
    urls = spark.createDataFrame(
        [("http://h1/all/page", 1), ("http://h1/ok", 2),
         ("http://h2/x/deep", 3), ("http://h2/xy", 4),
         ("http://h3/x", 5)],                      # no rules for h3
        "url string, k int")
    rules = spark.createDataFrame(
        [("h1", "/all"), ("h2", "/x")], "host string, disallow string")
    kept = {r.k for r in filter_disallowed(urls, rules).collect()}
    # /xy starts with /x -> blocked (prefix semantics, the robots contract)
    assert kept == {2, 5}
    # extra columns survive untouched
    cols = filter_disallowed(urls, rules).columns
    assert cols == ["url", "k"]


def test_frontier_urls(spark):
    links = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d")],
        "src string, dst string")
    crawled = spark.createDataFrame([("a",), ("b",), ("c",)], "url string")
    got = {r.url for r in frontier_urls(links, crawled).collect()}
    assert got == {"d"}


def test_filter_disallowed_no_blowup_plan(spark):
    urls = spark.createDataFrame([("http://h/x", 1)], "url string, k int")
    rules = spark.createDataFrame([("h", "/y")], "host string, disallow string")
    plan = filter_disallowed(urls, rules)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_strip_tracking_params(spark):
    from pyspark.sql import functions as F

    from rdf_tabular_spark.operators.urls import strip_tracking_params
    cases = [
        ("https://h/p?utm_source=a&id=1", "https://h/p?id=1"),
        ("https://h/p?id=1&utm_source=a", "https://h/p?id=1"),
        ("https://h/p?utm_a=1&utm_b=2", "https://h/p"),
        ("https://h/p?gclid=x&a=1&fbclid=y&b=2", "https://h/p?a=1&b=2"),
        ("https://h/p?msclkid=1", "https://h/p"),
        ("https://h/p?a=1", "https://h/p?a=1"),       # untouched
        ("https://h/p", "https://h/p"),
        ("https://h/p?autm_x=1", "https://h/p?autm_x=1"),  # not a prefix hit
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "raw string")
    got = [r.clean for r in
           df.select(strip_tracking_params(F.col("raw")).alias("clean"))
           .collect()]
    assert got == [want for _, want in cases]


def test_recrawl_schedule(spark):
    import datetime

    from rdf_tabular_spark.operators.crawl import recrawl_schedule
    t0 = datetime.datetime(2024, 1, 1)
    d = datetime.timedelta(days=1)
    rows = [
        ("u-static", t0, "same"), ("u-static", t0 + d, "same"),
        ("u-static", t0 + 2 * d, "same"),
        ("u-slow", t0, "a"), ("u-slow", t0 + d, "b"),
        ("u-slow", t0 + 2 * d, "b"), ("u-slow", t0 + 3 * d, "b"),
        ("u-fast", t0, "x"), ("u-fast", t0 + d, "y"), ("u-fast", t0 + 2 * d, "z"),
        ("u-once", t0, "only"),
    ]
    df = spark.createDataFrame(rows,
                               "url string, warc_ts timestamp, text string")
    got = {r.url: (r.n_snapshots, r.n_versions, r.change_rate, r.tier)
           for r in recrawl_schedule(df).collect()}
    assert got["u-static"] == (3, 1, 0.0, "static")
    assert got["u-slow"] == (4, 2, 0.3333, "slow")
    assert got["u-fast"] == (3, 3, 1.0, "fast")
    assert got["u-once"] == (1, 1, 0.0, "static")   # no evidence


def test_recrawl_schedule_digest_shuffles_not_text(spark):
    import datetime

    from rdf_tabular_spark.operators.crawl import recrawl_schedule
    df = spark.createDataFrame(
        [("u", datetime.datetime(2024, 1, 1), "t")],
        "url string, warc_ts timestamp, text string")
    plan = recrawl_schedule(df)._jdf.queryExecution().executedPlan() \
        .toString()
    # content is digested in a Project BELOW the partial aggregation...
    assert "md5(cast(coalesce(text" in plan and "partial_count" in plan
    # ...so the raw text column never appears in any exchange or
    # aggregate output (only url/digest/counters cross the wire)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line or "output=[" in line:
            assert "text#" not in line, line


SITEMAP = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc>http://h/a</loc><lastmod>2024-01-02</lastmod></url>
  <url><loc> http://h/b </loc></url>
  <url><lastmod>2024-01-03</lastmod></url>
</urlset>"""

SITEMAP_INDEX = """<sitemapindex>
  <sitemap><loc>http://h/sitemap1.xml</loc></sitemap>
  <sitemap><loc>http://h/sitemap2.xml</loc><lastmod>2024-02-01</lastmod></sitemap>
</sitemapindex>"""


def test_parse_sitemap():
    kind, entries = parse_sitemap(SITEMAP)
    assert kind == "urlset"
    # loc-less <url> dropped; whitespace stripped
    assert entries == [("http://h/a", "2024-01-02"), ("http://h/b", None)]
    kind2, entries2 = parse_sitemap(SITEMAP_INDEX)   # namespace-less variant
    assert kind2 == "sitemapindex"
    assert entries2 == [("http://h/sitemap1.xml", None),
                        ("http://h/sitemap2.xml", "2024-02-01")]
    assert parse_sitemap("not xml <") == ("invalid", [])
    assert parse_sitemap("<html><body>404</body></html>") == ("invalid", [])


def test_sitemap_urls_kernel(spark):
    from rdf_tabular_spark.operators.crawl import sitemap_urls
    df = spark.createDataFrame(
        [("h1", SITEMAP), ("h2", SITEMAP_INDEX), ("h3", "broken <")],
        "host string, sitemap_xml string")
    got = {(r.host, r.loc, r.lastmod, r.kind)
           for r in sitemap_urls(df).collect()}
    assert got == {
        ("h1", "http://h/a", "2024-01-02", "urlset"),
        ("h1", "http://h/b", None, "urlset"),
        ("h2", "http://h/sitemap1.xml", None, "sitemapindex"),
        ("h2", "http://h/sitemap2.xml", "2024-02-01", "sitemapindex"),
    }


def test_filter_disallowed_payload_never_joins(spark):
    # the blocked-set join must see ONLY the url projection — payload
    # columns (html at pages-table width) stay out of every join/exchange
    urls = spark.createDataFrame([("http://h/x", "PAYLOAD" * 10)],
                                 "url string, html string")
    rules = spark.createDataFrame([("h", "/y")],
                                  "host string, disallow string")
    plan = filter_disallowed(urls, rules)._jdf.queryExecution() \
        .executedPlan().toString()
    for line in plan.splitlines():
        if "Join" in line or "Exchange" in line:
            assert "html" not in line, line


def test_filter_disallowed_root_and_query(spark):
    urls = spark.createDataFrame(
        [("http://h", 1),                        # empty path == '/'
         ("http://h/search?q=x", 2),             # query participates
         ("http://h/search", 3)],
        "url string, k int")
    rules = spark.createDataFrame([("h", "/"), ],
                                  "host string, disallow string")
    assert {r.k for r in filter_disallowed(urls, rules).collect()} == set()
    rules_q = spark.createDataFrame([("h", "/search?q=")],
                                    "host string, disallow string")
    assert {r.k for r in filter_disallowed(urls, rules_q).collect()} \
        == {1, 3}


def test_recrawl_schedule_null_content(spark):
    import datetime

    from rdf_tabular_spark.operators.crawl import recrawl_schedule
    t0 = datetime.datetime(2024, 1, 1)
    d = datetime.timedelta(days=1)
    df = spark.createDataFrame(
        [("u", t0, None), ("u", t0 + d, None), ("u", t0 + 2 * d, None)],
        "url string, warc_ts timestamp, text string")
    r = recrawl_schedule(df).first()
    # three failed fetches = one (empty) version: static, never negative
    assert (r.n_versions, r.change_rate, r.tier) == (1, 0.0, "static")


def test_url_templates_generalization(spark):
    from rdf_tabular_spark.operators.urls import url_templates
    urls = spark.createDataFrame(
        [("http://a.ex/product/12",), ("http://a.ex/product/95",),
         ("http://a.ex/tag/red",), ("http://a.ex/tag/red",),
         ("http://b.ex/x/deadbeef01/view",), ("http://b.ex/x/cafebabe22/view",),
         ("http://c.ex/once/1",)],
        "url string")
    out = {(r["host"], r["template"]): r["n_urls"]
           for r in url_templates(urls).collect()}
    assert out[("a.ex", "/product/{id}")] == 2
    assert out[("a.ex", "/tag/red")] == 2       # non-id segment survives
    assert out[("b.ex", "/x/{id}/view")] == 2   # hex ids generalize
    assert ("c.ex", "/once/{id}") not in out    # min_urls floor


def test_filter_blocked_domains_suffix_semantics(spark):
    from rdf_tabular_spark.operators.urls import filter_blocked_domains
    df = spark.createDataFrame(
        [(1, "http://evil.com/x"),          # exact match -> blocked
         (2, "http://a.evil.com/x"),        # subdomain -> blocked
         (3, "http://notevil.com/x"),       # suffix of the STRING only -> kept
         (4, "http://evil.com.safe.org/x"),  # blocked name mid-host -> kept
         (5, "http://ok.org/x")],
        "doc_id long, url string")
    bl = spark.createDataFrame([("evil.com",)], "domain string")
    kept = {r["doc_id"]
            for r in filter_blocked_domains(df, bl, key="doc_id").collect()}
    assert kept == {3, 4, 5}
