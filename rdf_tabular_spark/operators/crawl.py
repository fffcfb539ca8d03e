"""Crawl operations: robots.txt compliance filtering, crawl-frontier
discovery and recrawl dedup (the latest snapshot of each URL).

These close the loop the page pipeline sits inside at web scale: the link
graph discovers URLs (frontier = seen minus crawled), and robots.txt rules
decide which of them a compliant crawler may fetch. Both are pure
relational shapes — an anti-join and a host-keyed prefix-match join — so
they survive 10^12 rows without any per-URL driver logic.

robots.txt subset (documented contract): per-agent groups, ``Disallow:``
prefix rules for the requested agent (falling back to ``*``), case-
insensitive field names, ``#`` comments stripped, empty Disallow (allow
all) ignored. ``Allow:`` precedence and wildcards are NOT modeled — rules
here are conservative prefix blocks, the 99% case of real robots files.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_HOST_RE = r"^[a-z][a-z0-9+.-]*://([^/?#]+)"
# path INCLUDING the query string — RFC 9309 prefix matching covers both
# ("Disallow: /search?q=" must be matchable)
_PATH_RE = r"^[a-z][a-z0-9+.-]*://[^/?#]+([^#]*)"


def parse_robots(txt: str, agent: str = "*") -> list[str]:
    """robots.txt body → Disallow prefixes applying to ``agent``.

    Group selection follows the de-facto standard: the most specific
    matching ``User-agent`` group wins (exact agent name over ``*``);
    consecutive User-agent lines share one group."""
    groups: dict[str, list[str]] = {}
    current: list[str] = []       # agents of the group being read
    reading_rules = False
    for raw in txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field, value = field.strip().lower(), value.strip()
        if field == "user-agent":
            if reading_rules:      # a new group starts
                current = []
                reading_rules = False
            current.append(value.lower())
            for a in current:
                groups.setdefault(a, [])
        elif field == "disallow":
            reading_rules = True
            if value:
                for a in current:
                    groups.setdefault(a, []).append(value)
    return groups.get(agent.lower(), groups.get("*", []))


def robots_rules(robots: DataFrame, agent: str = "*",
                 host_col: str = "host",
                 txt_col: str = "robots_txt") -> DataFrame:
    """(host, robots_txt) → exploded ``(host, disallow)`` rule rows —
    one Arrow kernel (group-state parsing is sequential per file), narrow,
    no shuffle. Hosts whose file yields no rules emit nothing."""
    from ..session import ensure_package_on_executors
    ensure_package_on_executors(robots.sparkSession)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hosts, rules = [], []
            for host, txt in zip(pdf[host_col], pdf[txt_col]):
                for prefix in parse_robots(str(txt), agent):
                    hosts.append(host)
                    rules.append(prefix)
            yield pd.DataFrame({"host": hosts, "disallow": rules})

    return robots.mapInPandas(kernel, schema="host string, disallow string")


def filter_disallowed(urls: DataFrame, rules: DataFrame,
                      url_col: str = "url") -> DataFrame:
    """Drop rows whose URL path starts with any Disallow prefix for its
    host. Host/path split is JVM-side regexp; the blocked set is computed
    on a TWO-COLUMN projection (url only joins the tiny rules table —
    never the caller's payload columns, which at pages-table width would
    otherwise shuffle html bodies), then removed with one anti-join on the
    URL. Rules tables are small next to the corpus, so AQE broadcasts the
    inner join; the anti-join keys on the full URL space (no skew
    concentration)."""
    path = F.regexp_extract(F.col(url_col), _PATH_RE, 1)
    slim = urls.select(
        F.col(url_col),
        F.regexp_extract(F.col(url_col), _HOST_RE, 1).alias("__host"),
        # an absent path is '/' per RFC 9309 ('http://h' with
        # 'Disallow: /' must block, not fail open)
        F.when(path == "", F.lit("/")).otherwise(path).alias("__path"))
    blocked = (slim.join(rules, slim["__host"] == rules["host"])
               .where(F.col("__path").startswith(F.col("disallow")))
               .select(url_col).distinct())
    return urls.join(blocked, url_col, "left_anti")


def parse_sitemap(xml: str) -> tuple[str, list[tuple[str, str | None]]]:
    """sitemap XML → (kind, [(loc, lastmod|None), ...]) where kind is
    ``urlset`` (leaf sitemap), ``sitemapindex`` (pointer file), or
    ``invalid``. Namespace-agnostic (matches on local names — real
    sitemaps vary between no-ns, 0.9-ns and Google extensions); malformed
    XML yields ('invalid', []) — crawl robustness, never an exception."""
    import xml.etree.ElementTree as ET
    try:
        root = ET.fromstring(xml)
    except ET.ParseError:
        return ("invalid", [])

    def local(tag: str) -> str:
        return tag.rsplit("}", 1)[-1].lower()

    kind = local(root.tag)
    if kind not in ("urlset", "sitemapindex"):
        return ("invalid", [])
    out: list[tuple[str, str | None]] = []
    for child in root:
        if local(child.tag) not in ("url", "sitemap"):
            continue
        loc, lastmod = None, None
        for f in child:
            if local(f.tag) == "loc":
                loc = (f.text or "").strip()
            elif local(f.tag) == "lastmod":
                lastmod = (f.text or "").strip()
        if loc:
            out.append((loc, lastmod))
    return (kind, out)


def sitemap_urls(sitemaps: DataFrame, host_col: str = "host",
                 xml_col: str = "sitemap_xml") -> DataFrame:
    """(host, sitemap_xml) → exploded ``(host, loc, lastmod, kind)`` rows —
    one Arrow kernel, narrow, no shuffle. ``sitemapindex`` rows surface
    child sitemap URLs (the caller fetches and feeds them back — the
    sitemap tree is crawled level by level like the page frontier);
    invalid files emit nothing."""
    from ..session import ensure_package_on_executors
    ensure_package_on_executors(sitemaps.sparkSession)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hosts, locs, mods, kinds = [], [], [], []
            for host, xml in zip(pdf[host_col], pdf[xml_col]):
                kind, entries = parse_sitemap(str(xml))
                for loc, lastmod in entries:
                    hosts.append(host)
                    locs.append(loc)
                    mods.append(lastmod)
                    kinds.append(kind)
            yield pd.DataFrame({"host": hosts, "loc": locs,
                                "lastmod": mods, "kind": kinds})

    return sitemaps.mapInPandas(
        kernel, schema="host string, loc string, lastmod string, kind string")


def recrawl_schedule(snapshots: DataFrame, url_col: str = "url",
                     ts_col: str = "warc_ts",
                     content_col: str = "text") -> DataFrame:
    """Change-rate estimation over crawl snapshots → re-crawl tiers
    (the Cho & Garcia-Molina refresh-policy primitive): per URL,
    ``change_rate`` = distinct-content transitions / re-crawl
    opportunities = (distinct digests - 1) / (snapshots - 1), and a tier —
    ``static`` (never changed), ``slow`` (rate < 0.5), ``fast``.
    Single-snapshot URLs have no evidence and land in ``static`` with
    rate 0.

    ONE keyed shuffle: content is digested to md5 map-side (the raw
    column never crosses the wire — at web scale that is the difference
    between shuffling 100 TB of html and 3 GB of hashes), then a groupBy
    with partial counts. Output: (url, n_snapshots, n_versions,
    change_rate, tier, last_ts)."""
    digested = snapshots.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("ts"),
        # NULL content (failed fetch) counts as its own empty version —
        # md5(NULL) would vanish from countDistinct and drive the rate
        # negative ((0-1)/(n-1)) with a bogus 'slow' tier
        F.md5(F.coalesce(F.col(content_col).cast("string"), F.lit("")))
        .alias("digest"))
    agg = (digested.groupBy("url")
           .agg(F.count("*").cast("long").alias("n_snapshots"),
                F.countDistinct("digest").cast("long").alias("n_versions"),
                F.max("ts").alias("last_ts")))
    rate = F.when(F.col("n_snapshots") > 1,
                  F.round((F.col("n_versions") - 1)
                          / (F.col("n_snapshots") - 1), 4)) \
        .otherwise(F.lit(0.0))
    return agg.select(
        "url", "n_snapshots", "n_versions",
        rate.alias("change_rate"),
        F.when(rate == 0.0, F.lit("static"))
         .when(rate < 0.5, F.lit("slow"))
         .otherwise(F.lit("fast")).alias("tier"),
        "last_ts")


def frontier_urls(links: DataFrame, crawled: DataFrame,
                  url_col: str = "url") -> DataFrame:
    """Crawl-frontier discovery: distinct link targets not yet crawled —
    ``links(src, dst)`` anti-joined against the crawled URL set. One
    distinct + one anti-join, both keyed on the full URL space (no skew
    concentration); this is the iteration step of a BFS crawler."""
    return (links.select(F.col("dst").alias(url_col)).distinct()
            .join(crawled.select(url_col), url_col, "left_anti"))


def latest_snapshot(df: DataFrame, key_col: str = "url",
                    ts_col: str = "warc_ts",
                    tiebreak_col: str | None = "html") -> DataFrame:
    """Recrawl dedup: keep exactly ONE row per ``key_col`` — the one with
    the greatest ``ts_col`` (the latest crawl snapshot of each URL). The
    Common-Crawl ingest primitive: N monthly crawls of the same corpus
    collapse to the freshest capture before any downstream stage runs.

    ONE keyed shuffle via groupBy + max_by with full map-side partial
    aggregation (beats a row_number window, which cannot combine
    map-side). Ties on ``ts_col`` (two captures in the same second) break
    deterministically on md5 of ``tiebreak_col`` so reruns and retried
    tasks pick the same winner. Key cardinality ~= corpus size, so no
    skew: every group has crawl-count-many rows.
    """
    order = [F.col(ts_col)]
    if tiebreak_col is not None:
        order.append(F.md5(F.col(tiebreak_col).cast("binary")))
    packed = F.struct(*[F.col(c) for c in df.columns])
    won = (df.groupBy(key_col)
             .agg(F.max_by(packed, F.struct(*order)).alias("_row")))
    return won.select(*[F.col(f"_row.{c}").alias(c) for c in df.columns])
