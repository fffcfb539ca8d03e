"""Web-scale KG-construction pipeline over Common-Crawl-style pages.

north_rule stages:
  1. pages(url, warc_ts, html, text, lang) → virtual rows (sources/html_extract)
  2. CSVW mapping rules → triples (this module) + mention detection /
     entity-link scoring against a broadcast entity dictionary
  3. canonicalization: MinHash-LSH blocking + connected components
     (operators/minhash.py, operators/components.py)
  4. materialize deduplicated triples into partitioned graph tables
     (sinks/graph_store.py)

All per-row logic runs inside Arrow-batched mapInPandas kernels (every
pages → rows stage through ``sources.html_extract.map_pages``); stages 1+2
fuse into ONE narrow pass over the pages table, entity linking included
(no shuffle until the canonicalization groupBy), which is what survives a
10^12-document scan: the cost is a single read of the html column + CPU,
embarrassingly parallel.
"""

from __future__ import annotations

import functools
import json
import re
from typing import Iterator, Optional
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .csvw.model import load_metadata
from .operators.triples import (TRIPLE_SCHEMA, TripleKernel,
                                compile_mapping)
from .session import ensure_package_on_executors
from .sources.html_extract import map_pages, page_pass, skolem

KG_MENTIONS = "https://kg.example.org/ontology#mentions"
KG_RELATED = "https://kg.example.org/ontology#relatedTo"

_IRI_RE = re.compile(r"^https?://")
_VOCAB_RE = re.compile(r"^(.*/)[^/]*$")

# compiled kernels kept per executor process, one per distinct (embedded
# metadata document, minimal) pair
_KERNEL_CACHE_SIZE = 256

# what parsing, loading, compiling and applying malformed embedded metadata
# raises: bad JSON, JSON values of the wrong type, a schema reference that
# is not fetched, a format that is not a regular expression
_BAD_META = (ValueError, TypeError, AttributeError, OSError, RecursionError,
             re.error)


def _no_fetch(url: str) -> str:
    raise FileNotFoundError(f"embedded page metadata cannot load {url}")


@functools.lru_cache(maxsize=_KERNEL_CACHE_SIZE)
def _kernel_for_meta(meta_json: str, minimal: bool) -> Optional[TripleKernel]:
    """The compiled kernel of one metadata document, or None if the document
    is malformed: the page then emits no table triples."""
    try:
        raw = json.loads(meta_json)
        table = load_metadata(raw, base=raw.get("url") or "http://page.invalid/",
                              resolver=_no_fetch)
        return TripleKernel(compile_mapping(table, minimal=minimal))
    except _BAD_META:
        return None


def _default_meta_json(default_meta: Optional[dict],
                       minimal: bool) -> Optional[str]:
    """The caller's fallback metadata as JSON. Unlike a page's own metadata
    it comes from the program, so if it does not load, the call fails."""
    if not default_meta:
        return None
    meta_json = json.dumps(default_meta)
    if _kernel_for_meta(meta_json, minimal) is None:
        raise ValueError("default_meta is not loadable CSVW metadata")
    return meta_json


def pages_to_triples(pages: DataFrame, minimal: bool = True,
                     default_meta: Optional[dict] = None,
                     header_rows: int = 1) -> DataFrame:
    """Stages 1+2 fused: html → virtual rows → triples, one Arrow pass.

    Per-page CSVW metadata comes from the embedded
    ``<script type="application/csvw+json">`` block (falling back to
    ``default_meta``); kernels are compiled once per distinct metadata
    document and reused across pages (cache hit ≈ always at web scale).
    """
    default_meta_json = _default_meta_json(default_meta, minimal)
    return map_pages(pages, TRIPLE_SCHEMA, lambda row, page: _emit_table_triples(
        page, row.url, default_meta_json, minimal, header_rows))


RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _emit_table_triples(page, url: str, default_meta_json: Optional[str],
                        minimal: bool, header_rows: int) -> list:
    """Shared per-page CSVW-table emission (single source of truth for the
    single-facet and fused kernels) → TRIPLE_SCHEMA tuples. Malformed
    metadata counts as absent: the page emits no table triples."""
    meta_json = page.csvw_meta or default_meta_json
    if meta_json is None:
        return []
    tk = _kernel_for_meta(meta_json, minimal)
    if tk is None:
        return []
    out: list = []
    try:
        for t in page.tables:
            for i, row in enumerate(t.rows):
                if i < header_rows:
                    continue
                tail = (url, i + 1)
                out += [tr + tail for tr in
                        tk.row_triples(row, i - header_rows + 1, i + 1, url=url)]
    except _BAD_META:
        return []
    return out


def _emit_microdata_triples(page, url: str) -> list:
    """Shared per-page microdata emission — mirrors the Column projection in
    :func:`microdata_to_triples` exactly (pred vocab resolution, skolem ids,
    per-(item,type,url) dedup == the projection's distinct, and NULL
    obj_is_iri for a NULL value, matching ``rlike`` null semantics).
    Multiset parity between this and the projection path is CI-tested."""
    out: list = []
    seen_types: set[tuple] = set()
    for item in page.microdata:
        iid = item.item_id
        if iid.startswith("_:"):
            iid = skolem(url, "md", iid)
        m = _VOCAB_RE.match(item.itemtype or "")
        vocab = m.group(1) if m else ""
        for prop, value in item.props:
            pred = prop if _IRI_RE.match(prop) else (vocab or url + "#") + prop
            out.append((iid, pred, value,
                        None if value is None else bool(_IRI_RE.match(value)),
                        None, None, url, 0))
        if item.itemtype and (iid, item.itemtype) not in seen_types:
            seen_types.add((iid, item.itemtype))
            out.append((iid, RDF_TYPE, item.itemtype, True, None, None, url, 0))
    return out


def _emit_jsonld_triples(page, url: str) -> list:
    """Shared per-page JSON-LD emission — same expansion as
    :func:`pages_to_jsonld_triples` (sources/jsonld.expand_jsonld), with
    ``source_num`` = block index offset by -1..: blocks use negative
    source_nums (-1, -2, ...) so they never collide with table source rows
    or the microdata 0 sentinel."""
    from .sources.jsonld import expand_jsonld
    out: list = []
    for i, block in enumerate(page.jsonld):
        tail = (url, -(i + 1))
        out += [t + tail for t in expand_jsonld(block, url)]
    return out


def _emit_rdfa_triples(page, url: str) -> list:
    """Shared per-page RDFa-lite emission — same subject resolution and
    IRI detection as :func:`rdfa_to_triples` (set-parity CI-tested);
    ``source_num`` 0 like the microdata facet."""
    out: list = []
    seen_types = set()
    for item in page.rdfa:
        subj = item.subject
        if subj.startswith("_:"):
            subj = skolem(url, "ra", subj)
        elif subj.startswith("#"):
            subj = url + subj
        for prop, value in item.props:
            out.append((subj, prop, value, bool(_IRI_RE.match(value)),
                        None, None, url, 0))
        for t in item.types.split():
            if (subj, t) in seen_types:
                continue
            seen_types.add((subj, t))
            out.append((subj, RDF_TYPE, t, True, None, None, url, 0))
    return out


def pages_to_combined_triples(pages: DataFrame, minimal: bool = True,
                              default_meta: Optional[dict] = None,
                              header_rows: int = 1,
                              respect_noindex: bool = False) -> DataFrame:
    """Stages 1+1b+1d+1e+2 in ONE Arrow pass: each page's HTML is parsed
    ONCE and the CSVW-table triples, the microdata triples, the embedded
    JSON-LD triples, and the RDFa-lite triples are all emitted from the
    same ``extract_page`` result — the four ``_emit_*_triples`` emitters
    over one :func:`~.sources.html_extract.map_pages` pass.

    This is the extraction stage of both :func:`web_pipeline` and the
    streaming ``stream_pages_to_store``. The single-facet operators
    (:func:`pages_to_triples`, :func:`pages_to_jsonld_triples`, and the
    Column projections :func:`microdata_to_triples` and
    :func:`rdfa_to_triples`) remain the oracle-checked references, and
    set-parity between the two paths is CI-tested
    (test_web_pipeline.test_combined_parity). The in-kernel per-page type
    dedup is equivalent to the projection's distinct over
    (item_id, itemtype, url): skolemized item ids are url-scoped and the
    distinct includes the url.

    ``respect_noindex=True`` drops every page whose ``<meta name="robots">``
    says ``noindex``, inside the same parse: a pre-filter would cost a
    second full parse pass and a semi-join."""
    default_meta_json = _default_meta_json(default_meta, minimal)

    def emit(row, page):
        if respect_noindex and _page_noindex(page):
            return []
        url = row.url
        return [*_emit_table_triples(page, url, default_meta_json, minimal,
                                     header_rows),
                *_emit_microdata_triples(page, url),
                *_emit_jsonld_triples(page, url),
                *_emit_rdfa_triples(page, url)]

    return map_pages(pages, TRIPLE_SCHEMA, emit)


def microdata_to_triples(pages: DataFrame) -> DataFrame:
    """Stage 1b: schema.org microdata items → triples.

    Property IRIs resolve against the item's vocabulary (itemtype base, e.g.
    http://schema.org/), itemtype becomes an rdf:type triple, and values that
    look like IRIs stay IRIs. Narrow: extraction is the same Arrow kernel as
    the table path (sources/html_extract.pages_to_microdata), this is a pure
    projection on top.
    """
    from .sources.html_extract import pages_to_microdata
    md = pages_to_microdata(pages)
    vocab = F.regexp_extract("itemtype", r"^(.*/)[^/]*$", 1)
    pred = F.when(F.col("prop").rlike("^https?://"), F.col("prop")) \
        .otherwise(F.concat(F.when(vocab == "", F.concat(F.col("url"), F.lit("#")))
                            .otherwise(vocab), F.col("prop")))
    obj_is_iri = F.col("value").rlike("^https?://")
    props = md.select(
        F.col("item_id").alias("subj"), pred.alias("pred"),
        F.col("value").alias("obj"), obj_is_iri.alias("obj_is_iri"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.col("url").alias("table_url"),
        F.lit(0).cast("long").alias("source_num"))
    types = (md.filter(F.col("itemtype") != "")
             .select("item_id", "itemtype", "url").distinct()
             .select(F.col("item_id").alias("subj"),
                     F.lit(RDF_TYPE).alias("pred"),
                     F.col("itemtype").alias("obj"),
                     F.lit(True).alias("obj_is_iri"),
                     F.lit(None).cast("string").alias("obj_datatype"),
                     F.lit(None).cast("string").alias("obj_lang"),
                     F.col("url").alias("table_url"),
                     F.lit(0).cast("long").alias("source_num")))
    return props.unionByName(types)


def rdfa_to_triples(pages: DataFrame) -> DataFrame:
    """Stage 1d: RDFa-lite scopes → triples (the fourth structured-data
    facet next to tables, microdata, and JSON-LD).

    Predicates and types arrive already vocab/prefix-expanded from the
    parser; here fragment subjects (``#x``) resolve against the page url,
    each typeof token becomes one rdf:type triple, and values that look
    like IRIs stay IRIs.  Pure projection over the Arrow kernel
    (sources/html_extract.pages_to_rdfa) — same narrow discipline as
    :func:`microdata_to_triples`.
    """
    from .sources.html_extract import pages_to_rdfa
    rd = pages_to_rdfa(pages)
    subj = F.when(F.col("subject").startswith("#"),
                  F.concat(F.col("url"), F.col("subject"))) \
        .otherwise(F.col("subject"))
    obj_is_iri = F.col("value").rlike("^https?://")
    props = rd.filter(F.col("prop").isNotNull()).select(
        subj.alias("subj"), F.col("prop").alias("pred"),
        F.col("value").alias("obj"), obj_is_iri.alias("obj_is_iri"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.col("url").alias("table_url"),
        F.lit(0).cast("long").alias("source_num"))
    types = (rd.filter(F.col("typeof") != "")
             .select(subj.alias("subj"),
                     F.explode(F.split("typeof", " ")).alias("obj"), "url")
             .distinct()
             .select("subj", F.lit(RDF_TYPE).alias("pred"), "obj",
                     F.lit(True).alias("obj_is_iri"),
                     F.lit(None).cast("string").alias("obj_datatype"),
                     F.lit(None).cast("string").alias("obj_lang"),
                     F.col("url").alias("table_url"),
                     F.lit(0).cast("long").alias("source_num")))
    return props.unionByName(types)


class EntityScorer:
    """Mention detection + link scoring against an entity dictionary
    (surface → entity IRI): an exact surface match scores 1.0, otherwise
    the best token-set Jaccard among the surfaces that share a token with
    the literal, kept at ``min_score`` or above. The token inverted index
    is built once per scorer, i.e. once per task."""

    def __init__(self, entities: dict[str, str], min_score: float = 0.5):
        self.entities = entities
        self.min_score = min_score
        self.tokens = {s: frozenset(s.lower().split()) for s in entities}
        self.index: dict[str, list[str]] = {}
        for surface, toks in self.tokens.items():
            for t in toks:
                self.index.setdefault(t, []).append(surface)

    def link(self, obj: str) -> Optional[str]:
        """The entity IRI a literal mentions, or None."""
        iri = self.entities.get(obj)
        if iri is not None:
            return iri
        otoks = frozenset(obj.lower().split())
        best, best_s = None, 0.0
        for c in {c for t in otoks for c in self.index.get(t, ())}:
            ct = self.tokens[c]
            s = len(otoks & ct) / len(otoks | ct)
            if s > best_s:
                best, best_s = c, s
        return self.entities[best] if best is not None \
            and best_s >= self.min_score else None

    def mentions(self, triples) -> list[tuple]:
        """The ``kg:mentions`` triples of the literal triples among
        ``triples`` (TRIPLE_SCHEMA tuples), each keeping its literal's
        ``table_url`` and ``source_num``."""
        out = []
        for subj, _, obj, is_iri, _, _, turl, snum in triples:
            if is_iri is None or is_iri or obj is None:
                continue
            iri = self.link(obj)
            if iri is not None:
                out.append((subj, KG_MENTIONS, iri, True, None, None, turl,
                            int(snum)))
        return out


def link_entities(triples: DataFrame, entity_dict: dict[str, str],
                  min_score: float = 0.5, keep_input: bool = False) -> DataFrame:
    """Stage 2b: mention detection + link scoring against a broadcast
    entity dictionary → (subj, kg:mentions, entity_iri) triples.

    The dictionary ships once per executor via broadcast (north_rule:
    "batched mention detection and entity-link scoring against a broadcast
    entity dictionary"); scoring is :class:`EntityScorer`'s token-set
    Jaccard with an exact-match fast path, vectorized over Arrow batches.
    Narrow — no shuffle.

    ``keep_input`` → input ∪ mentions, in one pass over the input. When the
    input is a page pass exactly as ``map_pages`` returned it (the
    pipeline's extraction, :func:`pages_to_combined_triples`), linking runs
    inside that pass: each page's emitter appends the mentions of its own
    triples, so the plan keeps one Python node over the page scan. Any
    other input streams through this kernel, each Arrow batch ahead of its
    mentions. Either way nothing is persisted or read twice, and no union
    is planned.
    """
    spark = triples.sparkSession
    ensure_package_on_executors(spark)
    bc = spark.sparkContext.broadcast(entity_dict)

    fused = page_pass(triples) if keep_input else None
    if fused is not None:
        pages, schema, emit = fused
        scorer = None

        def linked(row, page):
            nonlocal scorer
            if scorer is None:  # once per task
                scorer = EntityScorer(bc.value, min_score)
            out = list(emit(row, page))
            return out + scorer.mentions(out)
        return map_pages(pages, schema, linked)

    cols = TRIPLE_SCHEMA.fieldNames()
    literals = (triples.select(*cols) if keep_input else
                triples.filter(~F.col("obj_is_iri") & F.col("obj").isNotNull()))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        scorer = EntityScorer(bc.value, min_score)
        for pdf in batches:
            if keep_input:
                yield pdf
            yield pd.DataFrame(scorer.mentions(
                pdf[cols].itertuples(index=False, name=None)), columns=cols)

    # NB: no dropDuplicates here — dedup happens once, at materialization
    # (stage 4), so the only shuffles in the whole pipeline are the
    # canonicalization groupBys and the final dedup.
    return literals.mapInPandas(kernel, schema=TRIPLE_SCHEMA)


def link_entities_distributed(triples: DataFrame,
                              entities: DataFrame) -> DataFrame:
    """Stage 2b scale tier: entity dictionary as a DataFrame
    (surface: string, iri: string) instead of a driver broadcast dict —
    for dictionaries too large to broadcast (100M+ entities).

    Exact-surface tier only: one equi-join, which Catalyst broadcasts when
    the dictionary is small and shuffles (AQE skew-handled) when it is not.
    The fuzzy tier at this scale becomes MinHash blocking over surfaces —
    the same operators/minhash.py machinery as canonicalization.
    """
    literals = triples.filter(~F.col("obj_is_iri") & F.col("obj").isNotNull())
    hit = literals.join(entities, literals.obj == entities.surface)
    return hit.select(
        "subj", F.lit(KG_MENTIONS).alias("pred"),
        F.col("iri").alias("obj"), F.lit(True).alias("obj_is_iri"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
        "table_url", "source_num")


LINKS_SCHEMA = "src string, dst string"


def _robots_directives(page) -> set:
    robots = next((v for k, v in page.meta if k == "robots"), "")
    return {d.strip().lower() for d in robots.split(",") if d.strip()}


def _page_nofollow(page) -> bool:
    return "nofollow" in _robots_directives(page)


def _page_noindex(page) -> bool:
    return "noindex" in _robots_directives(page)


def pages_to_links(pages: DataFrame,
                   respect_nofollow: bool = False) -> DataFrame:
    """Stage 1c: hyperlink graph extraction — ``<a href>`` targets resolved
    against the page URL → ``(src, dst)`` edges (the Common-Crawl link
    graph, the input to host-level PageRank / centrality).

    Same single-parse Arrow kernel family as table/microdata extraction
    (html_extract collects hrefs in the one pass both front-ends share);
    relative hrefs resolve via RFC 3986 urljoin. Narrow — no shuffle;
    dedup/aggregation is the consumer's choice.

    ``respect_nofollow=True`` drops every edge whose SOURCE page declares
    ``<meta name="robots" content="...nofollow...">`` — the page-level
    crawler-compliance contract — inside the same parse (no extra scan,
    no join against the head-meta table).
    """
    def emit(row, page):
        if respect_nofollow and _page_nofollow(page):
            return []
        return [(row.url, urljoin(row.url, href)) for href in page.links]

    return map_pages(pages, LINKS_SCHEMA, emit)


ANCHORS_SCHEMA = "src string, dst string, anchor string"


def pages_to_anchors(pages: DataFrame) -> DataFrame:
    """Stage 1c variant keeping the visible anchor text per ``<a href>`` —
    ``(src, dst, anchor)``. Anchor text is the classic external naming
    signal for entity canonicalization (how OTHER pages refer to a target),
    aggregated downstream per dst. Same single-parse kernel, narrow, no
    shuffle; unclosed anchors (no text boundary) are skipped, matching
    PageContent.anchors semantics."""
    return map_pages(pages, ANCHORS_SCHEMA, lambda row, page: [
        (row.url, urljoin(row.url, href), text) for href, text in page.anchors])


def anchor_labels(anchors: DataFrame, min_refs: int = 1) -> DataFrame:
    """Stage 2d: aggregated anchor text → ``rdfs:label`` triples — the
    web's external naming signal (how OTHER pages call a target) promoted
    into the KG. Per dst the majority anchor wins (count desc, anchor asc
    tie-break); empty anchors are ignored.

    Shape: one groupBy (dst, anchor) with map-side partial counts, then a
    per-dst row_number window — partition key is the full URL space, so
    the window never concentrates; both exchanges hash on dst."""
    from pyspark.sql import Window

    counted = (anchors.where(F.col("anchor") != "")
               .groupBy("dst", "anchor")
               .agg(F.count("*").alias("n_refs")))
    w = Window.partitionBy("dst").orderBy(F.desc("n_refs"), "anchor")
    best = (counted.withColumn("rn", F.row_number().over(w))
            .where((F.col("rn") == 1) & (F.col("n_refs") >= min_refs)))
    return best.select(
        F.col("dst").alias("subj"),
        F.lit("http://www.w3.org/2000/01/rdf-schema#label").alias("pred"),
        F.col("anchor").alias("obj"))


def pages_to_jsonld_triples(pages: DataFrame) -> DataFrame:
    """Stage 1d: embedded JSON-LD (``<script type="application/ld+json">``,
    the dominant structured-data carrier on the real web) → triples.

    The shared page parser captures script bodies in the same single pass
    as tables / microdata / links; ``sources.jsonld.expand_jsonld`` walks
    each block with JSON-LD-subset semantics mirroring the reference's
    common-property expansion (metadata.rb:806-839) — @context vocab /
    prefixes / @language, @graph, @id resolution against the page URL,
    @type, nested nodes as deterministic per-page bnodes, @value objects,
    xsd-typed scalars. Malformed blocks emit nothing (crawl robustness).

    Narrow Arrow stage, no shuffle; output is TRIPLE_SCHEMA with
    ``table_url`` = page url and ``source_num`` = negative block index
    (-1, -2, ... — never colliding with table source rows or the
    microdata 0 sentinel, and identical to the fused kernel's numbering),
    so the store / canonicalization stages downstream are shared verbatim.
    """
    return map_pages(pages, TRIPLE_SCHEMA,
                     lambda row, page: _emit_jsonld_triples(page, row.url))


HEAD_META_SCHEMA = ("url string, title string, canonical string, "
                    "noindex boolean, nofollow boolean")


def pages_to_head_meta(pages: DataFrame) -> DataFrame:
    """Stage 1e: head metadata per page — ``(url, title, canonical,
    noindex, nofollow)``.

    ``canonical`` is the ``<link rel="canonical" href>`` target resolved
    RFC 3986-style against the page URL (NULL when the page declares
    none); ``noindex``/``nofollow`` come from the ``<meta name="robots">``
    directive list (comma-separated, case-insensitive — the de-facto
    crawler contract). Canonical-URL grouping is the FIRST dedup tier of
    a real crawl (publisher-declared duplicates, zero similarity compute)
    and robots directives are the first curation gate; both need only
    this narrow single-parse stage — no shuffle.
    """
    def emit(row, page):
        directives = _robots_directives(page)
        return [(row.url, page.title,
                 urljoin(row.url, page.canonical) if page.canonical else None,
                 "noindex" in directives, "nofollow" in directives)]

    return map_pages(pages, HEAD_META_SCHEMA, emit)


OG_NS = "https://ogp.me/ns#"


def pages_to_og_triples(pages: DataFrame) -> DataFrame:
    """Stage 1f: OpenGraph metadata (RDFa-lite ``<meta property="og:*"
    content>``, the third major structured-data carrier after JSON-LD and
    microdata) → triples: ``(page-url, https://ogp.me/ns#<local>,
    content)`` literals.

    Same single-parse capture list as the robots/description metas; the
    subject is the page URL itself (OpenGraph describes the page). Narrow
    Arrow stage, TRIPLE_SCHEMA output, ``source_num`` = position within
    the page's og tags."""
    def emit(row, page):
        og = [(k, v) for k, v in page.meta if k.startswith("og:")]
        return [(row.url, OG_NS + k[3:], v, False, None, None, row.url, n)
                for n, (k, v) in enumerate(og, 1)]

    return map_pages(pages, TRIPLE_SCHEMA, emit)


def canonical_groups(head_meta: DataFrame) -> DataFrame:
    """Publisher-declared dedup: pages grouped by their effective canonical
    URL (declared target, else self) → ``(canonical, n_pages,
    representative)``. One keyed shuffle with map-side partial aggs; the
    representative is the canonical member itself when crawled, else the
    lexical-min member (deterministic under retries)."""
    eff = head_meta.select(
        F.coalesce("canonical", "url").alias("canonical"), "url")
    return (eff.groupBy("canonical")
            .agg(F.count("*").cast("long").alias("n_pages"),
                 F.min(F.when(F.col("url") == F.col("canonical"),
                              F.col("url"))).alias("self_member"),
                 F.min("url").alias("min_member"))
            .select("canonical", "n_pages",
                    F.coalesce("self_member", "min_member")
                    .alias("representative")))


def host_link_graph(links: DataFrame) -> DataFrame:
    """Aggregate page-level edges to the host graph →
    ``(src_host, dst_host, n_links)`` — one shuffle on the host pair with
    map-side partial counts; self-loops (intra-host navigation) kept, the
    consumer filters. Host extraction is a JVM-side regexp."""
    host = r"^[a-z][a-z0-9+.-]*://([^/?#]+)"
    return (links
            .select(F.regexp_extract("src", host, 1).alias("src_host"),
                    F.regexp_extract("dst", host, 1).alias("dst_host"))
            .groupBy("src_host", "dst_host")
            .agg(F.count("*").cast("long").alias("n_links")))


def comention_pmi(docs: DataFrame, entities: list[str],
                  id_col: str = "doc_id", text_col: str = "text",
                  min_pairs: int = 2) -> DataFrame:
    """Stage 2c relation mining: entities co-mentioned in one document are
    candidate relation edges, scored by pointwise mutual information →
    ``(ent_a, ent_b, n_ab, pmi)`` with ``pmi = ln(n_ab·N / (n_a·n_b))``.

    Scale design: mention detection is a narrow explode+isin against the
    vocabulary-sized dictionary (no join), ONE distinct shuffle on
    ``(doc, ent)``, and pair generation is a *doc-keyed* self-join — the
    fan-out per document is bounded by mentions-per-doc², never corpus-wide.
    Entity marginals are vocabulary-sized and broadcast onto the pair
    aggregate. ``min_pairs`` prunes the long noise tail before the joins.
    """
    ments = (docs.select(F.col(id_col).alias("doc"),
                         F.explode(F.split(F.trim(F.col(text_col)), r"\s+"))
                         .alias("ent"))
             .filter(F.col("ent").isin(list(entities)))
             .distinct())
    n_docs = docs.count()
    marg = ments.groupBy("ent").agg(F.count("*").alias("n"))
    left = ments.select("doc", F.col("ent").alias("ent_a"))
    right = ments.select("doc", F.col("ent").alias("ent_b"))
    pairs = (left.join(right, "doc")
             .filter(F.col("ent_a") < F.col("ent_b"))
             .groupBy("ent_a", "ent_b").agg(F.count("*").alias("n_ab"))
             .filter(F.col("n_ab") >= min_pairs))
    ma = F.broadcast(marg.select(F.col("ent").alias("ent_a"),
                                 F.col("n").alias("n_a")))
    mb = F.broadcast(marg.select(F.col("ent").alias("ent_b"),
                                 F.col("n").alias("n_b")))
    pmi = F.round(F.log((F.col("n_ab").cast("double") * F.lit(float(n_docs)))
                        / (F.col("n_a").cast("double")
                           * F.col("n_b").cast("double"))), 4)
    return (pairs.join(ma, "ent_a").join(mb, "ent_b")
            .select("ent_a", "ent_b", "n_ab", pmi.alias("pmi")))


def comention_triples(docs: DataFrame, entities: dict[str, str],
                      min_pmi: float = 0.0, min_pairs: int = 2,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Materialize positive-PMI co-mention edges as KG triples
    ``(entity_iri_a, kg:relatedTo, entity_iri_b)`` — the corpus-statistics
    enrichment layer on top of stage 2's per-page mention triples."""
    scored = comention_pmi(docs, list(entities), id_col, text_col, min_pairs)
    iri = F.create_map(*[F.lit(x) for kv in entities.items() for x in kv])
    return (scored.filter(F.col("pmi") >= min_pmi)
            .select(iri[F.col("ent_a")].alias("subj"),
                    F.lit(KG_RELATED).alias("pred"),
                    iri[F.col("ent_b")].alias("obj"),
                    F.lit(True).alias("obj_is_iri"),
                    F.lit(None).cast("string").alias("obj_datatype"),
                    F.lit(None).cast("string").alias("obj_lang"),
                    F.lit(None).cast("string").alias("table_url"),
                    F.lit(None).cast("long").alias("source_num")))


def _local_name(col):
    """IRI → page-agnostic local name (after last '#' or '/')."""
    return F.element_at(F.split(F.element_at(F.split(col, "#"), -1), "/"), -1)


def subject_profiles(triples: DataFrame) -> DataFrame:
    """Stage 3a: per-subject content profile for similarity blocking.

    Tokens are local-name(pred)=obj so that the same logical record extracted
    from two different page URLs (different absolute pred/subj IRIs) yields
    near-identical profiles. One groupBy shuffle on subj.
    """
    toks = (triples
            .filter(~F.col("obj_is_iri"))
            .select("subj", F.concat_ws("=", _local_name(F.col("pred")), F.col("obj")).alias("tok")))
    return (toks.groupBy("subj")
            .agg(F.concat_ws("|", F.array_sort(F.collect_list("tok"))).alias("profile")))


class _CheckpointRelease:
    """``releases`` entry for a localCheckpointed DataFrame:
    ``DataFrame.unpersist`` only drops cache-manager entries, so this
    unpersists the checkpointed RDD itself."""

    def __init__(self, df: DataFrame):
        self._rdd = df._jdf.queryExecution().analyzed().rdd()

    def unpersist(self) -> None:
        self._rdd.unpersist(False)


def canonicalize_subjects(triples: DataFrame, num_perm: int = 64,
                          num_bands: int = 8, threshold: float = 0.9,
                          max_bucket: int = 500,
                          releases: list | None = None,
                          min_band_matches: int = 2):
    """Stage 3: MinHash-LSH blocking + connected components → canonical ids.

    → (rewritten_triples, mapping(id, canonical_id)). Canonical id = lexical
    min of the cluster (deterministic). Only clustered subjects enter the
    mapping, so the rewrite is a broadcast join against the full stream.

    The mapping is materialized eagerly (localCheckpoint — it is tiny: only
    clustered subjects), so the one persist upstream of it (``member_map``,
    the profiles tagged with their representative) is released before
    returning. The two persists that must outlive the call — ``triples``,
    scanned again by the caller's terminal action over the rewrite, and the
    mapping's checkpoint — are appended to ``releases`` for the caller to
    unpersist (long-lived drivers would otherwise accumulate storage memory
    across batches); with ``releases=None`` both are left cached.

    The near-dup tier is :func:`~.operators.minhash.signature_similarity_edges`:
    one bucket pass that forms and verifies the pairs inside each LSH
    bucket. Its rep → canonical map comes back from
    :func:`~.operators.components.canonical_mapping` as a LocalRelation at
    crawl-batch size, so the member join broadcasts it instead of
    shuffling ``member_map``. That map's edge collect is the first action
    over ``triples``: it runs the extraction and fills the triples' cache.
    """
    from .operators.components import canonical_mapping, rewrite_triples
    from .operators.minhash import minhash_signatures, signature_similarity_edges

    # Persist at every DAG-reuse boundary: ``triples`` feeds both the profile
    # aggregation and the final rewrite join — without the persist the whole
    # pages→triples extraction would run twice; ``member_map`` feeds the
    # signatures and the member join. The signatures feed only the one LSH
    # bucket pass, so they are not persisted. Both persists are small
    # relative to the corpus (triples are post-extraction).
    from pyspark.sql.window import Window

    triples = triples.persist()
    if releases is not None:
        releases.append(triples)

    # Exact-first cascade: a web corpus is dominated by page-level duplicates
    # whose subjects have IDENTICAL profiles. Feeding those to LSH makes every
    # band bucket quadratic in the duplicate count (k identical signatures →
    # k²/2 candidate pairs × bands — the blowup that stalls the stage at
    # scale). One window pass tags every subject with its group's min-subject
    # representative (the identical-profile group IS a connected component —
    # no pairwise edges needed), and MinHash-LSH runs only over DISTINCT
    # profiles (the rep rows), where near-dup buckets are genuinely small.
    # A window (ONE shuffle of the profiles table) replaces the former
    # groupBy + re-join on the profile string (two shuffles, the long
    # profile strings crossing the wire twice — measured 1.9s → 0.2s at
    # 148k subjects, and the saving is a full shuffle of the corpus at
    # scale).
    member_map = (subject_profiles(triples)
                  .withColumn("rep", F.min("subj").over(
                      Window.partitionBy("profile")))
                  .persist())
    reps = (member_map.filter(F.col("subj") == F.col("rep"))
            .select("subj", "profile"))

    sigs = minhash_signatures(reps, "subj", "profile", num_perm=num_perm,
                              token_sep="|")
    try:
        # min_band_matches default 2: web-corpus profiles draw from small
        # vocabularies, so single-band collisions between genuinely
        # different records dominate the candidate set (measured: 3M pairs
        # for 1.3k true edges at 20k pages, when verification joined 64-long
        # sig arrays per pair — 60 s of a 78 s stage).
        # Requiring 2 of 8 matching bands keeps recall ≥0.93 at the 0.9
        # threshold and cuts candidates ~50x. Recall-sensitive callers can
        # pass min_band_matches=1 to restore exhaustive banding (~8% more
        # recall at J=0.9, at the measured candidate-set cost above).
        edges = signature_similarity_edges(sigs, num_bands=num_bands,
                                           threshold=threshold,
                                           max_bucket=max_bucket,
                                           min_band_matches=min_band_matches)
        rep_mapping = canonical_mapping(edges)  # rep → canonical (near-dup tier)
        mapping = (member_map
                   .join(rep_mapping, member_map.rep == rep_mapping.id, "left")
                   .select(F.col("subj").alias("id"),
                           F.coalesce("canonical_id", "rep").alias("canonical_id"))
                   .filter(F.col("id") != F.col("canonical_id")))
        # materialize the (tiny) mapping now so everything upstream of it can
        # be dropped from storage before this function returns
        mapping = mapping.localCheckpoint(eager=True)
        if releases is not None:
            releases.append(_CheckpointRelease(mapping))
    finally:
        member_map.unpersist()
    return rewrite_triples(triples, mapping), mapping


def web_pipeline(spark: SparkSession, pages: DataFrame, out_root: str,
                 batch_id: str, entity_dict: Optional[dict[str, str]] = None,
                 canonicalize: bool = True, default_meta: Optional[dict] = None,
                 incremental_canonical: bool = False,
                 respect_noindex: bool = False) -> dict:
    """Full stage 1→4 run over a pages batch; returns the commit manifest.

    Stages 1+2 are the fused kernel :func:`pages_to_combined_triples`:
    tables, microdata, JSON-LD and RDFa from one parse of each page, the
    same extraction ``stream_pages_to_store`` runs per micro-batch. With
    ``entity_dict``, :func:`link_entities` (``keep_input=True``) links
    inside that pass: each page's ``kg:mentions`` triples are appended to
    its own, and nothing is persisted or read twice before
    canonicalization.
    ``respect_noindex`` drops robots-noindex pages inside that parse.

    With ``canonicalize``, the store write is sized
    (``pred_buckets=sized_pred_buckets(count)``) from a count of the
    triples :func:`canonicalize_subjects` has cached, so ``materialize``
    persists and counts nothing of its own.

    ``incremental_canonical``: subject identity becomes GLOBAL across
    batches — each batch's local mapping is union-find-merged into the
    store's persistent canonical map (snapshot-swapped parquet,
    ``graph_store.save_canonical_map``) and the batch's triples are
    rewritten with the MERGED map before materializing, so a duplicate
    first seen in batch 1 canonicalizes batch 9's subjects too (A~B in
    batch 1 + B~C in batch 2 ⇒ C→A, though no batch saw A with C).
    Already-materialized batches keep their committed ids; the map is the
    query-time source of truth, and an offline compaction can rewrite old
    batches — the Iceberg maintenance-job split.
    """
    from .sinks.graph_store import (materialize, processed_batches,
                                    sized_pred_buckets)
    if batch_id in processed_batches(out_root):
        return materialize(pages.limit(0).sparkSession.createDataFrame([], TRIPLE_SCHEMA),
                           out_root, batch_id)  # no-op resume hit
    if incremental_canonical and not canonicalize:
        raise ValueError(
            "incremental_canonical requires canonicalize=True — the global "
            "map can only grow from a batch that was canonicalized")
    held: list = []
    triples = pages_to_combined_triples(pages, default_meta=default_meta,
                                        respect_noindex=respect_noindex)
    if entity_dict:
        triples = link_entities(triples, entity_dict, keep_input=True)
    pred_buckets = None
    pending_map_commit = False
    if canonicalize:
        extracted = triples
        triples, mapping = canonicalize_subjects(extracted, releases=held)
        # canonicalize_subjects left the extracted triples cached: counting
        # them reads memory, not pages
        pred_buckets = sized_pred_buckets(extracted.count())
        if incremental_canonical:
            from .operators.components import merge_mappings, rewrite_triples
            from .sinks.graph_store import (load_canonical_map,
                                            write_canonical_map_version)
            old = load_canonical_map(spark, out_root)
            merged = mapping if old is None else merge_mappings([old, mapping])
            # write the map version now, commit its CURRENT pointer only
            # AFTER materialize commits the batch — a crash in between must
            # not leave the global map referencing a batch that never landed
            path = write_canonical_map_version(merged, out_root, batch_id)
            pending_map_commit = True
            if old is not None:
                # batch-local canonicals that joined a pre-existing cluster
                # map on to the global canonical: one more broadcast rewrite,
                # reading the map back from its snapshot (truncates lineage)
                triples = rewrite_triples(triples,
                                          spark.read.parquet(path))
    lineage = {"source": "pages", "n_pages": None, "batch_id": batch_id,
               "stages": ["extract+map", "link" if entity_dict else None,
                          ("canonicalize-incremental" if incremental_canonical
                           else "canonicalize") if canonicalize else None,
                          "materialize"]}
    try:
        manifest = materialize(triples, out_root, batch_id, lineage=lineage,
                               pred_buckets=pred_buckets)
        if pending_map_commit:
            from .sinks.graph_store import commit_canonical_map
            commit_canonical_map(out_root, batch_id)
        return manifest
    finally:
        # free per-batch caches so storage memory stays flat across batches
        for df in held:
            df.unpersist()


def disambiguate_mentions(docs: DataFrame, candidates: DataFrame,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Stage 2c: context-scored entity disambiguation → one
    ``(doc, surface, entity, score, n_candidates)`` row per detected
    mention.

    ``link_entities`` resolves a surface against ONE dictionary entry;
    real dictionaries are ambiguous ("jaguar" → car ∨ cat).  The classic
    fix (Mihalcea & Csomai 2007 wikify-style) scores each candidate by
    overlap between the document's tokens and the candidate's CONTEXT
    bag (e.g. neighbor labels from the KG), then argmaxes per mention —
    deterministic tie-break on the entity IRI so reruns publish the same
    links.

    Scale shape: ``candidates`` (surface, entity, context) is
    dictionary-sized → broadcast; the containment join fans each doc out
    only by its matching surfaces' candidate counts; scoring is one
    ``array_intersect`` Column expression (distinct-token semantics, the
    cross-engine-stable choice); the argmax is one window keyed on
    (doc, surface).  One keyed shuffle total.
    """
    d = docs.select(F.col(id_col).alias("doc"),
                    F.split(F.lower(F.col(text_col)), r"\s+").alias("dtoks"),
                    F.lower(F.col(text_col)).alias("ltext"))
    c = candidates.select(F.lower(F.col("surface")).alias("surface"),
                          "entity",
                          F.split(F.lower(F.col("context")), r"\s+")
                          .alias("ctoks"))
    scored = (d.join(F.broadcast(c),
                     F.col("ltext").contains(F.col("surface")))
              .select("doc", "surface", "entity",
                      F.round(F.size(F.array_intersect("dtoks", "ctoks"))
                              .cast("double") / F.size("ctoks"), 6)
                      .alias("score")))
    w = Window.partitionBy("doc", "surface")
    ranked = scored.select(
        "doc", "surface", "entity", "score",
        F.row_number().over(w.orderBy(F.col("score").desc(),
                                      F.col("entity").asc())).alias("_rn"),
        F.count("*").over(w).alias("n_candidates"))
    return (ranked.where(F.col("_rn") == 1)
            .select(F.col("doc").alias(id_col), "surface", "entity",
                    "score", F.col("n_candidates").cast("long")
                    .alias("n_candidates")))


def disambiguate_sql(docs_sql: str, candidates_sql: str,
                     text_expr: str = "text",
                     id_expr: str = "doc_id") -> str:
    """DuckDB oracle for :func:`disambiguate_mentions` — list_intersect
    carries the same distinct-element semantics as array_intersect."""
    return f"""
with d as (select {id_expr} as doc,
                  string_split_regex(lower({text_expr}), '\\s+') as dtoks,
                  lower({text_expr}) as ltext
           from ({docs_sql})),
c as (select lower(surface) as surface, entity,
             string_split_regex(lower(context), '\\s+') as ctoks
      from ({candidates_sql})),
scored as (
  select doc, surface, entity,
         round(len(list_intersect(list_distinct(dtoks),
                                  list_distinct(ctoks)))::double
               / len(ctoks), 6) as score
  from d join c on contains(ltext, surface)),
ranked as (
  select doc, surface, entity, score,
         row_number() over (partition by doc, surface
                            order by score desc, entity asc) as rn,
         count(*) over (partition by doc, surface) as n_candidates
  from scored)
select doc as doc_id, surface, entity, score,
       n_candidates::bigint as n_candidates
from ranked where rn = 1
"""
