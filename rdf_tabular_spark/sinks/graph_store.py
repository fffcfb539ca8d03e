"""Stage 4: partitioned graph materialization + checkpoint/lineage manifests.

north_rule: "materializes deduplicated (subj, pred, obj) triples into
partitioned Iceberg graph tables ... resumable from checkpoint with
per-partition lineage + metrics". No Iceberg runtime jar ships in this
container, so the store is parquet-dir + JSON manifest with Iceberg-like
semantics (atomic snapshot commit via manifest rename, partition pruning via
pred_bucket/subj_bucket columns). The physical layer — manifest IO + file
layout — is isolated behind the :mod:`.physical` StorageLayout seam (r5):
``set_layout(IcebergLayout(...))`` is the integration point on a cluster
with the Iceberg runtime; physical.py's docstring carries the full
concept-to-Iceberg mapping (manifest↔snapshot, retraction↔equality-delete,
compact↔rewrite_data_files, expire↔expire_snapshots, as-of↔time travel).

Layout:
  <root>/data/batch=<batch_id>/pred_bucket=*/...parquet
  <root>/_manifests/<batch_id>.json   (counts, lineage, config, status)

Each batch writes one file per ``pred_bucket`` dir. The bucket count is
sized to the batch (:func:`sized_pred_buckets`: a power of two of about
``ROWS_PER_BUCKET_FILE`` triples per file, at most
``DEFAULT_PRED_BUCKETS``) and recorded in the batch manifest, so a small
batch is one file instead of 64 slivers — at crawl-batch sizes the write
costs per file, not per triple. ``subj_bucket`` uses the fixed
``SUBJ_BUCKETS`` modulus whatever the batch's pred_bucket count.

Resume: ``processed_batches(root)`` → skip inputs already committed; a batch
manifest is written only after its parquet write succeeds (write-then-commit,
idempotent re-runs).
"""

from __future__ import annotations

import json
import os
import time
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

#: the most pred_buckets a sized batch gets (batches of 32M+ triples)
DEFAULT_PRED_BUCKETS = 64
DEFAULT_SALT = 16
#: subj_bucket modulus, the same for every batch: a point lookup computes
#: one bucket whatever pred_bucket count each batch was written with
SUBJ_BUCKETS = 64
#: target triples per store file when materialize sizes the bucket count
ROWS_PER_BUCKET_FILE = 1_000_000

#: full RDF-term retraction key: SPARQL term equality distinguishes
#: '42'^^xsd:integer from '42'@en from the IRI <42>
TERM_KEY_COLS = ("subj", "pred", "obj", "obj_is_iri", "obj_datatype",
                 "obj_lang")
LEXICAL_KEY_COLS = ("subj", "pred", "obj")


def with_buckets(triples: DataFrame, pred_buckets: int = DEFAULT_PRED_BUCKETS) -> DataFrame:
    """Add pred_bucket + subj_bucket partition columns. Hot predicates
    (rdf:type-like) are spread by salting the pred bucket with the subject
    hash (north_rule: explicit skew handling)."""
    return (triples
            .withColumn("pred_bucket",
                        F.pmod(F.xxhash64("pred") + F.pmod(F.xxhash64("subj"), F.lit(DEFAULT_SALT)),
                               F.lit(pred_buckets)).cast("int"))
            .withColumn("subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(SUBJ_BUCKETS)).cast("int")))


def sized_pred_buckets(n_rows: int) -> int:
    """pred_bucket count for a batch of ``n_rows`` triples: the smallest
    power of two that keeps each bucket file near ``ROWS_PER_BUCKET_FILE``
    rows, capped at ``DEFAULT_PRED_BUCKETS``."""
    n = 1
    while n < DEFAULT_PRED_BUCKETS and n * ROWS_PER_BUCKET_FILE < n_rows:
        n *= 2
    return n


def dedup_triples(triples: DataFrame) -> DataFrame:
    """Set semantics over (subj, pred, obj, obj_datatype, obj_lang) — the ONE
    intentional full shuffle of the pipeline. AQE coalesces post-shuffle
    partitions; lineage columns are aggregated, not dropped."""
    return triples.groupBy("subj", "pred", "obj", "obj_is_iri", "obj_datatype", "obj_lang").agg(
        F.min("table_url").alias("table_url"),
        F.min("source_num").alias("source_num"),
        F.count("*").alias("support"),
    )


def _manifests(root: str) -> list[dict]:
    from .physical import get_layout
    return get_layout().read_manifests(root)


def _read_manifest(root: str, batch_id: str) -> dict:
    from .physical import get_layout
    return get_layout().read_manifest(root, batch_id)


def _write_manifest(root: str, batch_id: str, manifest: dict) -> None:
    from .physical import get_layout
    get_layout().write_manifest(root, batch_id, manifest)


def _data_path(root: str, batch_id: str) -> str:
    from .physical import get_layout
    return get_layout().data_path(root, batch_id)


def _retraction_path(root: str, batch_id: str) -> str:
    from .physical import get_layout
    return get_layout().retraction_path(root, batch_id)


def processed_batches(root: str) -> set[str]:
    """Batch ids ever ingested — the resume-skip set. Includes batches
    later shadowed by a compaction or expired: a re-submitted input batch
    must stay skipped even after its data was rewritten/removed."""
    return {m["batch_id"] for m in _manifests(root)
            if m.get("status") in ("committed", "expired")}


def committed_batches(root: str) -> set[str]:
    """Batch ids whose data is on disk (committed, possibly shadowed)."""
    return {m["batch_id"] for m in _manifests(root)
            if m.get("status") == "committed"}


def live_batches(root: str) -> set[str]:
    """Batch ids a default read must scan: committed DATA batches minus
    those shadowed by a committed compaction's ``replaces`` list (and
    minus retraction batches, which live in their own tree — see
    :func:`live_retractions`). Liveness is DERIVED from the compaction
    manifest, so a compaction becomes visible — and its inputs invisible
    — in the single atomic rename that commits it; there is no window
    where both (duplicates) or neither (loss) are readable."""
    ms = _manifests(root)
    committed = {m["batch_id"] for m in ms if m.get("status") == "committed"
                 and m.get("kind") != "retraction"}
    shadowed = {b for m in ms if m.get("status") in ("committed", "expired")
                for b in m.get("replaces", [])}
    return committed - shadowed


def live_retractions(root: str) -> set[str]:
    """Committed retraction-batch ids not yet baked in by a full
    compaction (which lists them in its ``replaces``)."""
    ms = _manifests(root)
    committed = {m["batch_id"] for m in ms if m.get("status") == "committed"
                 and m.get("kind") == "retraction"}
    shadowed = {b for m in ms if m.get("status") in ("committed", "expired")
                for b in m.get("replaces", [])}
    return committed - shadowed


def materialize(triples: DataFrame, root: str, batch_id: str,
                lineage: Optional[dict] = None,
                pred_buckets: Optional[int] = None,
                dedup: bool = True,
                extra_manifest: Optional[dict] = None) -> dict:
    """Write one batch of triples; returns the committed manifest.

    Idempotent: if ``batch_id`` is already committed the write is skipped
    (checkpoint/resume per north_rule). Metrics (triple count, per-bucket
    rows, wall time) land in the manifest.

    ``pred_buckets=None`` sizes the bucket count to the batch
    (:func:`sized_pred_buckets`): the deduplicated batch is persisted,
    counted once, written from the cache and released. An explicit count
    (``web_pipeline`` sizes one from the triples its canonicalization
    cached) skips that job. Either way the batch writes one file per
    bucket dir, and the triple and per-bucket counts are observed on the
    write itself (``pyspark.sql.Observation``) — no read-back of the
    written files.
    """
    if batch_id in processed_batches(root):
        return _read_manifest(root, batch_id)

    t0 = time.time()
    df = dedup_triples(triples) if dedup else triples
    cached = None
    if pred_buckets is None:
        cached = df = df.persist()
        pred_buckets = sized_pred_buckets(df.count())
    try:
        df = with_buckets(df, pred_buckets)
        out_path = _data_path(root, batch_id)
        # Align write tasks with the partition dirs: without this every
        # shuffle partition writes a sliver into every pred_bucket dir — up
        # to shuffle_partitions x pred_buckets tiny files per batch, the
        # small-files trap that murders object-store commits and downstream
        # scans. Hash repartition on pred_bucket sends each bucket VALUE to
        # exactly one task → exactly one file per dir. hash(value) % n can
        # collide (two bucket values in one task, some tasks empty), which
        # only reduces write parallelism — never the file count.
        # repartitionByRange would align tasks 1:1 but costs a
        # range-sampling job that recomputes the whole upstream plan
        # (measured 6s → 40s on the 20k-page bench).
        df = df.repartition(pred_buckets, F.col("pred_bucket"))
        obs = Observation()
        df = df.observe(obs, *[F.count(F.when(F.col("pred_bucket") == b, 1))
                               .alias(str(b)) for b in range(pred_buckets)])
        df.write.mode("overwrite").partitionBy("pred_bucket").parquet(out_path)
        bucket_counts = {b: int(n) for b, n in obs.get.items() if n}
    finally:
        if cached is not None:
            cached.unpersist()
    manifest = {
        "batch_id": batch_id,
        "status": "committed",
        "path": out_path,
        "n_triples": int(sum(bucket_counts.values())),
        "pred_buckets": pred_buckets,
        "subj_buckets": SUBJ_BUCKETS,
        "bucket_counts": bucket_counts,
        "lineage": lineage or {},
        "wall_seconds": round(time.time() - t0, 3),
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "commit_ns": time.time_ns(),
    }
    # extra keys (e.g. a compaction's `replaces` shadow list) must be in
    # the manifest at its FIRST atomic commit — adding them in a second
    # write would open a crash window where the batch is visible without
    # its semantics
    manifest.update(extra_manifest or {})
    _write_manifest(root, batch_id, manifest)  # atomic commit
    return manifest


def _store_schema():
    """Full on-disk batch schema: the triple columns plus the lineage /
    bucket columns materialize writes and the two partition columns the
    dir layout encodes (pred_bucket from partitionBy, batch from the
    path). Explicit so empty batches read back."""
    from pyspark.sql.types import (IntegerType, LongType, StringType,
                                   StructField, StructType)

    from ..operators.triples import TRIPLE_SCHEMA
    return StructType(list(TRIPLE_SCHEMA.fields) + [
        StructField("support", LongType()),
        StructField("subj_bucket", IntegerType()),
        StructField("pred_bucket", IntegerType()),
        StructField("batch", StringType()),
    ])


def _retraction_schema(key_cols) -> str:
    """DDL schema for a retraction key set of the given arity (explicit
    schema: an empty retraction batch must still read back)."""
    types = {"subj": "string", "pred": "string", "obj": "string",
             "obj_is_iri": "boolean", "obj_datatype": "string",
             "obj_lang": "string"}
    return ", ".join(f"{c} {types[c]}" for c in key_cols)


def _anti_join_retractions(g: DataFrame, r: DataFrame, key_cols) -> DataFrame:
    """Subtract a retraction key set. Lexical 3-col keys use a plain
    name-list anti-join; full-term keys null-safe-compare the nullable
    datatype/lang columns (``<=>`` keys still take the hash-join path)."""
    if list(key_cols) == list(LEXICAL_KEY_COLS):
        return g.join(r, ["subj", "pred", "obj"], "left_anti")
    cond = None
    for c in key_cols:
        clause = g[c].eqNullSafe(r[c])
        cond = clause if cond is None else cond & clause
    return g.join(r, cond, "left_anti")


def read_graph(spark: SparkSession, root: str,
               batches: Optional[list[str]] = None,
               retractions: bool | list = True) -> DataFrame:
    """Load committed batches (partition-pruned scans via pred_bucket).

    ``batches`` restricts the read to a snapshot subset — the parquet-dir
    analogue of Iceberg time travel: each batch commit is a snapshot, and
    reading batches committed up to time T reproduces the graph as of T
    (``snapshots_as_of`` gives the list). Only committed batches are read,
    so a crashed half-written batch is never visible.

    Default reads scan the LIVE set (committed minus compaction-shadowed);
    an explicit ``batches`` list may also name shadowed batches whose data
    still exists — that is what makes pre-compaction time travel work.

    ``retractions``: True (default) applies the live retraction set — one
    anti-join on (subj, pred, obj) per commit-time group; retraction sets
    are edit-sized next to the corpus, so AQE turns the anti-joins into
    broadcasts. With an explicit ``batches`` list, retraction ids named
    in THAT list are the candidates (time travel sees deletes as of the
    same snapshot). False skips entirely (audit reads); a list supplies
    the candidate set directly (compaction).

    SPARQL-UPDATE sequencing: a retraction deletes what the graph held AT
    ITS COMMIT TIME — a later re-insert of the same triple resurrects it.
    Batch granularity: retraction r applies to data batch b iff
    commit(b) <= commit(r) (``commit_ns`` when present; equal keys
    delete). Data batches group by their applicable-retraction set
    (normally just two groups: pre- and post-retraction batches), each
    group anti-joins once, and the groups union."""
    ms = {m["batch_id"]: m for m in _manifests(root)}
    retraction_ids = {b for b, m in ms.items()
                      if m.get("kind") == "retraction"}
    wanted = sorted(live_batches(root) if batches is None
                    else (set(batches) & committed_batches(root)
                          - retraction_ids))
    if retractions is True:
        r_wanted = sorted(live_retractions(root) if batches is None
                          else (set(batches) & retraction_ids))
    elif retractions is False:
        r_wanted = []
    else:
        r_wanted = sorted(set(retractions) & set(ms))
    if not wanted:
        from ..operators.triples import TRIPLE_SCHEMA
        return spark.createDataFrame([], TRIPLE_SCHEMA)

    def commit_key(b: str):
        return (ms[b].get("committed_at", ""), ms[b].get("commit_ns", 0))

    def read_data(bs):
        # explicit schema: schema inference cannot read a store whose
        # only live batches are empty (a legal state — a rule that
        # derived nothing, a fully-retracted compaction)
        paths = [_data_path(root, b) for b in bs]
        return (spark.read
                .option("basePath", os.path.join(root, "data"))
                .schema(_store_schema())
                .parquet(*paths))

    if not r_wanted:
        return read_data(wanted)
    groups = {}
    for b in wanted:
        appl = frozenset(r for r in r_wanted
                         if commit_key(r) >= commit_key(b))
        groups.setdefault(appl, []).append(b)

    def key_cols_of(rb: str) -> tuple:
        # pre-term-key batches have no key_cols entry → lexical
        return tuple(ms[rb].get("key_cols", LEXICAL_KEY_COLS))

    parts = []
    for appl, bs in groups.items():
        g = read_data(bs)
        # one anti-join per key arity present (normally exactly one)
        by_arity: dict[tuple, list] = {}
        for rb in sorted(appl):
            by_arity.setdefault(key_cols_of(rb), []).append(rb)
        for kc, rbs in by_arity.items():
            r = spark.read.schema(_retraction_schema(kc)) \
                .parquet(*[ms[b]["path"] for b in rbs]) \
                .distinct()
            g = _anti_join_retractions(g, r, kc)
        parts.append(g)
    out = parts[0]
    for p2 in parts[1:]:
        out = out.unionByName(p2)
    return out


def snapshots_as_of(root: str, as_of: str) -> list[str]:
    """Batch ids LIVE as of ISO-8601 time ``as_of``: committed at or
    before ``as_of``, minus batches shadowed by any compaction (or other
    ``replaces``-bearing manifest) that had itself committed by ``as_of``.
    Without the shadow subtraction an as-of read spanning a compaction
    would union both the compaction output and its still-committed inputs
    and return every baked-in triple twice. A compaction that commits
    AFTER ``as_of`` does not shadow — pre-compaction time travel still
    sees the original batches (their data survives until
    ``expire_replaced``)."""
    ms = _manifests(root)
    committed = {m["batch_id"] for m in ms
                 if m.get("status") == "committed"
                 and m.get("committed_at", "") <= as_of}
    # mirror live_batches' replaces-derived shadowing, time-filtered; an
    # 'expired' replacer was once a committed compaction <= its inputs'
    # expiry, so its committed_at still gates the shadow
    shadowed = {b for m in ms if m.get("status") in ("committed", "expired")
                and m.get("committed_at", "") <= as_of
                for b in m.get("replaces", [])}
    return sorted(committed - shadowed)


def read_predicate(spark: SparkSession, root: str, pred: str,
                   batches: Optional[list[str]] = None,
                   pred_buckets: Optional[int] = None) -> DataFrame:
    """Predicate-restricted read with PARTITION PRUNING: the salted
    pred_bucket scheme places a predicate's triples in at most
    ``DEFAULT_SALT`` of a batch's ``pred_buckets`` partitions (bucket =
    (xxhash64(pred) + salt) mod buckets, salt ∈ [0, SALT)), so the filter
    lists those buckets as expressions over the literal pred, which the
    optimizer folds to constants (no job), and the scan prunes the rest —
    reading SALT/buckets of a batch instead of all of it (16/64 = 25% for
    a 64-bucket batch).
    A sized batch of at most SALT buckets (under ~16M triples) keeps every
    predicate in every bucket, so its few files are all read. The exact
    pred equality filter is pushed to the parquet scan on top of the
    pruning.

    The bucket count is read from each committed batch's MANIFEST (the
    value ``materialize`` recorded when it wrote that batch), not assumed:
    batches are sized individually, and a fixed count would silently drop
    matching rows. Stores mixing bucket counts prune to the union of the
    per-count bucket sets (correct, slightly wider scan). An explicit
    ``pred_buckets`` argument is unioned in defensively.
    """
    wanted_ids = set(batches) if batches is not None else None
    counts = {m["pred_buckets"] for m in _manifests(root)
              if m.get("pred_buckets") and m.get("status") == "committed"
              and (wanted_ids is None or m["batch_id"] in wanted_ids)}
    if pred_buckets is not None:
        counts.add(pred_buckets)
    if not counts:
        counts = {DEFAULT_PRED_BUCKETS}
    h = F.xxhash64(F.lit(pred))
    wanted = [F.pmod(h + F.lit(s), F.lit(n)).cast("int")
              for n in sorted(counts) for s in range(DEFAULT_SALT)]
    g = read_graph(spark, root, batches=batches)
    return g.filter(F.col("pred_bucket").isin(wanted)) \
            .filter(F.col("pred") == pred)


def write_bucketed_table(triples: DataFrame, table: str,
                         n_buckets: int = 64) -> None:
    """Subject co-location tier: persist (subj, pred, obj) as a Spark
    BUCKETED table (``bucketBy(subj)`` + sorted — the warehouse-table
    analogue of Iceberg's ``bucket(N, subj)`` partition transform). Star
    BGPs — the dominant SPARQL shape, k patterns sharing a subject
    variable — then self-join WITHOUT ANY EXCHANGE: every pattern leg
    reads pre-partitioned and pre-sorted on the join key, so a k-pattern
    star costs k pruned scans + zero shuffles (plan-audited:
    test_plans.test_bucketed_star_bgp_no_exchange). At 10^12 triples this
    removes the largest remaining query-time cost; the trade is a bucketed
    rewrite per compaction epoch, which is when you'd rewrite anyway."""
    (triples.select("subj", "pred", "obj")
     .write.mode("overwrite")
     .bucketBy(n_buckets, "subj").sortBy("subj")
     .saveAsTable(table))


def predicate_counts(spark: SparkSession, root: str,
                     batches: Optional[list[str]] = None) -> dict:
    """One-pass {pred: triple_count} over the live store — vocabulary-
    sized, safe to collect; feed to bgp_match_store(pred_counts=...) for
    statistics-driven join ordering. At 10^12 triples compute it once per
    compaction epoch and cache; the scan reads only the pred column."""
    g = read_graph(spark, root, batches=batches)
    return {r["pred"]: r["n"] for r in
            g.groupBy("pred").agg(F.count("*").alias("n")).collect()}


def bgp_match_store(spark: SparkSession, root: str, patterns,
                    batches: Optional[list[str]] = None,
                    pred_buckets: Optional[int] = None,
                    **kwargs) -> DataFrame:
    """SPARQL BGP directly against the graph store with PARTITION-PRUNED
    pattern scans: each constant-predicate pattern reads via
    :func:`read_predicate` (SALT/pred_buckets of each batch's partition
    dirs, independent of store size), while variable-predicate patterns fall
    back to the full live-set scan. At 10^12 triples this is the
    difference between a BGP whose every leg scans the graph and one
    whose legs each touch only their predicate's buckets. ``kwargs``
    pass through to operators/bgp.bgp_match (optionals/minus/filters/
    broadcast_patterns/distinct) — OPTIONAL and MINUS group scans prune
    the same way.

    GRAPH quads: a 4-term pattern's ``graph`` position binds the triple's
    source document (the store's table_url lineage column) — per-document
    scoping costs nothing extra, the column is already in every scan.
    Path-AST predicates fall back to the full scan (the closure crosses
    predicates, so per-predicate pruning can't apply)."""
    from ..operators.bgp import bgp_match
    full = read_graph(spark, root, batches=batches)

    def scan(pattern: tuple) -> DataFrame:
        pred = pattern[-2]
        if isinstance(pred, str) and not pred.startswith("?"):
            rel = read_predicate(spark, root, pred, batches=batches,
                                 pred_buckets=pred_buckets)
        else:
            rel = full
        if len(pattern) == 4:
            rel = rel.withColumn("graph", F.col("table_url"))
        return rel

    return bgp_match(full, patterns, scan=scan, **kwargs)


def derive_batch(spark: SparkSession, root: str, patterns,
                 template, batch_id: str,
                 rule_id: str = "construct",
                 batches: Optional[list[str]] = None,
                 pred_buckets: Optional[int] = None,
                 replaces: Optional[list[str]] = None,
                 extra_lineage: Optional[dict] = None,
                 **bgp_kwargs) -> dict:
    """Rule materialization: run a SPARQL CONSTRUCT against the store
    (WHERE legs partition-pruned via :func:`bgp_match_store`) and commit
    the derived triples as a NEW batch whose manifest lineage names the
    rule — inferred triples stay distinguishable from extracted ones, can
    be time-traveled around, and are expired by recomputing the rule
    rather than re-crawling. Idempotent per ``batch_id`` like any other
    materialize. Template constants are typed by shape (``http(s)://`` or
    ``_:`` objects are IRIs/bnodes, everything else a plain literal) —
    rules needing datatyped literals belong in the extraction mapping,
    not here."""
    from ..operators.bgp import bgp_match, construct
    bindings_graph = read_graph(spark, root, batches=batches) \
        .select("subj", "pred", "obj")

    def scan(pattern: tuple) -> DataFrame:
        pred = pattern[1]
        if not pred.startswith("?"):
            return read_predicate(spark, root, pred, batches=batches,
                                  pred_buckets=pred_buckets)
        return bindings_graph

    derived = construct(bindings_graph, patterns, template,
                        scan=scan, **bgp_kwargs)
    full = derived.select(
        "subj", "pred", "obj",
        F.col("obj").rlike("^(https?://|_:)").alias("obj_is_iri"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(f"rule:{rule_id}").alias("table_url"),
        F.lit(0).cast("long").alias("source_num"))
    json_kwargs = {k: v for k, v in bgp_kwargs.items()
                   if k in ("optionals", "minus", "filters")}
    lineage = {"source": "rule", "rule_id": rule_id,
               "patterns": [list(p) for p in patterns],
               "template": [list(t) for t in template],
               "input_batches": batches,
               # staleness fingerprint for refresh_rule_batches: the
               # exact live set this derivation read
               "base_live": sorted(_rule_input_ids(root, batches)
                                   - _rule_ids(root)),
               "bgp_kwargs": {k: [list(map(list, g)) for g in v]
                              if k in ("optionals", "minus") else list(v)
                              for k, v in json_kwargs.items()},
               "refreshable": len(json_kwargs) == len(bgp_kwargs)}
    lineage.update(extra_lineage or {})
    return materialize(full, root, batch_id, lineage=lineage,
                       pred_buckets=pred_buckets,
                       extra_manifest=({"replaces": replaces}
                                       if replaces else None))


def infer_rdfs_batch(spark: SparkSession, root: str, batch_id: str,
                     batches: Optional[list[str]] = None,
                     schema_cap: int = 1_000_000,
                     pred_buckets: Optional[int] = None,
                     replaces: Optional[list[str]] = None,
                     extra_lineage: Optional[dict] = None) -> dict:
    """RDFS materialization as store maintenance: close the live graph
    under the ρdf rules (operators/inference.rdfs_materialize — schema
    driver-side, instance pass broadcast-join-only) and commit the NEW
    triples as a lineage-tagged batch, exactly like a CONSTRUCT rule
    (:func:`derive_batch`). Entailed triples are expired/recomputed, never
    re-crawled; idempotent per ``batch_id``."""
    from ..operators.inference import rdfs_materialize
    g = read_graph(spark, root, batches=batches) \
        .select("subj", "pred", "obj")
    derived = rdfs_materialize(g, schema_cap=schema_cap)
    full = derived.select(
        "subj", "pred", "obj",
        F.col("obj").rlike("^(https?://|_:)").alias("obj_is_iri"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit("rule:rdfs").alias("table_url"),
        F.lit(0).cast("long").alias("source_num"))
    lineage = {"source": "rule", "rule_id": "rdfs",
               "rules": "rdfs2,3,5,7,9,11",
               "input_batches": batches,
               "base_live": sorted(_rule_input_ids(root, batches)
                                   - _rule_ids(root))}
    lineage.update(extra_lineage or {})
    return materialize(full, root, batch_id, lineage=lineage,
                       pred_buckets=pred_buckets,
                       extra_manifest=({"replaces": replaces}
                                       if replaces else None))


def infer_owl_batch(spark: SparkSession, root: str, batch_id: str,
                    batches: Optional[list[str]] = None,
                    schema_cap: int = 100_000,
                    pred_buckets: Optional[int] = None,
                    replaces: Optional[list[str]] = None,
                    extra_lineage: Optional[dict] = None) -> dict:
    """pD* property-rule materialization as store maintenance (sibling of
    :func:`infer_rdfs_batch`): close the live graph under inverseOf /
    SymmetricProperty / TransitiveProperty (operators/owl
    .owl_horst_materialize — rule schema driver-side, instance pass
    broadcast-join-only plus per-transitive-predicate semi-naive closure)
    and commit the NEW triples as a lineage-tagged batch. owl:sameAs is
    deliberately NOT materialized here — identities fold into the global
    canonical map via :func:`update_sameas_map` instead (the WebPIE
    canonical-representative design)."""
    from ..operators.owl import owl_horst_materialize
    g = read_graph(spark, root, batches=batches) \
        .select("subj", "pred", "obj")
    derived = owl_horst_materialize(g, schema_cap=schema_cap)
    full = derived.select(
        "subj", "pred", "obj",
        F.col("obj").rlike("^(https?://|_:)").alias("obj_is_iri"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit("rule:owl-horst").alias("table_url"),
        F.lit(0).cast("long").alias("source_num"))
    lineage = {"source": "rule", "rule_id": "owl-horst",
               "rules": "rdfp3,rdfp4,rdfp8ax,rdfp8bx",
               "input_batches": batches,
               "base_live": sorted(_rule_input_ids(root, batches)
                                   - _rule_ids(root))}
    lineage.update(extra_lineage or {})
    return materialize(full, root, batch_id, lineage=lineage,
                       pred_buckets=pred_buckets,
                       extra_manifest=({"replaces": replaces}
                                       if replaces else None))


def update_sameas_map(spark: SparkSession, root: str, batch_id: str,
                      batches: Optional[list[str]] = None,
                      driver_threshold: int = 200_000) -> dict:
    """Fold the live graph's ``owl:sameAs`` statements into the global
    canonical map and commit the new version.

    Equivalence classes (connected components over the symmetric sameAs
    edge set, operators/owl.sameas_mapping) merge union-find-style with
    the CURRENT map (components.merge_mappings), so identities learned
    across maintenance runs converge to one global representative without
    rewriting any committed batch — :func:`read_graph_canonical` applies
    the result at read time, and :func:`compact` can bake it in."""
    from ..operators.components import merge_mappings
    from ..operators.owl import sameas_mapping
    g = read_graph(spark, root, batches=batches) \
        .select("subj", "pred", "obj")
    new = sameas_mapping(g, driver_threshold=driver_threshold) \
        .select(F.col("term").alias("id"),
                F.col("canon").alias("canonical_id"))
    prior = load_canonical_map(spark, root)
    merged = new if prior is None else merge_mappings([prior, new])
    save_canonical_map(merged, root, batch_id)
    return {"batch_id": batch_id, "n_terms": merged.count()}



def _rule_ids(root: str) -> set[str]:
    return {m["batch_id"] for m in _manifests(root)
            if m.get("lineage", {}).get("source") == "rule"}


def _rule_input_ids(root: str, batches) -> set[str]:
    """The id set a rule derivation actually reads: an explicit snapshot
    list verbatim, else the live data batches PLUS live retractions
    (read_graph applies those by default, and a delete changes the
    entailment — so retraction ids belong in the staleness
    fingerprint)."""
    return (set(batches) if batches is not None
            else live_batches(root) | live_retractions(root))


def refresh_rule_batches(spark: SparkSession, root: str,
                         force: bool = False) -> list[dict]:
    """Incremental view maintenance for rule batches: re-derive every
    live rule batch whose DATA inputs changed since its derivation.

    Staleness test: the manifest's ``lineage.base_live`` fingerprint —
    the non-rule (data) batches live when the rule ran — vs the current
    data live set. Rule ids are excluded from the fingerprint on purpose:
    refresh renames rule batches, and an id-sensitive fingerprint would
    make two rules re-stale each other forever. A stale rule re-derives
    over the FULL current live graph (other rules' current entailments
    included) under a fresh id ``<root_id>-r<n>`` whose manifest
    ``replaces`` the stale batch — the same atomic shadow flip compaction
    uses, so readers never see zero or two versions of the entailment.
    Rules whose extra BGP kwargs were not JSON-recorded
    (``refreshable: false``) and pre-fingerprint manifests are skipped,
    reported under ``"skipped"``.

    Rule-on-rule towers (RDFS over OWL-derived triples): one pass
    refreshes in sorted-id order, so a rule may read an upstream rule's
    not-yet-refreshed batch; call once more with ``force=True`` (re-derive
    all refreshables regardless of fingerprint) to settle a tower after
    its data changes."""
    out: list[dict] = []
    ms = {m["batch_id"]: m for m in _manifests(root)}
    for b in sorted(live_batches(root)):
        lin = ms[b].get("lineage", {})
        if lin.get("source") != "rule":
            continue
        if "base_live" not in lin:
            out.append({"batch_id": b, "skipped": "no base_live "
                        "fingerprint (pre-refresh manifest)"})
            continue
        base_now = sorted((live_batches(root)
                           | live_retractions(root)) - _rule_ids(root))
        if lin["base_live"] == base_now and not force:
            continue
        seq = int(lin.get("refresh_seq", 0)) + 1
        root_id = lin.get("root_id", b)
        new_id = f"{root_id}-r{seq}"
        extra = {"root_id": root_id, "refresh_seq": seq}
        rid = lin.get("rule_id")
        graph_now = sorted((live_batches(root)
                            | live_retractions(root)) - {b})
        if rid == "rdfs":
            out.append(infer_rdfs_batch(spark, root, new_id,
                                        batches=graph_now, replaces=[b],
                                        extra_lineage=extra))
        elif rid == "owl-horst":
            out.append(infer_owl_batch(spark, root, new_id,
                                       batches=graph_now, replaces=[b],
                                       extra_lineage=extra))
        elif lin.get("patterns") and lin.get("template"):
            if not lin.get("refreshable", False):
                out.append({"batch_id": b, "skipped": "derivation kwargs "
                            "not recorded; re-run the rule manually"})
                continue
            kw = lin.get("bgp_kwargs", {})
            kwargs = {k: ([tuple(map(tuple, g)) for g in v]
                          if k in ("optionals", "minus") else list(v))
                      for k, v in kw.items()}
            out.append(derive_batch(
                spark, root,
                [tuple(p) for p in lin["patterns"]],
                [tuple(t) for t in lin["template"]],
                new_id, rule_id=rid, batches=graph_now, replaces=[b],
                extra_lineage=extra, **kwargs))
        else:
            out.append({"batch_id": b,
                        "skipped": f"unknown rule kind {rid!r}"})
    return out


def fuse_retract_batch(spark: SparkSession, root: str, batch_id: str,
                       batches: Optional[list[str]] = None) -> dict:
    """Truth-discovery fusion as store MAINTENANCE: where several live
    assertions disagree on one (subj, pred), elect the majority value
    (operators/fusion.fuse_majority — lexical-min tie-break) and commit a
    retraction batch for every LOSING assertion, so the published graph
    carries one value per attribute while immutability, lineage, and
    time travel survive (pre-fusion reads via --as-of, recompute via the
    rule-refresh machinery).  The retraction keys on the full RDF term
    (obj_is_iri/datatype/lang ride along), so two terms sharing a lexical
    form are retracted precisely.  Idempotent per ``batch_id``."""
    from pyspark.sql import Window
    g = read_graph(spark, root, batches=batches)
    # vote on the FULL term tuple (obj, obj_is_iri, obj_datatype, obj_lang)
    # — '42'^^xsd:integer and '42'@en are distinct candidates, and a losing
    # term whose lexical form equals the winner's is still retracted.
    # Same vote/rank shape as operators/fusion.fuse_majority, with the
    # tie-break extended over the term columns for determinism.
    votes = (g.groupBy("subj", "pred", "obj", "obj_is_iri",
                       "obj_datatype", "obj_lang")
             .agg(F.count("*").alias("n_support")))
    attr = Window.partitionBy("subj", "pred")
    ranked = votes.select(
        "subj", "pred", "obj", "obj_is_iri", "obj_datatype", "obj_lang",
        F.row_number().over(attr.orderBy(
            F.col("n_support").desc(), F.col("obj").asc(),
            F.col("obj_is_iri").asc(),
            F.coalesce("obj_datatype", F.lit("")).asc(),
            F.coalesce("obj_lang", F.lit("")).asc())).alias("_rn"))
    losers = (ranked.where(F.col("_rn") > 1)
              .select("subj", "pred", "obj", "obj_is_iri",
                      "obj_datatype", "obj_lang"))
    return retract_batch(spark, root, batch_id, losers,
                         lineage={"source": "rule",
                                  "rule_id": "fuse-majority",
                                  "input_batches": batches})


def retract_batch(spark: SparkSession, root: str, batch_id: str,
                  triples: DataFrame,
                  lineage: Optional[dict] = None) -> dict:
    """SPARQL-UPDATE delete support on an append-only store: commit a
    RETRACTION batch — a key set under ``retractions/`` with a
    ``kind: retraction`` manifest. Committed data batches are never
    rewritten (immutability + lineage + time travel survive); reads
    subtract live retractions with one anti-join (:func:`read_graph`),
    and a FULL :func:`compact` bakes them in and shadows them — the
    Iceberg equality-delete-file design. Idempotent per ``batch_id``
    like :func:`materialize`.

    KEY CONTRACT: if ``triples`` carries the term columns
    (obj_is_iri/obj_datatype/obj_lang), the retraction keys on the full
    RDF term — '42'^^xsd:integer does NOT delete '42'@en (SPARQL
    term-equality semantics). A bare (subj, pred, obj) input keys
    LEXICALLY and deletes every term whose lexical form matches — this
    is the contract for the 3-column SPARQL UPDATE front-end
    (sparql.py drops datatype/lang at parse). The manifest records
    ``key_cols`` so :func:`read_graph` applies each batch with the
    arity it was written at."""
    if batch_id in processed_batches(root):
        return _read_manifest(root, batch_id)
    t0 = time.time()
    out_path = _retraction_path(root, batch_id)
    key_cols = (TERM_KEY_COLS
                if set(TERM_KEY_COLS) <= set(triples.columns)
                else LEXICAL_KEY_COLS)
    keys = triples.select(*key_cols).distinct()
    keys.write.mode("overwrite").parquet(out_path)
    n = spark.read.schema(_retraction_schema(key_cols)) \
        .parquet(out_path).count()
    manifest = {
        "batch_id": batch_id,
        "status": "committed",
        "kind": "retraction",
        "path": out_path,
        "key_cols": list(key_cols),
        "n_triples": int(n),
        "lineage": lineage or {},
        "wall_seconds": round(time.time() - t0, 3),
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "commit_ns": time.time_ns(),
    }
    _write_manifest(root, batch_id, manifest)
    return manifest


def delete_where(spark: SparkSession, root: str, batch_id: str,
                 patterns, batches: Optional[list[str]] = None,
                 **kwargs) -> dict:
    """SPARQL ``DELETE WHERE``: the matched instances of each pattern
    (CONSTRUCT with the patterns as their own template) become one
    retraction batch. ``kwargs`` pass to the BGP (optionals/filters...)."""
    from ..operators.bgp import construct
    g = read_graph(spark, root, batches=batches) \
        .select("subj", "pred", "obj")
    doomed = construct(g, patterns, patterns, **kwargs)
    return retract_batch(spark, root, batch_id, doomed,
                         lineage={"source": "delete_where",
                                  "patterns": [list(p) for p in patterns]})


def update_store(spark: SparkSession, root: str, batch_id: str,
                 update: str) -> dict:
    """Execute a SPARQL UPDATE string against the store:
    ``INSERT DATA`` → materialized constant batch; ``DELETE DATA`` →
    retraction of the listed triples; ``DELETE WHERE`` →
    :func:`delete_where`; ``INSERT {t} WHERE {p}`` → derived batch
    (CONSTRUCT rule); ``DELETE {t} WHERE {p}`` → retraction of the
    instantiated template. Idempotent per ``batch_id`` throughout."""
    from ..operators.bgp import construct
    from ..sparql import parse_update
    u = parse_update(update)
    if u.op == "insert_data":
        df = spark.createDataFrame(u.data, ["subj", "pred", "obj"]).select(
            "subj", "pred", "obj",
            F.col("obj").rlike("^(https?://|_:)").alias("obj_is_iri"),
            F.lit(None).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit("update:insert-data").alias("table_url"),
            F.lit(0).cast("long").alias("source_num"))
        return materialize(df, root, batch_id,
                           lineage={"source": "insert_data"})
    if u.op == "delete_data":
        df = spark.createDataFrame(u.data, ["subj", "pred", "obj"])
        return retract_batch(spark, root, batch_id, df,
                             lineage={"source": "delete_data"})
    if u.op == "delete_where":
        return delete_where(spark, root, batch_id, u.patterns,
                            **_update_kwargs(u))
    g = read_graph(spark, root).select("subj", "pred", "obj")
    derived = construct(g, u.patterns, u.template, **_update_kwargs(u))
    if u.op == "delete_template":
        return retract_batch(spark, root, batch_id, derived,
                             lineage={"source": "delete_template"})
    full = derived.select(
        "subj", "pred", "obj",
        F.col("obj").rlike("^(https?://|_:)").alias("obj_is_iri"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit("update:insert-where").alias("table_url"),
        F.lit(0).cast("long").alias("source_num"))
    return materialize(full, root, batch_id,
                       lineage={"source": "insert_where"})


def _update_kwargs(u) -> dict:
    kw: dict = {}
    if u.optionals:
        kw["optionals"] = u.optionals
    if u.minus:
        kw["minus"] = u.minus
    if u.filters:
        kw["filters"] = u.filters
    return kw


def write_canonical_map_version(mapping: DataFrame, root: str,
                                batch_id: str) -> str:
    """Write one version of the global subject-canonicalization map WITHOUT
    moving the CURRENT pointer — callers commit via
    :func:`commit_canonical_map` only after the batch itself commits, so a
    crash between map write and batch materialize leaves the pointer on the
    previous version (no map entries referencing a batch that never
    landed). The map scales with clustered subjects, so it stays
    distributed parquet — no driver collect, no coalesce."""
    d = os.path.join(root, "canonical_map", f"v-{batch_id}")
    mapping.write.mode("overwrite").parquet(d)
    return d


def commit_canonical_map(root: str, batch_id: str) -> None:
    """Atomically swap CURRENT to the named version (Iceberg snapshot-swap
    pattern — readers never observe a partial map)."""
    cur = os.path.join(root, "canonical_map", "CURRENT")
    tmp = cur + f".tmp-{batch_id}"
    with open(tmp, "w") as f:
        f.write(f"v-{batch_id}")
    os.replace(tmp, cur)


def save_canonical_map(mapping: DataFrame, root: str, batch_id: str) -> str:
    """Write + commit in one step (standalone use; the batch pipeline
    splits the two around its own materialize commit)."""
    d = write_canonical_map_version(mapping, root, batch_id)
    commit_canonical_map(root, batch_id)
    return d


def load_canonical_map(spark, root: str) -> Optional[DataFrame]:
    """Current global canonical map, or None before the first batch."""
    cur = os.path.join(root, "canonical_map", "CURRENT")
    if not os.path.exists(cur):
        return None
    with open(cur) as f:
        v = f.read().strip()
    # explicit schema: an empty map version writes a part-file-less dir,
    # which schema inference cannot read back
    return spark.read.schema("id string, canonical_id string") \
        .parquet(os.path.join(root, "canonical_map", v))


def read_subject(spark: SparkSession, root: str, subj: str,
                 batches: Optional[list[str]] = None) -> DataFrame:
    """Point lookup of one subject's triples.

    pred_bucket partition pruning cannot help here — a subject's triples
    spread across predicate buckets by design — but ``subj_bucket`` is a
    data column with parquet min/max row-group statistics, so pushing the
    bucket equality (the SAME JVM xxhash64 the writer used, over a literal,
    which the optimizer folds to a constant: no job) skips every row group
    whose bucket range excludes it, and the subj equality itself also
    reaches the scan (PushedFilters, CI-audited). On a sorted/compacted
    store this reads ~1/SUBJ_BUCKETS of the data.

    The modulus is ``SUBJ_BUCKETS`` for every batch whose manifest records
    ``subj_buckets``; older batches used their pred_bucket count, so their
    bucket is unioned in."""
    moduli = {m.get("subj_buckets", m.get("pred_buckets", SUBJ_BUCKETS))
              for m in _manifests(root) if m.get("status") == "committed"
              and m.get("kind") != "retraction"} or {SUBJ_BUCKETS}
    wanted = [F.pmod(F.xxhash64(F.lit(subj)), F.lit(n)).cast("int")
              for n in sorted(moduli)]
    df = read_graph(spark, root, batches)
    return df.filter(F.col("subj_bucket").isin(wanted)
                     & (F.col("subj") == subj))


def compact(spark: SparkSession, root: str,
            batches: Optional[list[str]] = None,
            compact_id: Optional[str] = None,
            pred_buckets: Optional[int] = None,
            canonical: bool = False) -> Optional[dict]:
    """Merge several live batches into one (Iceberg rewrite_data_files
    analogue): continuous ingestion leaves one dir tree per batch, and a
    year of hourly batches turns every pred-pruned read into ~9000 dir
    listings of ever-smaller files. Compaction re-deduplicates the triples
    ACROSS the merged batches (same-triple rows fold, ``support`` sums,
    lineage keeps the earliest source) and rewrites them with the standard
    bucket-aligned layout — one file per pred_bucket dir.

    Commit protocol: the compacted batch's manifest carries
    ``replaces: [...]``; ``live_batches`` derives shadowing from that, so
    the single atomic manifest rename flips readers from the old batches
    to the new one. Input data dirs are untouched (pre-compaction time
    travel via explicit batch lists) until ``expire_replaced``.

    ``canonical=True`` additionally applies the store's CURRENT global
    canonical map while rewriting — baking retroactively-learned
    identities into the data (the persisted form of what
    ``read_graph_canonical`` computes per read).

    The stored bucket columns are dropped, not grouped on: the inputs may
    have been written with different bucket counts (and canonical
    rewrites move subjects), so one triple can carry different buckets in
    different batches. ``materialize`` recomputes them for the output.

    Returns the new manifest, or None if fewer than two live batches match.
    """
    live = live_batches(root)
    wanted = sorted(live if batches is None else (set(batches) & live))
    if len(wanted) < 2:
        return None
    cid = compact_id or ("compact-" + "-".join(wanted[:4]) +
                         (f"-and-{len(wanted) - 4}" if len(wanted) > 4 else ""))
    # retractions bake into the rewrite; they are shadowed (replaces)
    # only on a FULL compaction — after a partial one they stay live, and
    # re-applying them to the compacted batch is a no-op by construction
    applied_retractions = sorted(live_retractions(root))
    shadows = wanted + (applied_retractions if batches is None else [])
    g = read_graph(spark, root, batches=wanted,
                   retractions=applied_retractions) \
        .drop("batch", "pred_bucket", "subj_bucket")
    if canonical:
        mapping = load_canonical_map(spark, root)
        if mapping is not None:
            from ..operators.components import rewrite_triples
            g = rewrite_triples(g, mapping)
    merged = (g.groupBy("subj", "pred", "obj", "obj_is_iri", "obj_datatype",
                        "obj_lang")
              .agg(F.min("table_url").alias("table_url"),
                   F.min("source_num").alias("source_num"),
                   F.sum("support").alias("support")))
    return materialize(merged, root, cid, dedup=False,
                       lineage={"compaction_of": wanted,
                                "retractions_applied": applied_retractions,
                                "canonical": canonical},
                       pred_buckets=pred_buckets,
                       extra_manifest={"replaces": shadows})


def expire_replaced(spark: SparkSession, root: str) -> list[str]:
    """Delete the data of compaction-shadowed batches (expire_snapshots
    analogue) and mark their manifests ``expired``. After this the
    shadowed batches stop being explicitly readable, but they stay in
    ``processed_batches`` so a re-submitted input batch is still skipped.
    Run it once readers no longer need pre-compaction time travel."""
    import shutil
    ms = _manifests(root)
    shadowed = {b for m in ms if m.get("status") in ("committed", "expired")
                for b in m.get("replaces", [])}
    expired = []
    for m in ms:
        b = m["batch_id"]
        if m.get("status") == "committed" and b in shadowed:
            shutil.rmtree(m.get("path", _data_path(root, b)),
                          ignore_errors=True)
            m["status"] = "expired"
            m["expired_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                            time.gmtime())
            _write_manifest(root, b, m)
            expired.append(b)
    return sorted(expired)


def read_graph_canonical(spark: SparkSession, root: str,
                         batches: Optional[list[str]] = None,
                         broadcast: bool = True) -> DataFrame:
    """Read the graph with the CURRENT global canonical map applied.

    Incremental canonicalization rewrites each batch with the map as of
    its own commit — but identities learned later merge *retroactively*
    (batch 1 materialized subject m; batch 7 learned m≡a), and rewriting
    already-committed batches in place would break their immutability and
    lineage. Instead the canonical map is applied at read time: two
    broadcast joins over the triple stream (the map covers only merged
    vertices — a sliver of the graph), no shuffle, no store rewrite. A
    graph compaction after a map update bakes the current view in if
    desired (compact() reads through this function's non-canonical
    sibling, so run compact on the rewritten stream explicitly when
    snapshotting identities is the goal).
    """
    g = read_graph(spark, root, batches)
    mapping = load_canonical_map(spark, root)
    if mapping is None:
        return g
    from ..operators.components import rewrite_triples
    return rewrite_triples(g, mapping, broadcast=broadcast)


def diff_snapshots(spark: SparkSession, root: str, as_of_a: str,
                   as_of_b: str) -> DataFrame:
    """Time-travel delta: what changed in the graph between two snapshot
    times → (subj, pred, obj, obj_is_iri, obj_datatype, obj_lang, change)
    with change ∈ {'added', 'removed'}.

    The KG-ops answer to "what did last night's crawl actually change":
    feeds incremental downstream syncs (search indexes, embedding refresh)
    without re-exporting the store. Two as-of reads (each
    retraction-consistent via snapshots_as_of + read_graph), compared by
    TERM identity (lexical + is_iri/datatype/lang — '42'^^xsd:integer vs
    '42'@en are different statements), deduplicated to statement sets, two
    anti-joins. At 10^12 triples both sides prune to the batches live at
    their snapshot, and the anti-joins hash on the narrow term key — the
    payload columns ride along, never widening the shuffle key."""
    key = ["subj", "pred", "obj", "obj_is_iri", "obj_datatype", "obj_lang"]

    def snap(as_of: str) -> DataFrame:
        ids = snapshots_as_of(root, as_of)
        return (read_graph(spark, root, batches=ids)
                .select(*key).distinct())

    def anti(left: DataFrame, right: DataFrame) -> DataFrame:
        # eqNullSafe: obj_datatype/obj_lang are NULL for plain literals —
        # a name-list join would treat NULL = NULL as unknown and report
        # every plain literal as simultaneously added and removed
        l, r = left.alias("l"), right.alias("r")
        cond = None
        for c in key:
            e = F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}"))
            cond = e if cond is None else cond & e
        return l.join(r, cond, "left_anti")

    a, b = snap(as_of_a), snap(as_of_b)
    added = anti(b, a).withColumn("change", F.lit("added"))
    removed = anti(a, b).withColumn("change", F.lit("removed"))
    return added.unionByName(removed)
