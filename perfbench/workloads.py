"""The benchmark's workloads. Each builds its inputs from the seed, times
one operation of the program at a time, and checks every operation's
output.

A workload provides ``setup(ctx, rep)`` (inputs and stores, timed as
set-up), ``prepare(ctx)`` (expected outputs, untimed), ``warmup(ctx, i)``
(one untimed, checked operation; by default the operation itself),
``op(ctx, i, tracer)`` (one checked operation → OpResult; with a tracer it
runs the same work layer by layer, each layer forced and wrapped in a
span), and ``layer_metrics`` for the traced run's per-layer numbers.
"""

from __future__ import annotations

import inspect
import json
import os
import random
import shutil
import statistics
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import expect
from .harness import OpResult, percentile_with_support

TERM_COLS = ["subj", "pred", "obj", "obj_is_iri", "obj_datatype", "obj_lang"]


def _write_pages(ctx, n_pages: int, files: int, name: str) -> str:
    from rdf_tabular_spark.sources.pages import synth_pages
    path = ctx.path(name)
    synth_pages(ctx.spark, n_pages, seed=ctx.seed % 1_000_003,
                partitions=files).write.mode("overwrite").parquet(path)
    return path


def _read_pages(path: str) -> list[tuple[str, str]]:
    import pyarrow.parquet as pq
    t = pq.read_table(path, columns=["url", "html"])
    return [(u, h.decode("utf-8"))
            for u, h in zip(t.column("url").to_pylist(),
                            t.column("html").to_pylist())]


def _dir_files(path: str, suffix: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path)
            for f in fs if f.endswith(suffix)]


def _span_count(tracer, name: str) -> int:
    return max(1, sum(s["name"] == name for s in tracer.spans))


class _Workload:
    name = ""
    loop = ("closed loop, 1 client: the next operation starts when the "
            "previous one has finished and been checked")

    def setup(self, ctx, rep: int) -> None:
        raise NotImplementedError

    def prepare(self, ctx) -> None:
        pass

    def warmup(self, ctx, i: int, tracer=None) -> OpResult:
        return self.op(ctx, i)

    def op(self, ctx, i: int, tracer=None) -> OpResult:
        raise NotImplementedError

    def layer_metrics(self, ctx, tracer, timed) -> dict:
        return {}


# ------------------------------------------------------------ crawl ----

def extract_and_link(pages: DataFrame, ents: dict):
    """Stages 1-2 (extract + entity linking) over a pages table, ended by
    one count + digest aggregation → (triples, digest)."""
    from rdf_tabular_spark import web
    base = web.pages_to_combined_triples(pages).persist()
    out = base.unionByName(web.link_entities(base, ents))
    try:
        return expect.spark_digest(expect.triple_line(out), out)
    finally:
        base.unpersist()


class CrawlBuild(_Workload):
    """The full stage 1-4 pipeline (web.web_pipeline with a global
    canonical map) over a seeded synthetic crawl, into a fresh store. The
    traced run also replays stages 1-3 layer by layer, reads the store it
    built with a :class:`ReadProbe`, and measures ``scaling_eff`` on stages
    1-2."""

    name = "crawl_build"
    n_pages = 600
    files = 8
    warmup_pages = 40

    def setup(self, ctx, rep):
        self.pages_path = _write_pages(ctx, max(8, int(self.n_pages * ctx.scale)),
                                       self.files, f"pages-{rep}")

    def prepare(self, ctx):
        """Expected extract + link triples of the timed and the warm-up
        crawl, read off the generated HTML, and the read probe's queries."""
        from rdf_tabular_spark.sources.pages import entity_dictionary
        self.ents = entity_dictionary()
        self.pages = ctx.spark.read.parquet(self.pages_path)
        pages = _read_pages(self.pages_path)
        self.lines = expect.crawl_expected_lines(pages, self.ents)
        self.expected = expect.py_digest(self.lines)
        self.probe = ReadProbe(ctx.seed, pages)
        small = _write_pages(ctx, self.warmup_pages, 4, "pages-warmup")
        self.small = (ctx.spark.read.parquet(small),
                      expect.crawl_expected_lines(_read_pages(small), self.ents))

    def warmup(self, ctx, i, tracer=None):
        """The same pipeline on a small crawl: compiles and JITs every
        stage at a third of the cost of a full-size warm-up (the full-size
        one made a traced run too long for its time limit). A small crawl
        may hold no near-duplicate pages, so its map may be empty."""
        return self._build(ctx, ctx.path("store-warmup"), *self.small,
                           merges=False)

    def op(self, ctx, i, tracer=None):
        root = ctx.path(f"store-op{i}")
        if tracer is None:
            return self._build(ctx, root, self.pages, self.lines)
        n, dt = self._traced(ctx, tracer, root)
        r = self._check(ctx, root, n, dt, self.lines)
        probe_failures = self.probe.run(ctx.spark, root, tracer, ctx.corrupt)
        if probe_failures:
            r.ok = False
            r.note += " " + "; ".join(probe_failures)
        shutil.rmtree(root, ignore_errors=True)
        return r

    def _build(self, ctx, root, pages, lines, merges=True) -> OpResult:
        from rdf_tabular_spark import web
        t0 = time.perf_counter()
        manifest = web.web_pipeline(ctx.spark, pages, root, "b0",
                                    entity_dict=self.ents,
                                    incremental_canonical=True)
        dt = time.perf_counter() - t0
        r = self._check(ctx, root, manifest["n_triples"], dt, lines, merges)
        shutil.rmtree(root, ignore_errors=True)
        return r

    def _check(self, ctx, root, n, dt, lines, merges=True) -> OpResult:
        """The manifest's count is what reads back, the store holds no
        duplicate triple, the canonical map is non-empty if ``merges`` (the
        full-size crawl holds near-duplicate pages) and no subject it
        rewrote is left, and the set of committed triples is exactly the
        expected extract + link triples (``lines``) with the store's own
        canonical map applied."""
        from rdf_tabular_spark.sinks.graph_store import (load_canonical_map,
                                                         read_graph)
        g = read_graph(ctx.spark, root)
        back = g.count()
        distinct = g.select(TERM_COLS).distinct().count()
        mapping = load_canonical_map(ctx.spark, root)
        pairs = ({r["id"]: r["canonical_id"] for r in mapping.collect()}
                 if mapping is not None else {})
        stale = (g.join(mapping, g["subj"] == mapping["id"], "left_semi").count()
                 if mapping is not None else 0)
        got = expect.spark_set_digest(expect.triple_line(g), g)
        want = expect.committed_set_digest(lines, pairs)
        bad = [msg for failed, msg in (
            (n <= 0 or back != n, f"manifest {n}, read back {back}"),
            (distinct != back, f"{back - distinct} duplicate triples"),
            (merges and not pairs, "empty canonical map"),
            (stale != 0, f"{stale} canonicalized subjects left"),
            (got != want, f"committed set {got}, expected set {want}"),
        ) if failed]
        note = "crawl_build: " + "; ".join(bad) if bad else ""
        return OpResult(n, dt, not bad, note=note)

    # traced run: the pipeline one public function at a time

    _literals = _mentions = _merged = _files = _bytes = _committed = _raw = 0
    _reps = _candidates = _edges = 0

    def _traced(self, ctx, tracer, root):
        """Stages 1-4 one public function at a time, each forced under its
        own span; the op span holds only the pipeline's own work, so
        ``trace.overhead`` is the cost of those layer boundaries and of the
        spans. The parse-only pass and the canonicalize replay run after
        it, outside the op span."""
        from rdf_tabular_spark import web
        from rdf_tabular_spark.sinks import graph_store as gs
        from rdf_tabular_spark.sources.html_extract import pages_to_text
        held: list = []
        with tracer.span(f"{self.name}.op") as op_span:
            with tracer.span("web.pages_to_combined_triples", "web.map"):
                base = web.pages_to_combined_triples(self.pages).persist()
                n_base = base.count()
            with tracer.span("web.link_entities", "web.link"):
                mentions = web.link_entities(base, self.ents).persist()
                n_mentions = mentions.count()
            triples = base.unionByName(mentions)
            with tracer.span("web.canonicalize_subjects", "web.canonicalize"):
                rewritten, mapping = web.canonicalize_subjects(triples,
                                                               releases=held)
                self._merged += mapping.count()
            with tracer.span("graph_store.materialize",
                             "graph_store.materialize"):
                manifest = gs.materialize(rewritten, root, "b0")
                gs.save_canonical_map(mapping, root, "b0")
        with tracer.span("html_extract.pages_to_text", "html_extract"):
            pages_to_text(self.pages).count()
        n, d = expect.spark_digest(expect.triple_line(triples), triples)
        if (n, d) != self.expected:
            raise RuntimeError("traced extract + link output differs from "
                               "the expected triples")
        self._literals += base.filter(~F.col("obj_is_iri")
                                      & F.col("obj").isNotNull()).count()
        self._mentions += n_mentions
        if self._probe_canonicalize(tracer, triples) != _pairs_digest(mapping):
            raise RuntimeError("canonicalize replay's member mapping differs "
                               "from canonicalize_subjects' mapping; the "
                               "replay no longer follows the program")
        files = _dir_files(os.path.join(root, "data"), ".parquet")
        self._files += len(files)
        self._bytes += sum(os.path.getsize(f) for f in files)
        self._committed += manifest["n_triples"]
        self._raw += n_base + n_mentions
        return manifest["n_triples"], op_span["end"] - op_span["start"]

    def _probe_canonicalize(self, tracer, triples) -> tuple[int, int]:
        """Replay canonicalize_subjects' steps one public function at a time,
        with its own default parameters, to count and time each layer.
        → digest of the member-level mapping the replay arrives at, which
        must equal the real call's."""
        from pyspark.sql import Window
        from rdf_tabular_spark import web
        from rdf_tabular_spark.operators.components import canonical_mapping
        from rdf_tabular_spark.operators.minhash import (
            lsh_candidate_pairs, minhash_signatures, signature_similarity_edges)
        p = {k: v.default for k, v in
             inspect.signature(web.canonicalize_subjects).parameters.items()}
        held: list = []
        with tracer.span(f"{self.name}.probe"):
            with tracer.span("web.subject_profiles", "web.canonicalize"):
                members = web.subject_profiles(triples).withColumn(
                    "rep", F.min("subj").over(Window.partitionBy("profile"))
                ).persist()
                reps = (members.filter(F.col("subj") == F.col("rep"))
                        .select("subj", "profile").persist())
                self._reps += reps.count()
            with tracer.span("minhash.minhash_signatures", "minhash"):
                sigs = minhash_signatures(reps, "subj", "profile",
                                          num_perm=p["num_perm"],
                                          token_sep="|").persist()
                sigs.count()
            with tracer.span("minhash.lsh_candidate_pairs", "minhash"):
                self._candidates += lsh_candidate_pairs(
                    sigs, p["num_bands"], p["max_bucket"], held,
                    p["min_band_matches"]).count()
            with tracer.span("minhash.signature_similarity_edges", "minhash"):
                edges = signature_similarity_edges(
                    sigs, p["num_bands"], p["threshold"], p["max_bucket"],
                    held, p["min_band_matches"]).persist()
                self._edges += edges.count()
            with tracer.span("components.canonical_mapping", "components"):
                rep_map = canonical_mapping(edges).persist()
                rep_map.count()
        return _pairs_digest(
            members.join(rep_map, members["rep"] == rep_map["id"], "left")
            .select(F.col("subj").alias("id"),
                    F.coalesce("canonical_id", "rep").alias("canonical_id"))
            .filter(F.col("id") != F.col("canonical_id")))

    def layer_metrics(self, ctx, tracer, timed):
        ops = _span_count(tracer, f"{self.name}.op")
        return {
            "html_extract.parse_s":
                tracer.self_time("html_extract.pages_to_text") / ops,
            "web.map_s": tracer.self_time("web.pages_to_combined_triples") / ops,
            "web.link_s": tracer.self_time("web.link_entities") / ops,
            "web.link_hit_ratio": self._mentions / max(1, self._literals),
            "minhash.signatures_s":
                tracer.self_time("minhash.minhash_signatures") / ops,
            "minhash.reps": self._reps / ops,
            "minhash.candidate_pairs": self._candidates / ops,
            "minhash.verified_edges": self._edges / ops,
            "minhash.edge_yield": self._edges / max(1, self._candidates),
            "components.mapping_s":
                tracer.self_time("components.canonical_mapping") / ops,
            "components.merged_subjects": self._merged / ops,
            "graph_store.materialize_s":
                tracer.self_time("graph_store.materialize") / ops,
            "graph_store.files_written": self._files / ops,
            "graph_store.bytes_per_triple": self._bytes / max(1, self._committed),
            "graph_store.dedup_ratio": self._committed / max(1, self._raw),
            "scaling_eff": self._scaling_eff(ctx),
            **self.probe.metrics(),
        }

    def _scaling_eff(self, ctx) -> float:
        """Extract + link on this run's pages with all ``nproc`` task slots
        busy, then on the same pages in one partition, so that one task
        slot does all the work: (thr_n / thr_1) / nproc. Both in this
        session: a second session at ``local[1]`` costs another JVM start
        and warm-up, which the traced run's time limit cannot afford."""
        thr = []
        for pages in (self.pages, self.pages.coalesce(1)):
            t0 = time.perf_counter()
            n, d = extract_and_link(pages, self.ents)
            thr.append(n / (time.perf_counter() - t0))
            if (n, d) != self.expected:
                raise RuntimeError("extract + link output differs from the "
                                   "expected triples")
        return thr[0] / thr[1] / ctx.cores


def _pairs_digest(mapping: DataFrame) -> tuple[int, int]:
    return expect.spark_digest(
        F.concat_ws("\t", "id", "canonical_id"), mapping)


# ------------------------------------------------------- read probe ----

class ReadProbe:
    """Reads a store the way a query service would, one query at a time:
    point lookups (read_subject), predicate scans (read_predicate) and
    2-3-pattern star BGPs (bgp_match_store) with seeded targets taken from
    the generated pages. Every result is checked against the same query
    over an unpruned read_graph with plain filters."""

    GROUPS = {"lookup": "graph_store.read_subject",
              "scan": "graph_store.read_predicate",
              "bgp": "graph_store.bgp_match_store"}

    def __init__(self, seed: int, pages: list[tuple[str, str]], per_kind: int = 2):
        rng = random.Random(seed)
        self.queries = []
        for _ in range(per_kind):
            url, html = rng.choice(pages)
            gid = rng.choice(expect._ROW.findall(html))
            self.queries += [
                ("lookup", f"{url}#gid-{expect._CELL.findall(gid)[0]}"),
                ("scan", f"{url}#{rng.choice(expect._COLS)}"),
                ("bgp", tuple(f"{url}#{c}" for c in
                              rng.sample(expect._COLS, rng.choice((2, 3))))),
            ]
        self.lat: dict[str, list[float]] = {k: [] for k in self.GROUPS}
        self.files: dict[str, list[int]] = {"lookup": [], "scan": []}
        self.live_ms: list[float] = []
        self.bgp_rows: list[int] = []
        self.rows = 0

    @staticmethod
    def _patterns(preds) -> list[tuple]:
        return [("?s", p, f"?o{j}") for j, p in enumerate(preds)]

    def _query(self, spark, root, q) -> DataFrame:
        from rdf_tabular_spark.sinks import graph_store as gs
        kind, arg = q
        if kind == "lookup":
            return gs.read_subject(spark, root, arg).select(TERM_COLS)
        if kind == "scan":
            return gs.read_predicate(spark, root, arg).select(TERM_COLS)
        return gs.bgp_match_store(spark, root, self._patterns(arg))

    @staticmethod
    def _unpruned(spark, root, q) -> list[tuple]:
        from rdf_tabular_spark.sinks.graph_store import read_graph
        g = read_graph(spark, root)
        kind, arg = q
        if kind != "bgp":
            col = "subj" if kind == "lookup" else "pred"
            return [tuple(r) for r in
                    g.filter(F.col(col) == arg).select(TERM_COLS).collect()]
        by_pred: dict[str, dict[str, list[str]]] = {p: {} for p in arg}
        for s, p, o in g.filter(F.col("pred").isin(list(arg))) \
                .select("subj", "pred", "obj").collect():
            by_pred[p].setdefault(s, []).append(o)
        rows = [(s,) for s in by_pred[arg[0]]]
        for p in arg:
            rows = [r + (o,) for r in rows for o in by_pred[p].get(r[0], [])]
        return rows

    def run(self, spark, root: str, tracer, corrupt: bool = False) -> list[str]:
        """Run every query under a span; → failure notes."""
        from rdf_tabular_spark.sinks.graph_store import live_batches
        failures = []
        for q in self.queries:
            kind, group = q[0], self.GROUPS[q[0]]
            with tracer.span("read_probe.query") as span:
                with tracer.span("graph_store.live_batches"):
                    t0 = time.perf_counter()
                    live_batches(root)
                    self.live_ms.append((time.perf_counter() - t0) * 1000)
                with tracer.span(group, group):
                    df = self._query(spark, root, q)
                    got = [tuple(r) for r in df.collect()]
            self.lat[kind].append((span["end"] - span["start"]) * 1000)
            if kind == "bgp":
                self.bgp_rows.append(len(got))
            else:
                self.files[kind].append(_files_read(df))
            self.rows += len(got)
            if corrupt and got:
                got = got[1:]
            if sorted(got, key=repr) != sorted(self._unpruned(spark, root, q),
                                               key=repr):
                failures.append(f"read probe: {kind} {q[1]!r} differs from "
                                f"the unpruned read")
        if not self.rows:
            failures.append("read probe: every query came back empty")
        return failures

    def metrics(self) -> dict:
        def mean(xs):
            return sum(xs) / len(xs) if xs else 0.0
        pct, tail = percentile_with_support(
            [v for k in self.lat for v in self.lat[k]])
        return {
            "lookup_p50_ms": statistics.median(self.lat["lookup"]),
            "scan_p50_ms": statistics.median(self.lat["scan"]),
            "bgp_p50_ms": statistics.median(self.lat["bgp"]),
            "query_tail_ms": tail,
            "query_tail_pct": pct,
            "query_samples": sum(len(v) for v in self.lat.values()),
            "graph_store.files_per_lookup": mean(self.files["lookup"]),
            "graph_store.files_per_scan": mean(self.files["scan"]),
            "graph_store.live_batches_ms": mean(self.live_ms),
            "bgp.rows_out": mean(self.bgp_rows),
        }


def _files_read(df: DataFrame) -> int:
    """Files the executed scans read after partition and file pruning: the
    sum of the scan nodes' ``numFiles`` metric."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    total = 0
    for k in range(leaves.size()):
        metrics = leaves.apply(k).metrics()
        if metrics.contains("numFiles"):
            total += int(metrics.apply("numFiles").value())
    return total


# -------------------------------------------------------------- csvw ----

class _CsvwTable:
    """One generated table on disk: ``items.csv`` and its metadata file,
    published under :data:`expect.CSVW_BASE`."""

    def __init__(self, path: str, seed: int, n_rows: int):
        os.makedirs(path, exist_ok=True)
        self.rows = expect.csvw_rows(seed, n_rows)
        with open(os.path.join(path, "items.csv"), "w", encoding="utf-8",
                  newline="") as f:
            f.write(expect.csvw_csv_text(self.rows))
        self.meta_path = os.path.join(path, "items.csv-metadata.json")
        with open(self.meta_path, "w", encoding="utf-8") as f:
            json.dump(expect.CSVW_METADATA, f)
        self.base = expect.CSVW_BASE + "items.csv-metadata.json"
        self.resolver = (lambda u: os.path.join(path, u[len(expect.CSVW_BASE):])
                         if u.startswith(expect.CSVW_BASE) else u)
        self.expected = None

    def expect(self) -> tuple[int, int]:
        if self.expected is None:
            self.expected = expect.py_digest(expect.csvw_expected_lines(self.rows))
        return self.expected


class CsvwConvert(_Workload):
    """CSV + CSVW metadata → standard-mode triples → N-Triples files."""

    name = "csvw_convert"
    n_rows = 20000

    def setup(self, ctx, rep):
        """Write the table and its metadata, then load the metadata and
        read the rows once through the program."""
        from rdf_tabular_spark.csvw.model import load_metadata
        from rdf_tabular_spark.sources.csv_source import read_rows
        n_rows = max(10, int(self.n_rows * ctx.scale))
        self.table = t = _CsvwTable(ctx.path(f"csvw-{rep}"), ctx.seed, n_rows)
        meta = load_metadata(t.meta_path, base=t.base, resolver=t.resolver)
        got = read_rows(ctx.spark, t.resolver(meta.url), meta.dialect).count()
        if got != n_rows:
            raise RuntimeError(f"csvw_convert set-up: read {got} rows of "
                               f"{n_rows}")

    def prepare(self, ctx):
        self.table.expect()

    def op(self, ctx, i, tracer=None):
        return self._convert(ctx, self.table, ctx.path(f"nt-op{i}"), tracer)

    _written = _ops = 0

    def _convert(self, ctx, table: _CsvwTable, out: str, tracer=None):
        from rdf_tabular_spark.pipeline import csvw_to_triples
        from rdf_tabular_spark.sinks.ntriples import write_ntriples
        if tracer is not None:
            dt = self._traced(ctx, tracer, table, out)
        else:
            t0 = time.perf_counter()
            write_ntriples(csvw_to_triples(ctx.spark, table.meta_path,
                                           base=table.base,
                                           resolver=table.resolver,
                                           minimal=False), out)
            dt = time.perf_counter() - t0
        if ctx.corrupt:
            _drop_first_line(out)
        n, d = expect.ntriples_digest(ctx.spark.read.text(out))
        if tracer is not None:
            self._written += sum(os.path.getsize(f)
                                 for f in _dir_files(out, ".txt"))
            self._ops += 1
        shutil.rmtree(out, ignore_errors=True)
        ok = (n, d) == table.expect()
        note = "" if ok else (f"csvw_convert: {n} lines, digest {d}; expected "
                              f"{table.expected[0]}, {table.expected[1]}")
        return OpResult(n, dt, ok, note=note)

    def _traced(self, ctx, tracer, table: _CsvwTable, out: str) -> float:
        """pipeline.table_to_triples, one public step at a time."""
        from rdf_tabular_spark.csvw.model import load_metadata
        from rdf_tabular_spark.operators.triples import (compile_mapping,
                                                         local_triples_df,
                                                         rows_to_triples)
        from rdf_tabular_spark.pipeline import (ensure_columns_from_data,
                                                merge_embedded_titles,
                                                table_level_triples)
        from rdf_tabular_spark.sinks.ntriples import write_ntriples
        from rdf_tabular_spark.sources.csv_source import read_header, read_rows
        with tracer.span(f"{self.name}.op") as span:
            with tracer.span("csvw.load_metadata", "csvw.load"):
                meta = load_metadata(table.meta_path, base=table.base,
                                     resolver=table.resolver)
                path = table.resolver(meta.url)
                titles, _ = read_header(path, meta.dialect)
                merge_embedded_titles(meta, titles)
                ensure_columns_from_data(meta, path)
            with tracer.span("triples.compile_mapping", "csvw.load"):
                mapping = compile_mapping(meta, minimal=False)
            with tracer.span("csv_source.read_rows", "csv_source"):
                rows = read_rows(ctx.spark, path, meta.dialect).persist()
                rows.count()
            with tracer.span("triples.rows_to_triples", "triples"):
                data = rows_to_triples(rows, mapping).persist()
                data.count()
            extra = local_triples_df(ctx.spark, [
                t + (meta.url, 0) for t in
                table_level_triples(meta, mapping.table_resource, False)])
            with tracer.span("ntriples.write_ntriples", "ntriples"):
                write_ntriples(data.unionByName(extra), out)
        return span["end"] - span["start"]

    def layer_metrics(self, ctx, tracer, timed):
        ops = _span_count(tracer, f"{self.name}.op")
        return {
            "csvw.load_s": (tracer.self_time("csvw.load_metadata")
                            + tracer.self_time("triples.compile_mapping")) / ops,
            "csv_source.read_rows_s": tracer.self_time("csv_source.read_rows") / ops,
            "triples.rows_to_triples_s":
                tracer.self_time("triples.rows_to_triples") / ops,
            "ntriples.write_s": tracer.self_time("ntriples.write_ntriples") / ops,
            "ntriples.bytes_written": self._written / max(1, self._ops),
        }


def _drop_first_line(out: str) -> None:
    for f in sorted(_dir_files(out, ".txt")):
        with open(f, encoding="utf-8") as fh:
            lines = fh.readlines()
        if lines:
            with open(f, "w", encoding="utf-8") as fh:
                fh.writelines(lines[1:])
            for crc in _dir_files(out, ".crc"):
                os.remove(crc)
            return


WORKLOADS = {w.name: w for w in (CrawlBuild, CsvwConvert)}
