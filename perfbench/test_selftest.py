"""Self-tests of the benchmark itself (not of the program).

    python3 -m pytest perfbench -q

The Spark-backed tests run csvw_convert on a 400-row table and crawl_build
on a 40-page crawl (seconds of work each, plus session start-up; about
four minutes in all on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, CrawlBuild, CsvwConvert  # noqa: E402

SMALL = 0.02  # 400-row table
SMALL_CRAWL = 40 / CrawlBuild.n_pages  # 40 pages


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _run(tmp_path, name: str, seed: int = 1, trace: bool = False,
         corrupt: bool = False):
    w = CsvwConvert()
    out = harness.run(w, seed, 0, trace, str(tmp_path / name), scale=SMALL,
                      corrupt=corrupt)
    return w, out["result"]


# ------------------------------------------------------------ static ----

def test_declared_metrics_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == harness.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert spec["paths"] == ["perfbench"]


def test_self_time_subtracts_children():
    t = Tracer("r")
    with t.span("root") as root:
        with t.span("a"):
            pass
        with t.span("b"):
            pass
    kids = sum(s["end"] - s["start"] for s in t.spans if s["parent"] == root["id"])
    assert t.self_time("root") == pytest.approx(
        (root["end"] - root["start"]) - kids)
    assert [s["parent"] for s in t.spans] == [None, 0, 0]
    assert {s["run_id"] for s in t.spans} == {"r"}


def test_percentile_needs_ten_samples_beyond():
    assert harness.percentile_with_support(list(range(15)))[0] == 50
    assert harness.percentile_with_support(list(range(100))) == (90, 89)
    assert harness.percentile_with_support(list(range(200)))[0] == 95


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = _spec()["command"] + ["--workload", "csvw_convert", "--seed", "1",
                                "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True,
                          timeout=170, check=False)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


# ------------------------------------------------------------- spark ----

def test_dropped_triple_is_reported_failed(tmp_path):
    _, res = _run(tmp_path, "corrupt", corrupt=True)
    assert res["attempted"] >= 2
    assert res["failed"] == res["attempted"]
    assert res["correct"] is False


def test_seed_changes_inputs_not_metric_names(tmp_path):
    w1, r1 = _run(tmp_path, "s1", seed=1)
    w2, r2 = _run(tmp_path, "s2", seed=2)
    assert w1.table.rows != w2.table.rows
    assert w1.table.expected != w2.table.expected
    assert r1["correct"] and r2["correct"]
    assert set(r1["metrics"]) == set(r2["metrics"]) == set(harness.END_TO_END)


def test_printed_metric_names_are_declared(tmp_path):
    spec = _spec()
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    _, plain = _run(tmp_path, "plain")
    _, traced = _run(tmp_path, "traced", trace=True)
    assert traced["correct"]
    for res in (plain, traced):
        for name, m in res["metrics"].items():
            assert declared.get(name) == m["unit"], name
    assert set(traced["metrics"]) == {m["name"] for m in spec["per_layer"]}
    assert traced["metrics"]["triples.rows_to_triples_s"]["value"] > 0
    assert traced["metrics"]["triples.tasks"]["value"] > 0


def _duplicates_committed(monkeypatch):
    """materialize without its dedup: duplicate triples are committed and
    counted in the manifest."""
    from rdf_tabular_spark.sinks import graph_store
    monkeypatch.setattr(graph_store, "dedup_triples", lambda t: t)


def _extra_triple_committed(monkeypatch):
    """One fabricated mention triple more than the pages hold."""
    from pyspark.sql import functions as F
    from rdf_tabular_spark import web
    real = web.link_entities

    def link_entities(triples, ents, *a, **kw):
        out = real(triples, ents, *a, **kw)
        return out.unionByName(out.limit(1).withColumn(
            "obj", F.lit("https://kg.example.org/entity/fabricated")))
    monkeypatch.setattr(web, "link_entities", link_entities)


@pytest.mark.parametrize("corrupt, note", [
    (_duplicates_committed, "duplicate triples"),
    (_extra_triple_committed, "committed set")])
def test_corrupted_crawl_store_is_reported_failed(tmp_path, monkeypatch,
                                                  corrupt, note):
    """A store whose manifest matches what reads back, but which holds
    duplicates or a triple the pages do not contain, fails every op."""
    corrupt(monkeypatch)
    out = harness.run(CrawlBuild(), 1, 0, False, str(tmp_path / "crawl"),
                      scale=SMALL_CRAWL)
    res = out["result"]
    assert res["attempted"] >= 2
    assert res["failed"] == res["attempted"], out["report"]["failures"]
    assert all(note in n for n in out["report"]["failures"])
