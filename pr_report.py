"""Corpus-wide triple precision/recall report — the north-rule gate artifact.

BASELINE.json's metric requires "triple P/R >= 0.95 vs reference on CSVW
test-suite fixtures". The per-fixture tests (tests/test_golden.py,
tests/test_suite_subset.py) assert P=R=1.0 fixture-by-fixture; this script
computes the AGGREGATE micro-averaged precision/recall over every RDF
fixture in one run and writes PR_REPORT.json, so the gate is evidenced by
one committed artifact rather than scattered assertions.

Fixture population:
  - the reference's own golden fixtures (/root/reference/spec/data,
    reference: spec/reader_spec.rb:50-80) — standard + minimal modes,
    metadata discovery included. A golden whose files are absent is
    reported as "not run": it adds nothing to the counts, and the report
    cannot pass while any golden is not run;
  - every `rdf` entry of the vendored conformance suite (tests/suite,
    modeled on spec/suite_spec.rb entry types) — exact set comparison;
  - every `rdf-contains` entry — expected is a subset, so these
    contribute to recall only (precision over a declared subset is
    undefined by construction).

Comparison is bnode-canonicalized and numeric-value-aware
(rdf_tabular_spark/rdfio/compare.py), the same equivalence the reference's
be_equivalent_graph check uses.

Run: python pr_report.py   (prints one JSON line, writes PR_REPORT.json)
"""

import json
import os
import sys

from pyspark.sql import SparkSession

from rdf_tabular_spark.pipeline import csvw_to_triples
from rdf_tabular_spark.rdfio.compare import canonicalize, df_to_terms
from rdf_tabular_spark.rdfio.turtle import parse_turtle_file

REPO = os.path.dirname(os.path.abspath(__file__))
REF_DATA = "/root/reference/spec/data"
REF_BASE = "http://example.org/"
SUITE = os.path.join(REPO, "tests", "suite")
SUITE_BASE = "http://example.org/suite/"

# (source, expected_ttl, minimal) — reference golden set, spec/reader_spec.rb
GOLDENS = [
    ("tree-ops.csv-metadata.json", "tree-ops-standard.ttl", False),
    ("tree-ops-ext.json", "tree-ops-ext-standard.ttl", False),
    ("tree-ops-virtual.json", "tree-ops-virtual-standard.ttl", False),
    ("countries.json", "countries-standard.ttl", False),
    ("roles.json", "roles-standard.ttl", False),
    ("country-codes-and-names.csv",
     "country-codes-and-names-standard.ttl", False),
    # discovery path: naked CSV finds {url}-metadata.json
    ("tree-ops.csv", "tree-ops-standard.ttl", False),
]


def _ref_resolver(url):
    if url.startswith(REF_BASE):
        return os.path.join(REF_DATA, url[len(REF_BASE):])
    return url


def _suite_resolver(url):
    if url.startswith(SUITE_BASE):
        return os.path.join(SUITE, url[len(SUITE_BASE):])
    return url


def main():
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .appName("pr_report").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    tp = fp = fn = 0          # micro counts over exact-set fixtures
    tp_rc = fn_rc = 0         # recall-only counts (rdf-contains)
    worst_p = worst_r = 1.0
    failures = []
    fixtures = []

    def account(name, ours, expected, recall_only=False):
        nonlocal tp, fp, fn, tp_rc, fn_rc, worst_p, worst_r
        if recall_only:
            # expected is a declared SUBSET: bnode-subject expectations
            # match any bnode with the same (pred, obj) tail — WL
            # canonicalization is undefined over a subset's neighborhood
            # (same contract as tests/test_suite_subset.py rdf-contains)
            ours_ground = set(ours)
            ours_bnode_po = {t[1:] for t in ours if t[0].kind == "bnode"}
            hit = sum(1 for t in expected
                      if (t[1:] in ours_bnode_po if t[0].kind == "bnode"
                          else t in ours_ground))
            n_exp = len(list(expected))
            r = hit / n_exp if n_exp else 1.0
            tp_rc += hit
            fn_rc += n_exp - hit
            if r < 1.0:
                failures.append({"fixture": name, "recall": r})
            worst_r = min(worst_r, r)
            fixtures.append({"fixture": name, "recall": round(r, 4),
                             "n_expected": n_exp})
            return
        got = canonicalize(ours)
        exp = canonicalize(expected)
        hit = len(got & exp)
        p = hit / len(got) if got else 1.0
        r = hit / len(exp) if exp else 1.0
        tp += hit
        fp += len(got) - hit
        fn += len(exp) - hit
        worst_p, worst_r = min(worst_p, p), min(worst_r, r)
        if p < 1.0 or r < 1.0:
            failures.append({"fixture": name, "precision": p, "recall": r})
        fixtures.append({"fixture": name, "precision": round(p, 4),
                         "recall": round(r, 4), "n_ours": len(got),
                         "n_expected": len(exp)})

    not_run = []
    for src, ttl, minimal in GOLDENS:
        name = "reference:" + src
        if not all(os.path.exists(os.path.join(REF_DATA, f))
                   for f in (src, ttl)):
            not_run.append(name)
            fixtures.append({"fixture": name, "status": "not run"})
            continue
        df = csvw_to_triples(spark, os.path.join(REF_DATA, src),
                             base=REF_BASE + src, resolver=_ref_resolver,
                             minimal=minimal)
        account(name, df_to_terms(df.collect()),
                parse_turtle_file(os.path.join(REF_DATA, ttl)))

    with open(os.path.join(SUITE, "manifest.json")) as f:
        manifest = json.load(f)
    for e in manifest:
        if e["type"] not in ("rdf", "rdf-contains"):
            continue
        df = csvw_to_triples(spark, os.path.join(SUITE, e["action"]),
                             base=SUITE_BASE + e["action"],
                             resolver=_suite_resolver,
                             minimal=(e["type"] == "rdf"))
        account("suite:" + e["id"], df_to_terms(df.collect()),
                parse_turtle_file(os.path.join(SUITE, e["result"])),
                recall_only=(e["type"] == "rdf-contains"))

    micro_p = tp / (tp + fp) if (tp + fp) else 1.0
    micro_r = (tp + tp_rc) / (tp + tp_rc + fn + fn_rc)
    report = {
        "metric": "triple micro P/R vs reference-emitted triples",
        "gate": "P >= 0.95 and R >= 0.95 (BASELINE.json)",
        "fixtures": len(fixtures) - len(not_run),
        "goldens_not_run": not_run,
        "triples_matched": tp + tp_rc,
        "micro_precision": round(micro_p, 6),
        "micro_recall": round(micro_r, 6),
        "min_fixture_precision": round(worst_p, 6),
        "min_fixture_recall": round(worst_r, 6),
        "failing_fixtures": failures,
        "pass": (micro_p >= 0.95 and micro_r >= 0.95 and not failures
                 and not not_run),
    }
    with open(os.path.join(REPO, "PR_REPORT.json"), "w") as f:
        json.dump({**report, "per_fixture": fixtures}, f, indent=1)
    print(json.dumps(report))
    spark.stop()
    return 0 if report["pass"] else 1


if __name__ == "__main__":
    sys.exit(main())
