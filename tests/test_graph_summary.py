"""Unit tests for the graph-summarization tier: characteristic sets,
predicate co-occurrence, skip-gram pairs — hand-computed
expectations on tiny fixtures (the oracle-parity sweep covers the big
ones)."""

import pytest

from rdf_tabular_spark.operators.graph import (characteristic_sets,
                                               pred_cooccurrence,
                                               skipgram_pairs)

NS = "http://x.org/t#"


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        # s1: {name, age}; s2: {name, age} (same set); s3: {name}
        ("s1", NS + "name", "a"), ("s1", NS + "age", "1"),
        ("s2", NS + "name", "b"), ("s2", NS + "age", "2"),
        ("s2", NS + "age", "3"),          # duplicate predicate — one set entry
        ("s3", NS + "name", "c"),
    ]
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_characteristic_sets(spark, triples):
    out = {(r["cs"], r["n_props"]): r["n_subjects"]
           for r in characteristic_sets(triples).collect()}
    assert out == {("age name", 2): 2, ("name", 1): 1}


def test_pred_cooccurrence(spark, triples):
    out = {(r["p1"], r["p2"]): r["n_subjects"]
           for r in pred_cooccurrence(triples).collect()}
    assert out == {("age", "name"): 2}


def test_skipgram_window(spark):
    # one walk 0->a->b->c (steps 0..2): window 1 pairs each adjacent step
    walks = spark.createDataFrame(
        [("w", 0, 0, "a"), ("w", 0, 1, "b"), ("w", 0, 2, "c")],
        "start string, walk long, step long, node string")
    out = {(r["center"], r["context"]): r["n_pairs"]
           for r in skipgram_pairs(walks, window=1).collect()}
    assert out == {("a", "b"): 1, ("b", "a"): 1,
                   ("b", "c"): 1, ("c", "b"): 1}


