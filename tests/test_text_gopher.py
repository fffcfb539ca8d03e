"""Gopher-rule firing on crafted documents (the oracle query checks value
parity on the fixture corpus; this checks each rule actually rejects the
pathology it is aimed at)."""

from pyspark.sql import functions as F

from rdf_tabular_spark.operators.text import gopher_metrics, gopher_pass


def _eval(spark, text):
    df = spark.createDataFrame([(text,)], "text string")
    m = gopher_metrics(F.col("text"))
    row = df.select(*[v.alias(k) for k, v in m.items()],
                    gopher_pass(F.col("text")).alias("passes")).first()
    return row.asDict()


def test_normal_prose_passes(spark):
    r = _eval(spark, "the quick brown fox jumps over the lazy dog and "
                     "then it runs away into the quiet woods")
    assert r["passes"] is True
    assert r["stop_hits"] >= 1 and r["alpha_word_ratio"] == 1.0


def test_bullet_spam_fails(spark):
    text = "\n".join(f"- the item {i}" for i in range(20))
    r = _eval(spark, text)
    assert r["bullet_line_ratio"] == 1.0
    assert r["passes"] is False


def test_ellipsis_spam_fails(spark):
    text = "\n".join(f"the teaser line {i} continues..." for i in range(10))
    r = _eval(spark, text)
    assert r["ellipsis_line_ratio"] == 1.0
    assert r["passes"] is False


def test_symbol_soup_fails(spark):
    r = _eval(spark, "the #tag #spam #wall of #hashtags #everywhere "
                     "#and #more #tags #again #loud")
    assert r["symbol_ratio"] > 0.1
    assert r["passes"] is False


def test_numeric_table_fails_alpha_ratio(spark):
    r = _eval(spark, "the 1 2 3 4 5 6 7 8 9 10 11 12 13 14 15 16")
    assert r["alpha_word_ratio"] < 0.8
    assert r["passes"] is False


def test_too_short_fails(spark):
    r = _eval(spark, "the end")
    assert r["n_words"] == 2
    assert r["passes"] is False


def test_duplicate_lines_fail(spark):
    text = "\n".join(["the same boilerplate line here"] * 8
                     + [f"the unique line number {i}" for i in range(2)])
    r = _eval(spark, text)
    assert r["dup_line_ratio"] == 0.7
    assert r["passes"] is False


def test_repeated_bigram_fails(spark):
    text = "the spam " * 30 + "and some other real words follow here"
    r = _eval(spark, text)
    assert r["top_bigram_ratio"] > 0.18
    assert r["passes"] is False


def test_avg_token_len(spark):
    from pyspark.sql import functions as F
    from rdf_tabular_spark.operators.text import avg_token_len
    df = spark.createDataFrame([("ab abcd",)], "t string")
    assert df.select(avg_token_len(F.col("t"))).first()[0] == 3.0


def test_classifier_margin_separates_prose_from_soup(spark):
    from rdf_tabular_spark.operators import text as T
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog and it is a "
             "fine day for a walk in the park with friends"),
         (2, "$$$ ((( ]]] ... ;;; !!! ??? ,,, ::: --- ((( )))")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["m"] for r in df.select(
        "doc_id", T.classifier_margin(F.col("text")).alias("m")).collect()}
    assert got[1] > 0          # stopword-rich prose clears the gate
    assert got[2] < 0          # symbol soup: punct term dominates


def test_classifier_margin_is_deterministic_python_model(spark):
    # recompute the margin in pure python over the same feature definitions
    from rdf_tabular_spark.operators import text as T
    texts = ["a short one.", "the cat sat on the mat with a hat",
             "numbers 123 456 789 only here", "!!!"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = {r["doc_id"]: r["m"] for r in df.select(
        "doc_id", T.classifier_margin(F.col("text")).alias("m")).collect()}
    punct = set(".,;:!?'\"()[]-")
    for i, t in enumerate(texts):
        toks = t.strip().split()
        stop = sum(tok in T.ENGLISH_STOPWORDS for tok in toks) / len(toks)
        lenf = min(len(toks) / 50.0, 1.0)
        pr = sum(c in punct for c in t) / len(t) if t else 0.0
        awl = min(sum(len(tok) for tok in toks) / len(toks) / 8.0, 1.0)
        w = T.CLASSIFIER_WEIGHTS
        exp = (w["bias"] + stop * w["stop_ratio"] + lenf * w["len_feat"]
               + pr * w["punct_ratio"] + awl * w["awl_feat"])
        assert abs(got[i] - exp) < 1e-6, (i, got[i], exp)


def test_script_counts_and_dominant(spark):
    from pyspark.sql import functions as F

    from rdf_tabular_spark.operators.text import (dominant_script,
                                                  script_counts)
    rows = [("hello world",), ("привет мир",), ("你好世界 こんにちは",),
            ("مرحبا",), ("αβγ",), ("12345 !!!",), ("mix мир мир",)]
    df = spark.createDataFrame(rows, "t string")
    counts = script_counts(F.col("t"))
    out = df.select("t", *[c.alias(k) for k, c in counts.items()],
                    dominant_script(F.col("t")).alias("d")).collect()
    by = {r.t: r for r in out}
    assert by["hello world"].d == "latin" and by["hello world"].latin == 10
    assert by["привет мир"].d == "cyrillic"
    assert by["你好世界 こんにちは"].d == "cjk" and by["你好世界 こんにちは"].cjk == 9
    assert by["مرحبا"].d == "arabic"
    assert by["αβγ"].d == "greek"
    assert by["12345 !!!"].d == "none"          # no letters at all
    assert by["mix мир мир"].d == "cyrillic"    # 6 cyr > 3 latin
