"""Edge semantics of the curation operators (operators/curate.py); the
DuckDB parity of the full pipeline is covered by test_queries_oracle."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from rdf_tabular_spark.operators import curate as C


def _scrub(spark, text):
    df = spark.createDataFrame([Row(text=text)])
    counts = C.pii_counts(F.col("text"))
    row = df.select(C.scrub_pii(F.col("text")).alias("clean"),
                    *[v.alias(k) for k, v in counts.items()]).head()
    return row


def test_scrub_order_ip_before_phone(spark):
    # the dotted quad must become [IP], not be half-eaten by the phone pass
    r = _scrub(spark, "server 10.20.30.40 dial +1 555-123-4567 now")
    assert r["clean"] == "server [IP] dial [PHONE] now"
    assert (r["n_emails"], r["n_ips"], r["n_phones"]) == (0, 1, 1)


def test_scrub_email_keeps_digits_intact(spark):
    r = _scrub(spark, "mail bob123456789@corp.example.com please")
    assert r["clean"] == "mail [EMAIL] please"
    assert r["n_emails"] == 1 and r["n_phones"] == 0


def test_scrub_empty_and_clean_text(spark):
    assert _scrub(spark, "")["clean"] == ""
    r = _scrub(spark, "no pii here at all")
    assert r["clean"] == "no pii here at all"
    assert (r["n_emails"], r["n_ips"], r["n_phones"]) == (0, 0, 0)


def test_pack_sequences_respects_budget_boundaries(spark):
    # 4 docs of 3 tokens in one group, budget 5: prefix sums 0,3,6,9 ->
    # seq_no 0,0,1,1 (greedy in-order; a doc starts the sequence its
    # exclusive prefix falls in)
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="a b c") for i in range(4)])
    out = C.pack_sequences(docs, budget=5, n_groups=1) \
           .orderBy("doc_id").collect()
    assert [r["seq_no"] for r in out] == [0, 0, 1, 1]
    assert all(r["grp"] == 0 for r in out)
    assert all(r["n_tok"] == 3 for r in out)


def test_pack_sequences_groups_pack_independently(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="w " * 10) for i in range(40)])
    out = C.pack_sequences(docs, budget=20, n_groups=4).collect()
    grps = {r["grp"] for r in out}
    assert grps <= set(range(4)) and len(grps) > 1
    # within every group the seq_no sequence is 0,0,1,1,... in doc order
    by_grp = {}
    for r in sorted(out, key=lambda r: r["doc_id"]):
        by_grp.setdefault(r["grp"], []).append(r["seq_no"])
    for seqs in by_grp.values():
        assert seqs == sorted(seqs)
        assert seqs[0] == 0


def test_stratified_sample_rate_one_and_zero(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, lang="en" if i % 2 else "de") for i in range(100)])
    kept = C.stratified_sample(docs, "doc_id", "lang", {"en": 1.0}) \
            .collect()
    assert all(r["lang"] == "en" for r in kept)  # default rate 0 drops de
    assert len(kept) == 50  # rate 1.0 keeps every en row


def test_contamination_zero_overlap_rows_present(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=0, text="alpha beta gamma delta"),
         Row(doc_id=1, text="totally different words here")])
    bench = spark.createDataFrame([Row(text="alpha beta gamma")])
    out = {r["doc_id"]: r for r in C.flag_contamination(docs, bench).collect()}
    assert out[0]["contaminated"] and out[0]["n_overlap"] == 1
    assert not out[1]["contaminated"] and out[1]["n_overlap"] == 0


def test_pii_regex_cross_engine_fuzz(spark):
    """The PII patterns must behave identically under Java regex (Spark)
    and RE2 (DuckDB) — the oracle contract. One batched comparison over a
    seeded corpus of adversarial fragments: emails, dotted quads, digit
    runs with separators, unicode, and malformed near-misses."""
    import random

    import duckdb
    import pandas as pd

    rng = random.Random(42)
    frags = ["bob@x.co", "a.b-c_d%e+f@mail.example.org", "x@y", "@nope.com",
             "10.0.0.1", "999.999.999.999", "1.2.3.4.5", "1.2.3",
             "+1 555-123-4567", "0123456789", "12 34 56 78 90",
             "+49-170-1234567", "12345", "---", "+", "a+b", "3.14159",
             "v1.2.3.4-rc", "東京 100-0001", "tel:+81 3 1234 5678",
             "café@münchen.de", "1-2", "..", "a@b.cd e@f.gh",
             "192.168.0.254:8080", "55 555 5555 55555 5"]
    words = ["alpha", "beta", "12", "x", "", "\n", "\t", "—", "(", ")"]
    texts = []
    for _ in range(300):
        n = rng.randint(0, 8)
        texts.append(" ".join(rng.choice(frags if rng.random() < 0.5
                                         else words) for _ in range(n)))
    pdf = pd.DataFrame({"i": range(len(texts)), "text": texts})

    counts = C.pii_counts(F.col("text"))
    got = (spark.createDataFrame(pdf)
           .select("i", C.scrub_pii(F.col("text")).alias("clean"),
                   *[v.alias(k) for k, v in counts.items()])
           .orderBy("i").collect())

    con = duckdb.connect()
    con.register("t", pdf)
    sql = f"""
    with p1 as (select i,
            len(regexp_extract_all(text, '{C.PII_EMAIL_RE}'))::bigint as n_emails,
            regexp_replace(text, '{C.PII_EMAIL_RE}', '[EMAIL]', 'g') as t from t),
    p2 as (select i, n_emails,
            len(regexp_extract_all(t, '{C.PII_IPV4_RE}'))::bigint as n_ips,
            regexp_replace(t, '{C.PII_IPV4_RE}', '[IP]', 'g') as t from p1)
    select i, regexp_replace(t, '{C.PII_PHONE_RE}', '[PHONE]', 'g') as clean,
           n_emails, n_ips,
           len(regexp_extract_all(t, '{C.PII_PHONE_RE}'))::bigint as n_phones
    from p2 order by i
    """
    want = con.execute(sql).fetchall()
    for s, d in zip(got, want):
        assert (s["i"], s["clean"], s["n_emails"], s["n_ips"],
                s["n_phones"]) == tuple(d), (s, d)


def test_curation_report_reason_precedence(spark):
    good = ("the quick brown fox jumps over the lazy dog and then "
            "the fox sleeps for a while under the old tree")
    docs = spark.createDataFrame(
        [Row(doc_id=0, text=good, lang="en"),
         Row(doc_id=1, text=good, lang="en"),          # dup of 0
         Row(doc_id=2, text=good, lang="fr"),          # lang mismatch
         Row(doc_id=3, text="###", lang="en"),         # gopher fail
         Row(doc_id=4, text=good + " extended", lang="xx")])  # unknown lang
    from rdf_tabular_spark.operators.curate import curation_report
    out = {r["doc_id"]: r["reason"] for r in curation_report(docs).collect()}
    assert out[0] == "keep"
    assert out[1] == "duplicate"   # min-key representative wins
    assert out[2] == "lang_mismatch"
    assert out[3] == "gopher"
    assert out[4] == "keep"        # out-of-model language passes through


def test_cap_per_source_semantics(spark):
    """Cap respected per source, selection deterministic across calls, and
    under-cap sources pass through untouched."""
    rows = [(i, f"host{i % 3}") for i in range(30)] + [(100, "rare")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    capped = C.cap_per_source(df, max_docs=4)
    counts = {r["source"]: r["n"] for r in
              capped.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == {"host0": 4, "host1": 4, "host2": 4, "rare": 1}
    ids1 = sorted(r["doc_id"] for r in capped.collect())
    ids2 = sorted(r["doc_id"]
                  for r in C.cap_per_source(df, max_docs=4).collect())
    assert ids1 == ids2  # md5 rank, not partition order
    assert "_cap_rank" not in capped.columns


def test_c4_clean_lines(spark):
    """C4 §2.2 line rules: terminal punctuation required, min word count,
    javascript / lorem ipsum / brace lines dropped; counts add up."""
    from rdf_tabular_spark.operators.curate import c4_clean_lines
    text = "\n".join([
        "A proper sentence with enough words.",   # kept
        'He said "stop right there"',              # kept (ends in quote)
        "no terminal punctuation here",            # dropped
        "Too short.",                              # dropped (< 3 words)
        "Enable JavaScript to view this page.",    # dropped
        "standard Lorem Ipsum filler text here.",  # dropped
        "config = {debug: true}.",                 # dropped (brace)
        "Ends with a question mark?",              # kept
    ])
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = c4_clean_lines(docs).collect()[0]
    assert r["clean_text"].split("\n") == [
        "A proper sentence with enough words.",
        'He said "stop right there"',
        "Ends with a question mark?"]
    assert r["n_kept"] == 3 and r["n_removed"] == 5


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


def test_mixture_sample_semantics(spark):
    """Computed-rate mixture sampling: saturated strata keep everything,
    unweighted strata drop entirely, and the filter is deterministic."""
    from rdf_tabular_spark.operators.curate import mixture_sample

    rows = [(i, "en" if i % 2 == 0 else ("tiny" if i % 4 == 1 else "es"), 100)
            for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    # en volume = 20000, tiny = 10000, es = 10000 (unweighted)
    out = mixture_sample(df, "doc_id", "lang",
                         {"en": 0.25, "tiny": 0.75}, 20000)
    kept = out.groupBy("lang").count().collect()
    by_lang = {r["lang"]: r["count"] for r in kept}
    assert "es" not in by_lang                       # weight 0 → dropped
    assert by_lang["tiny"] == 100                    # rate saturates at 1.0
    # en rate = 0.25·20000/20000 = 0.25 → expect ~50 of 200, md5-uniform
    assert 25 <= by_lang.get("en", 0) <= 75
    # pure deterministic filter: identical output on re-evaluation
    assert sorted(map(tuple, out.collect())) \
        == sorted(map(tuple, mixture_sample(
            df.repartition(7), "doc_id", "lang",
            {"en": 0.25, "tiny": 0.75}, 20000).collect()))
