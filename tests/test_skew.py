"""Skew handling: salted repartition must balance the Zipf host
distribution that plain key-repartitioning cannot."""

from pyspark.sql import functions as F

from rdf_tabular_spark.operators.skew import (partition_sizes,
                                              salted_repartition,
                                              two_stage_count)
from rdf_tabular_spark.sources.pages import synth_pages


def test_salted_repartition_balances_zipf_hosts(spark):
    pages = synth_pages(spark, 2000).select(
        "url", F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host"))
    pages = pages.persist()
    n_parts = 8

    plain = pages.repartition(n_parts, F.col("host"))
    plain_sizes = partition_sizes(plain)
    salted = salted_repartition(pages, "host", n_parts, spread_col="url")
    salted_sizes = partition_sizes(salted)

    total = sum(plain_sizes)
    assert total == sum(salted_sizes) == 2000
    mean = total / n_parts
    # the Zipf head (host0000 ~ a third of rows) makes some plain partition
    # dominate; salting must bring the max close to the mean
    assert max(salted_sizes) < max(plain_sizes)
    assert max(salted_sizes) <= 1.5 * mean, (plain_sizes, salted_sizes)
    pages.unpersist()


def test_two_stage_count_matches_plain_groupby(spark):
    pages = synth_pages(spark, 500).select(
        F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host"), "url")
    expect = {r["host"]: r["n"] for r in
              pages.groupBy("host").agg(F.count("*").alias("n")).collect()}
    got = {r["host"]: r["n"] for r in
           two_stage_count(pages, "host", spread_col="url").collect()}
    assert got == expect


def test_salted_key_spreads_within_bound(spark):
    from pyspark.sql import functions as F
    from rdf_tabular_spark.operators.skew import salted_key
    df = spark.createDataFrame([("h", f"u{i}") for i in range(50)],
                               "host string, url string")
    out = df.select(salted_key(F.col("host"), F.col("url"), salt=4)
                    .alias("k"))
    keys = {r["k"] for r in out.collect()}
    assert keys <= {f"h#{i}" for i in range(4)}
    assert len(keys) > 1        # content hash actually spreads


# --- round-5 torture test: super-subject + Zipf hosts through stage 3-4 -----

def _skewed_triples(spark, n=8000, super_frac=0.01):
    """Synthetic skewed corpus: ONE super-subject carries ~super_frac of
    all triples, ONE hot predicate (rdf:type shape) carries ~50%, and
    table_url hosts follow a Zipf-ish distribution (host0000 ~ 1/3)."""
    n_super = int(n * super_frac)
    base = spark.range(n).withColumnRenamed("id", "i")
    subj = F.when(F.col("i") < n_super, F.lit("http://kg/super")) \
        .otherwise(F.concat(F.lit("http://kg/e"), F.col("i")))
    pred = F.when(F.col("i") % 2 == 0,
                  F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type")) \
        .otherwise(F.concat(F.lit("http://kg/p"), F.col("i") % 7))
    obj = F.concat(F.lit("v"), F.col("i"))
    # Zipf-ish host: rank h gets ~1/(h+1) share via the harmonic trick
    host = F.pmod(F.floor(F.lit(1.0) / (F.rand(seed=7) + 0.001)), F.lit(40))
    return base.select(
        subj.alias("subj"), pred.alias("pred"), obj.alias("obj"),
        F.lit(False).alias("obj_is_iri"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.concat(F.lit("https://host"),
                 F.lpad(host.cast("string"), 4, "0"),
                 F.lit(".example.org/p"), F.col("i")).alias("table_url"),
        F.lit(0).cast("long").alias("source_num"))


def test_super_subject_through_stage34_buckets_bounded(spark, tmp_path):
    """Torture (r4 verdict task 8): one super-subject (~1% of triples) and
    a hot predicate (~50%) must NOT concentrate in one store partition —
    with_buckets salts the pred bucket with the subject hash, so the
    manifest's recorded bucket_counts stay bounded, and stage 3
    (canonicalize) + stage 4 (materialize) complete deterministically."""
    from rdf_tabular_spark.sinks.graph_store import materialize
    from rdf_tabular_spark.web import canonicalize_subjects

    triples = _skewed_triples(spark).persist()
    n_in = triples.count()

    held = []
    rewritten, mapping = canonicalize_subjects(triples, releases=held)
    root = str(tmp_path / "store")
    # a fixed 64 buckets: the sized default puts this batch in one file
    manifest = materialize(rewritten, root, "torture-1", pred_buckets=64)
    for df in held:
        df.unpersist()
    triples.unpersist()

    counts = [int(v) for v in manifest["bucket_counts"].values()]
    assert manifest["n_triples"] == sum(counts) > 0
    # the hot predicate holds ~50% of rows; unsalted pred-hash bucketing
    # would put >= half the store in ONE bucket. Salted, the max bucket
    # must stay near the mean.
    mean = sum(counts) / manifest["pred_buckets"]
    assert max(counts) <= 3 * mean, manifest["bucket_counts"]
    assert max(counts) < 0.3 * sum(counts)


def test_super_subject_star_bgp_plan_and_result(spark):
    """Star BGP anchored on the super-subject: self-joins on subj are
    broadcast (no sort-merge straggler keyed on the hot subject, no
    cartesian), AQE skew-join stays enabled, and the binding count is the
    product of the star's property lists."""
    from rdf_tabular_spark.operators.bgp import bgp_match
    from tests.test_plans import plan_of

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    triples = _skewed_triples(spark).persist()
    out = bgp_match(triples, [
        ("?s", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "?t"),
        ("?s", "http://kg/p1", "?a"),
        ("?s", "http://kg/p3", "?b"),
    ])
    p = plan_of(out)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    # correctness on the hot key: the super-subject's bindings are the
    # cross product of its per-pattern matches
    rows = out.filter(F.col("s") == "http://kg/super")
    n_type = triples.filter(
        (F.col("subj") == "http://kg/super")
        & (F.col("pred") == "http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
    ).count()
    n_p1 = triples.filter((F.col("subj") == "http://kg/super")
                          & (F.col("pred") == "http://kg/p1")).count()
    n_p3 = triples.filter((F.col("subj") == "http://kg/super")
                          & (F.col("pred") == "http://kg/p3")).count()
    assert rows.count() == n_type * n_p1 * n_p3 > 0
    triples.unpersist()


def test_super_host_salted_partitions_bounded(spark):
    """Zipf hosts + a super-host through salted_repartition: runtime
    partition sizes stay near the mean even when one host dominates."""
    t = _skewed_triples(spark).select(
        F.regexp_extract("table_url", r"https://([^/]+)/", 1).alias("host"),
        "table_url").persist()
    n = t.count()
    n_parts = 8
    plain_sizes = partition_sizes(t.repartition(n_parts, F.col("host")))
    salted_sizes = partition_sizes(
        salted_repartition(t, "host", n_parts, spread_col="table_url"))
    assert sum(plain_sizes) == sum(salted_sizes) == n
    mean = n / n_parts
    # host0000 holds ~a third of rows -> plain keyed partitioning is
    # dominated; the salted layout must stay near-uniform
    assert max(plain_sizes) > 1.8 * mean
    assert max(salted_sizes) <= 1.3 * mean, (plain_sizes, salted_sizes)
    t.unpersist()
