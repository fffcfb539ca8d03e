"""Physical-plan audits: lock in the plan properties that matter at 100 TB
(predicate pushdown, column pruning, broadcast joins, shuffle-free narrow
stages). A regression here costs more at scale than any logic bug."""

import contextlib
import io
import re

from pyspark.sql import functions as F

from rdf_tabular_spark import queries as Q

SF = "/root/testdata/sf0.001"


def plan_of(df, mode="formatted"):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_join_order_revenue_broadcasts_and_pushes_filter(spark):
    p = plan_of(Q.queries()["join_order_revenue"](spark, SF))
    assert "BroadcastHashJoin" in p, "dim join must broadcast, not shuffle"
    assert "EqualTo(c_mktsegment,BUILDING)" in p, \
        "segment filter must reach the parquet scan (PushedFilters)"


def test_agg_pricing_summary_prunes_columns(spark):
    p = plan_of(Q.queries()["agg_pricing_summary"](spark, SF))
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_quantity", "l_extendedprice", "l_returnflag",
                    "l_linestatus"}, f"scan reads too much: {cols}"
    assert p.count("HashAggregate") >= 2, "partial (map-side) agg missing"


def test_pages_to_triples_is_shuffle_free(spark):
    """Stages 1+2 must stay narrow — one Arrow pass over the pages table;
    any Exchange here would shuffle the whole corpus at 10^12 docs."""
    from rdf_tabular_spark.sources.pages import DOC_PAGE_META, pages_from_documents
    from rdf_tabular_spark.web import pages_to_triples
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    triples = pages_to_triples(pages_from_documents(docs), minimal=True,
                               default_meta=DOC_PAGE_META)
    p = plan_of(triples)
    assert "Exchange" not in p, "pages->triples must not shuffle"


def test_filter_pushdown_reaches_scan(spark):
    df = (spark.read.parquet(f"{SF}/lineitem.parquet")
          .filter(F.col("l_quantity") > 45).select("l_orderkey"))
    p = plan_of(df)
    assert "GreaterThan(l_quantity,45" in p


def test_lsh_candidate_pairs_single_shuffle_of_bands(spark):
    """The band self-join is THE shuffle of the dedup path: the thin
    (id, band, band_hash) table is exchanged; signatures must not be."""
    from rdf_tabular_spark.operators.minhash import (lsh_candidate_pairs,
                                                     minhash_signatures)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = minhash_signatures(docs, "doc_id", "text", num_perm=16,
                              token_sep=" ")
    p = plan_of(lsh_candidate_pairs(sigs, num_bands=4))
    # the self-join keys are the thin band columns; no Exchange may carry
    # the 16-long sig arrays (at tiny SF AQE may broadcast one side — fine,
    # broadcast of the thin band table is also sig-free)
    assert "band_hash" in p
    for keys in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p):
        assert "sig" not in keys, f"sig arrays shuffled: {keys}"


def test_graph_store_read_predicate_prunes_buckets(spark, tmp_path):
    """The salted pred_bucket scheme confines one predicate to SALT of a
    64-bucket batch's partitions; read_predicate must turn that into
    PartitionFilters (scan 25% of the store) and still return exactly the
    pred's triples. The batch is written with 64 buckets explicitly: the
    sized default puts this small batch in one bucket."""
    from rdf_tabular_spark.sinks.graph_store import materialize, read_predicate
    from rdf_tabular_spark.sources.pages import DOC_PAGE_META, pages_from_documents
    from rdf_tabular_spark.web import pages_to_triples
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    triples = pages_to_triples(pages_from_documents(docs), minimal=True,
                               default_meta=DOC_PAGE_META)
    root = str(tmp_path / "store")
    materialize(triples, root, "b1", pred_buckets=64)
    pred = triples.select("pred").first()["pred"]
    df = read_predicate(spark, root, pred)
    p = plan_of(df)
    assert re.search(r"PartitionFilters: \[.*pred_bucket", p), \
        "pred_bucket pruning must reach the scan"
    assert "EqualTo(pred," in p, "pred equality must be pushed"
    from rdf_tabular_spark.sinks.graph_store import read_graph
    expected = read_graph(spark, root).filter(F.col("pred") == pred).count()
    assert df.count() == expected > 0


def test_combined_triples_is_shuffle_free(spark):
    """The fused stage 1+1b+2 kernel must stay narrow like the single-facet
    path — one Arrow pass, no Exchange (the separate microdata projection
    used to cost a distinct shuffle for type triples)."""
    from rdf_tabular_spark.sources.pages import DOC_PAGE_META, pages_from_documents
    from rdf_tabular_spark.web import pages_to_combined_triples
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    triples = pages_to_combined_triples(pages_from_documents(docs),
                                        minimal=True,
                                        default_meta=DOC_PAGE_META)
    p = plan_of(triples)
    assert "Exchange" not in p, "fused pages->triples must not shuffle"


def test_read_subject_pushes_filters(spark, tmp_path):
    """Subject point-lookup: both the subj_bucket equality (row-group
    stats pruning) and the subj equality must reach the parquet scan."""
    import pyspark.sql.functions as SF
    from rdf_tabular_spark.sinks.graph_store import materialize, read_subject
    triples = (spark.range(200).select(
        SF.concat(SF.lit("http://s/"), SF.col("id")).alias("subj"),
        SF.lit("http://p/x").alias("pred"),
        SF.col("id").cast("string").alias("obj"),
        SF.lit(False).alias("obj_is_iri"),
        SF.lit(None).cast("string").alias("obj_datatype"),
        SF.lit(None).cast("string").alias("obj_lang"),
        SF.lit("http://t").alias("table_url"),
        SF.lit(1).cast("long").alias("source_num")))
    root = str(tmp_path / "store")
    materialize(triples, root, "b1")
    got = read_subject(spark, root, "http://s/7")
    p = plan_of(got)
    assert "PushedFilters" in p and "subj_bucket" in p and \
        "EqualTo(subj,http://s/7)" in p, p[-2000:]
    rows = got.collect()
    assert len(rows) == 1 and rows[0]["obj"] == "7"


def test_bgp_constant_filters_push_to_scan(spark, tmp_path):
    """A BGP pattern's constant predicate must reach the parquet scan as a
    pushed filter — at 10^12 triples a pattern scan that reads the full
    graph is wrong."""
    from rdf_tabular_spark.operators.bgp import bgp_match
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [("s", "type", "Person"), ("s", "name", "ada")],
        "subj string, pred string, obj string").write.parquet(path)
    t = spark.read.parquet(path)
    p = plan_of(bgp_match(t, [("?x", "type", "Person"), ("?x", "name", "?n")]))
    assert "EqualTo(pred,type)" in p, "constant pred must push down"
    assert "EqualTo(pred,name)" in p
    assert "EqualTo(obj,Person)" in p, "constant obj must push down"


def test_bgp_broadcast_pattern_avoids_shuffle_join(spark):
    from rdf_tabular_spark.operators.bgp import bgp_match
    t = spark.createDataFrame([("a", "mentions", "e"), ("e", "label", "l")],
                              "subj string, pred string, obj string")
    p = plan_of(bgp_match(t, [("?d", "mentions", "?e"),
                              ("?e", "label", "?n")],
                          broadcast_patterns=[1]))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_bgp_filter_pushes_into_pattern_scan(spark, tmp_path):
    """A FILTER equality on a bound variable must reach the parquet scan of
    the pattern that binds it — the filter is declared post-join but
    Catalyst pushes it below; at 10^12 triples this is the difference
    between scanning one language and scanning the graph."""
    from rdf_tabular_spark.operators.bgp import bgp_match
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [("s", "inLanguage", "en"), ("s", "name", "x")],
        "subj string, pred string, obj string").write.parquet(path)
    t = spark.read.parquet(path)
    p = plan_of(bgp_match(t, [("?i", "name", "?n"),
                              ("?i", "inLanguage", "?lang")],
                          filters=["lang = 'en'"]))
    assert "EqualTo(obj,en)" in p, "FILTER must push into the scan"


def test_bgp_match_store_prunes_per_pattern(spark, tmp_path):
    """BGP over the graph store: every constant-predicate pattern leg must
    scan through read_predicate's pred_bucket PartitionFilters, and the
    result must equal the unpruned bgp_match over the full store read."""
    from rdf_tabular_spark.operators.bgp import bgp_match
    from rdf_tabular_spark.sinks.graph_store import (bgp_match_store,
                                                     materialize, read_graph)
    from rdf_tabular_spark.sources.pages import pages_from_documents
    from rdf_tabular_spark.web import microdata_to_triples
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    triples = microdata_to_triples(pages_from_documents(docs))
    root = str(tmp_path / "store")
    materialize(triples, root, "b1")
    pats = [("?d", "http://schema.org/name", "?name"),
            ("?d", "http://schema.org/inLanguage", "?lang")]
    df = bgp_match_store(spark, root, pats)
    p = plan_of(df)
    assert len(re.findall(r"PartitionFilters: \[.*pred_bucket", p)) == 2, \
        "both pattern legs must carry pred_bucket pruning"
    expected = sorted(map(tuple, bgp_match(
        read_graph(spark, root).select("subj", "pred", "obj"),
        pats).collect()))
    assert sorted(map(tuple, df.collect())) == expected
    assert len(expected) == 50


def test_derive_batch_rule_materialization(spark, tmp_path):
    """CONSTRUCT → store round trip: the derived batch commits with rule
    lineage, is idempotent, and its triples answer subsequent BGPs
    together with the extracted ones."""
    from rdf_tabular_spark.operators.bgp import ask
    from rdf_tabular_spark.sinks.graph_store import (derive_batch,
                                                     materialize,
                                                     read_graph)
    from rdf_tabular_spark.sources.pages import pages_from_documents
    from rdf_tabular_spark.web import microdata_to_triples
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(30)
    triples = microdata_to_triples(pages_from_documents(docs))
    root = str(tmp_path / "store")
    materialize(triples, root, "b1")

    NAME = "http://schema.org/name"
    m = derive_batch(
        spark, root,
        patterns=[("?s", NAME, "?n")],
        template=[("?s", "http://example.org/voc#label", "?n")],
        batch_id="rule1", rule_id="name-to-label")
    assert m["status"] == "committed" and m["n_triples"] == 30
    assert m["lineage"]["source"] == "rule"
    assert m["lineage"]["rule_id"] == "name-to-label"
    # idempotent resubmission
    m2 = derive_batch(spark, root, patterns=[("?s", NAME, "?n")],
                      template=[("?s", "http://example.org/voc#label", "?n")],
                      batch_id="rule1")
    assert m2["n_triples"] == 30
    # derived triples live in the same graph and answer queries
    g = read_graph(spark, root).select("subj", "pred", "obj")
    assert g.count() == triples.count() + 30
    assert ask(g, [("?s", "http://example.org/voc#label", "?n"),
                   ("?s", NAME, "?n")])
    # statistics-driven planning end-to-end: counts include the rule batch
    # and feed the join order without changing results
    from rdf_tabular_spark.sinks.graph_store import (bgp_match_store,
                                                     predicate_counts)
    pc = predicate_counts(spark, root)
    assert pc["http://example.org/voc#label"] == 30
    pats = [("?s", NAME, "?n"),
            ("?s", "http://example.org/voc#label", "?n")]
    with_stats = sorted(map(tuple, bgp_match_store(
        spark, root, pats, pred_counts=pc).collect()))
    without = sorted(map(tuple, bgp_match_store(spark, root, pats).collect()))
    assert with_stats == without and len(with_stats) == 30


def test_bucketed_star_bgp_no_exchange(spark, tmp_path):
    """Star BGP over the subject-bucketed table tier must plan with ZERO
    Exchange operators — both pattern legs read pre-partitioned and
    pre-sorted on the shared subject variable. This validates the
    co-location claim the BGP module's scale notes make."""
    from rdf_tabular_spark.operators.bgp import bgp_match
    from rdf_tabular_spark.sinks.graph_store import write_bucketed_table
    from rdf_tabular_spark.sources.pages import pages_from_documents
    from rdf_tabular_spark.web import microdata_to_triples
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    triples = microdata_to_triples(pages_from_documents(docs))
    write_bucketed_table(triples, "t_bgp_bucketed", n_buckets=8)
    try:
        b = spark.table("t_bgp_bucketed")
        pats = [("?s", "http://schema.org/name", "?n"),
                ("?s", "http://schema.org/inLanguage", "?l")]
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            q = bgp_match(b, pats)
            p = plan_of(q)
            assert "Exchange" not in p, "bucketed star BGP must not shuffle"
            assert q.count() == 40
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        # parity with the unbucketed path
        plain = sorted(map(tuple, bgp_match(
            triples.select("subj", "pred", "obj"), pats).collect()))
        assert sorted(map(tuple, bgp_match(b, pats).collect())) == plain
    finally:
        spark.sql("drop table if exists t_bgp_bucketed")


def test_bgp_match_store_quads_bind_source_document(spark, tmp_path):
    """GRAPH quads over the store: the graph position binds table_url (the
    extracting page), constant-pred legs STILL prune, and within-document
    joins behave like the ad-hoc quad relation."""
    from pyspark.sql import functions as F
    from rdf_tabular_spark.operators.bgp import bgp_match
    from rdf_tabular_spark.sinks.graph_store import (bgp_match_store,
                                                     materialize, read_graph)
    from rdf_tabular_spark.sources.pages import pages_from_documents
    from rdf_tabular_spark.web import microdata_to_triples
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    triples = microdata_to_triples(pages_from_documents(docs))
    root = str(tmp_path / "store")
    materialize(triples, root, "b1")
    pats = [("?g", "?d", "http://schema.org/name", "?name"),
            ("?g", "?d", "http://schema.org/inLanguage", "?lang")]
    df = bgp_match_store(spark, root, pats)
    p = plan_of(df)
    assert len(re.findall(r"PartitionFilters: \[.*pred_bucket", p)) == 2, \
        "quad legs must keep pred_bucket pruning"
    rows = df.collect()
    assert len(rows) == 40
    assert all(r.g.startswith("http://") for r in rows)
    expected = sorted(map(tuple, bgp_match(
        read_graph(spark, root).withColumn("graph", F.col("table_url"))
        .select("graph", "subj", "pred", "obj"), pats).collect()))
    assert sorted(map(tuple, rows)) == expected


def test_bgp_subselect_broadcasts_inner(spark):
    """The subquery's one-row-per-group aggregate must broadcast onto the
    outer bindings — shuffling the outer binding stream on the group key
    would add a corpus-sized exchange at 10^12 triples."""
    p = plan_of(Q.queries()["kg_bgp_subselect"](spark, SF))
    assert "BroadcastHashJoin" in p
    # the outer->inner join itself must not introduce a hash-partition
    # exchange on the group key (lang)
    assert not re.search(r"Exchange hashpartitioning\(lang", p), \
        "subselect join shuffled the outer bindings"


def test_sameas_rewrite_broadcasts_mapping(spark):
    """The sameAs canonical map covers only terms in sameAs statements —
    a sliver of the graph — so both rewrite joins must broadcast; an
    Exchange of the triple stream on subj/obj would shuffle the corpus."""
    p = plan_of(Q.queries()["kg_sameas_canonical"](spark, SF))
    assert p.count("BroadcastHashJoin") >= 2
    assert not re.search(r"Exchange hashpartitioning\((subj|obj)", p), \
        "sameas rewrite shuffled the triple stream"


def test_retraction_read_broadcasts_delete_set(spark, tmp_path):
    """Retraction subtraction must reach the plan as a broadcast anti-join
    of the edit-sized delete set — never a shuffle of the data stream."""
    from pyspark.sql import functions as F

    from rdf_tabular_spark.sinks.graph_store import (materialize,
                                                     read_graph,
                                                     retract_batch)
    root = str(tmp_path / "g")
    rows = [(f"s{i}", "p", f"o{i}") for i in range(200)]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string") \
        .select("subj", "pred", "obj", F.lit(True).alias("obj_is_iri"),
                F.lit(None).cast("string").alias("obj_datatype"),
                F.lit(None).cast("string").alias("obj_lang"),
                F.lit("t").alias("table_url"),
                F.lit(0).cast("long").alias("source_num"))
    materialize(df, root, "b1")
    retract_batch(spark, root, "r1", spark.createDataFrame(
        [("s1", "p", "o1")], "subj string, pred string, obj string"))
    p = plan_of(read_graph(spark, root))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert not re.search(r"Exchange hashpartitioning\(subj", p), \
        "retraction read shuffled the data stream"


def test_every_python_kernel_site_ships_the_package():
    """Structural lint: every mapInPandas / mapInArrow / applyInPandas
    launch site in the package must be preceded (within the same file,
    ≤ 60 lines above) by a self-ship call — ensure_package_on_executors
    or session.shipped — or executors running from spark-submit without
    the repo on sys.path fail to import the kernel's closures. This
    pins the bug class instead of each instance (several kernel sites
    shipped without it before the guard existed)."""
    import pathlib
    pkg = pathlib.Path(__file__).resolve().parents[1] / "rdf_tabular_spark"
    launch = re.compile(r"\.(mapInPandas|mapInArrow|applyInPandas)\(")
    ship = re.compile(r"ensure_package_on_executors|shipped\(")
    missing = []
    sites = set()  # (file, enclosing function) of every launch site
    for path in sorted(pkg.rglob("*.py")):
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            if not launch.search(line):
                continue
            # the enclosing function: the nearest def indented less than
            # the launch line (a nested kernel def is not it)
            indent = len(line) - len(line.lstrip())
            defs = [re.match(r"(\s*)def (\w+)", x) for x in lines[i::-1]]
            sites.add((path.name, next(d.group(2) for d in defs
                                       if d and len(d.group(1)) < indent)))
            window = "\n".join(lines[max(0, i - 60):i + 1])
            if not ship.search(window):
                missing.append(f"{path.name}:{i + 1}")
    assert not missing, f"kernel sites without a self-ship call: {missing}"
    # the CSV line path's kernel sites are among those checked
    assert {("triples.py", "lines_to_triples"),
            ("triples.py", "rows_to_triples"),
            ("csv_source.py", "read_lines"),
            ("csv_source.py", "read_rows")} <= sites
    # every pages → rows stage runs through the one page kernel: the only
    # other launch sites of the page modules map triples or N-Triples lines
    page_modules = {"web.py", "html_extract.py", "ingest.py"}
    assert {x for x in sites if x[0] in page_modules} == {
        ("html_extract.py", "map_pages"),
        ("web.py", "link_entities"),
        ("ingest.py", "stream_ntriples_to_store")}


def test_csvw_to_triples_one_python_kernel_on_every_slot(spark, tmp_path):
    """CSV → triples numbers the lines in the JVM (no pickled zipWithIndex
    pass, so no PythonRDD), parses and maps each row in ONE Python map node,
    and spreads a one-split file over every task slot."""
    import json
    from rdf_tabular_spark.pipeline import csvw_to_triples
    csv = tmp_path / "t.csv"
    csv.write_text("id,v\n" + "".join(f"{i},x{i}\n" for i in range(400)))
    (tmp_path / "t.csv-metadata.json").write_text(json.dumps({
        "@context": "http://www.w3.org/ns/csvw", "url": "t.csv",
        "tableSchema": {"columns": [{"name": "id", "titles": "id"},
                                    {"name": "v", "titles": "v"}],
                        "aboutUrl": "#r{id}"}}))
    assert spark.read.text(str(csv)).rdd.getNumPartitions() == 1
    triples = csvw_to_triples(spark, str(csv))
    plan = plan_of(triples, "simple")
    python_nodes = re.findall(
        r"MapInPandas|MapInArrow|EvalPython|InPandas|PythonUDTF", plan)
    assert python_nodes == ["MapInPandas"], plan
    lineage = triples._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage
    slots = spark.sparkContext.defaultParallelism
    used = (triples.where(F.col("source_num") > 0)
            .select(F.spark_partition_id().alias("p")).distinct().count())
    assert used >= slots, f"row triples ran on {used} of {slots} slots"


def test_comention_pair_join_keys_on_doc(spark):
    """Co-mention pair generation must self-join on the DOC key (fan-out
    bounded per document) and the marginals must broadcast — a shuffle
    join on the entity key would move corpus-sized mention lists."""
    from rdf_tabular_spark.web import comention_pmi
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(comention_pmi(docs, ["spark", "customer", "vector"],
                              min_pairs=2))
    assert "BroadcastHashJoin" in p, "marginals must broadcast"
    key_lines = re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", p)
    doc_keyed = [k for k in key_lines if k.startswith("doc#")]
    assert doc_keyed, f"expected a doc-keyed self-join, got {key_lines}"
    # the mention-filter isin must evaluate before the distinct shuffle:
    # no Exchange may carry the raw text column
    for keys in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p):
        assert "text" not in keys, keys


def test_latest_snapshot_single_shuffle_partial_maxby(spark):
    """Recrawl dedup must be ONE keyed shuffle with map-side partial
    max_by — a row_number window (shuffle + sort, no combine) regresses
    at crawl scale."""
    from rdf_tabular_spark.operators.crawl import latest_snapshot
    from rdf_tabular_spark.sources.pages import pages_from_documents
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(latest_snapshot(pages_from_documents(docs)))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "partial_max_by" in p, "map-side combine missing"
    assert "Window" not in p


def test_pages_to_anchors_is_narrow(spark):
    """Anchor extraction is stage 1c: one Arrow pass, no shuffle."""
    from rdf_tabular_spark.sources.pages import pages_from_documents
    from rdf_tabular_spark.web import pages_to_anchors
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(pages_to_anchors(pages_from_documents(docs)))
    assert "Exchange" not in p


def test_sessionize_single_exchange(spark):
    """Sessionization: the (user, session) groupBy must reuse the lag
    window's user_id hash partitioning — exactly ONE Exchange; a second
    shuffle on (user, session) would double the clickstream's network cost."""
    p = plan_of(Q.queries()["events_sessionize"](spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1


def test_join_supplier_profit_broadcasts_all_dims(spark):
    """Q9 shape: three dim sides (part filtered, supplier, nation) all
    broadcast; the p_type prefix filter reaches the part scan; the only
    Exchange is the final (n_name, p_brand) groupBy."""
    p = plan_of(Q.queries()["join_supplier_profit"](spark, SF))
    assert p.count("BroadcastHashJoin") >= 3, "all dim joins must broadcast"
    assert "StringStartsWith(p_type,SMALL)" in p, \
        "brand-prefix filter must reach the part scan (PushedFilters)"
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, \
        "only the final groupBy may shuffle"


def n_exchanges(p):
    # formatted mode prints each node twice (tree + details); count the
    # details header, once per physical Exchange node
    return len(re.findall(r"\(\d+\) Exchange", p))


def test_fuse_majority_payload_free_shuffles(spark):
    """Fusion: exactly two keyed exchanges — the vote count (with map-side
    partial) and the per-attribute window — and no join or cartesian
    anywhere."""
    p = plan_of(Q.queries()["kg_fused_triples"](spark, SF))
    assert n_exchanges(p) == 2, "fusion must be two keyed shuffles"
    assert p.count("HashAggregate") >= 2, "vote count needs map-side partial"
    assert "Join" not in p and "CartesianProduct" not in p


def test_reify_statements_single_exchange(spark):
    """Reification: the distinct is the only exchange; the 4x explode is a
    narrow projection (Generate) after it."""
    from rdf_tabular_spark.operators.fusion import reify_statements
    from rdf_tabular_spark.sources.pages import DOC_PAGE_META, pages_from_documents
    from rdf_tabular_spark.web import pages_to_triples
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    t = pages_to_triples(pages_from_documents(docs), minimal=True,
                         default_meta=DOC_PAGE_META)
    p = plan_of(reify_statements(t))
    assert n_exchanges(p) == 1, "only the distinct may shuffle"
    assert "Generate" in p, "explode must stay narrow"


def test_hearst_single_vocab_shuffle(spark):
    """Hearst extraction: regexp work is all narrow; the only exchange keys
    on the extracted-pair vocabulary (the aggregate), and the scan reads
    only doc_id + text."""
    p = plan_of(Q.queries()["kg_hearst_pairs"](spark, SF))
    # 2 = pair-vocabulary agg + countDistinct's second phase — extraction
    # itself contributes none
    assert n_exchanges(p) == 2, "extraction itself must not shuffle"
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"doc_id", "text"}, f"scan reads too much: {cols}"


def test_web_pipeline_job_budget_one_page_pass(spark, tmp_path, count_jobs,
                                               monkeypatch):
    """A small crawl batch (stages 1-4 with entity linking and the global
    canonical map, as the benchmark runs them) stays within its Spark job
    budget, and the triples it canonicalizes come from ONE Python node over
    the page scan: linking runs inside the page pass, so there is no second
    Python runner, no union and no cached base triples."""
    from rdf_tabular_spark import web
    from rdf_tabular_spark.sources.pages import entity_dictionary, synth_pages
    path = str(tmp_path / "pages")
    synth_pages(spark, 120, seed=5, partitions=4).write.parquet(path)
    pages = spark.read.parquet(path)
    seen = []
    real = web.canonicalize_subjects

    def spy(triples, *args, **kwargs):
        seen.append(plan_of(triples, "simple"))
        return real(triples, *args, **kwargs)

    monkeypatch.setattr(web, "canonicalize_subjects", spy)
    with count_jobs() as jobs:
        m = web.web_pipeline(spark, pages, str(tmp_path / "store"), "b0",
                             entity_dict=entity_dictionary(),
                             incremental_canonical=True)
    assert m["n_triples"] > 0
    # 14: 7 for the canonicalization's edge collect (which also runs the
    # page pass), the mapping checkpoint, 2 to count the cached triples,
    # the canonical map write and 4 for the store write
    assert jobs.n <= 14, f"{jobs.n} Spark jobs for one small batch"
    python_nodes = re.findall(
        r"MapInPandas|MapInArrow|EvalPython|InPandas|PythonUDTF", seen[0])
    assert python_nodes == ["MapInPandas"], seen[0]
    assert not re.search(r"\bUnion\b|InMemoryRelation|InMemoryTableScan",
                         seen[0]), seen[0]
    # the Python node reads the page scan directly
    assert re.search(r"MapInPandas[^\n]*\n(\s*\+- [^\n]*ColumnarToRow[^\n]*\n)?"
                     r"\s*\+- [^\n]*FileScan parquet", seen[0]), seen[0]


def test_point_reads_launch_no_job(spark, tmp_path, count_jobs):
    """read_subject and read_predicate fold the key's bucket hash into the
    filter as a constant: building either read runs no Spark job; only
    the caller's action does."""
    from rdf_tabular_spark.sinks.graph_store import (materialize,
                                                     read_predicate,
                                                     read_subject)
    triples = (spark.range(200).select(
        F.concat(F.lit("http://s/"), F.col("id")).alias("subj"),
        F.concat(F.lit("http://p/"), F.col("id") % 3).alias("pred"),
        F.col("id").cast("string").alias("obj"),
        F.lit(False).alias("obj_is_iri"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit("http://t").alias("table_url"),
        F.lit(1).cast("long").alias("source_num")))
    root = str(tmp_path / "store")
    materialize(triples, root, "b1", pred_buckets=32)
    with count_jobs() as jobs:
        subj = read_subject(spark, root, "http://s/7")
        pred = read_predicate(spark, root, "http://p/1")
    assert jobs.n == 0, f"{jobs.n} jobs before any action"
    assert [r["obj"] for r in subj.collect()] == ["7"]
    assert pred.count() == 67
